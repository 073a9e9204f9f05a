package graft

import graft.functions.{GraftWindowFunctions, GroupMinHash}
import graft.operators.AsOfJoin
import graft.pipeline.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.01"
  private lazy val spark = SparkTestSession.spark

  test("GROUPS frame function matches the dense_rank emulation on edges") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // edge battery: NULL keys (one peer group, sorts first), NULL values
    // (skipped by sum; all-null group still counts as a group), singleton
    // and multi-row peer groups, two partitions, k ∈ {0, 1, 3}
    val rows = Seq[(String, String, java.lang.Long)](
      ("p1", null, 10L), ("p1", null, null),
      ("p1", "a", 1L), ("p1", "a", 2L),
      ("p1", "b", null), ("p1", "c", 4L), ("p1", "c", 5L),
      ("p2", "a", 7L), ("p2", "b", null), ("p2", "b", null))
      .toDF("part", "key", "v")
    for (k <- Seq(0, 1, 3)) {
      val w = Window.partitionBy(col("part")).orderBy(col("key"))
      val wRank = Window.partitionBy(col("part"))
        .orderBy(col("key").asc_nulls_first)
      val wRange = Window.partitionBy(col("part")).orderBy(col("dr"))
        .rangeBetween(-k, Window.currentRow)
      val native = rows.select(col("part"), col("key"), col("v"),
          GraftWindowFunctions.groupsSum(col("v"), col("key"), k)
            .over(w).as("s"),
          GraftWindowFunctions.groupsCount(col("key"), k)
            .over(w).as("c"))
        .orderBy(col("part"), col("key").asc_nulls_first, col("v"))
        .collect().map(r => (r.getString(0), r.getString(1),
          if (r.isNullAt(3)) null else r.getLong(3),
          r.getLong(4))).toSeq
      val emulated = rows
        .withColumn("dr", dense_rank().over(wRank))
        .select(col("part"), col("key"), col("v"),
          sum(col("v")).over(wRange).as("s"),
          count(lit(1)).over(wRange).as("c"))
        .orderBy(col("part"), col("key").asc_nulls_first, col("v"))
        .collect().map(r => (r.getString(0), r.getString(1),
          if (r.isNullAt(3)) null else r.getLong(3),
          r.getLong(4))).toSeq
      assert(native == emulated, s"k=$k")
    }
  }

  test("GROUPS min/max match the dense_rank emulation on edges") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rows = Seq[(String, String, java.lang.Long)](
      ("p1", null, 10L), ("p1", null, null),
      ("p1", "a", 1L), ("p1", "a", 2L),
      ("p1", "b", null), ("p1", "c", 4L), ("p1", "c", 5L),
      ("p2", "a", 7L), ("p2", "b", null), ("p2", "b", null))
      .toDF("part", "key", "v")
    for (k <- Seq(0, 1, 3)) {
      val w = Window.partitionBy(col("part")).orderBy(col("key"))
      val wRank = Window.partitionBy(col("part"))
        .orderBy(col("key").asc_nulls_first)
      val wRange = Window.partitionBy(col("part")).orderBy(col("dr"))
        .rangeBetween(-k, Window.currentRow)
      def collectKeys(df: org.apache.spark.sql.DataFrame) = df
        .orderBy(col("part"), col("key").asc_nulls_first, col("v"))
        .collect().map(r => (r.getString(0), r.getString(1),
          if (r.isNullAt(3)) null else r.getLong(3),
          if (r.isNullAt(4)) null else r.getLong(4))).toSeq
      val native = collectKeys(rows.select(col("part"), col("key"), col("v"),
        GraftWindowFunctions.groupsMin(col("v"), col("key"), k)
          .over(w).as("mn"),
        GraftWindowFunctions.groupsMax(col("v"), col("key"), k)
          .over(w).as("mx")))
      val emulated = collectKeys(rows
        .withColumn("dr", dense_rank().over(wRank))
        .select(col("part"), col("key"), col("v"),
          min(col("v")).over(wRange).as("mn"),
          max(col("v")).over(wRange).as("mx")))
      assert(native == emulated, s"k=$k")
    }
  }

  test("two-sided GROUPS frame matches the dense_rank emulation on edges") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rows = Seq[(String, String, java.lang.Long)](
      ("p1", null, 10L), ("p1", null, null),
      ("p1", "a", 1L), ("p1", "a", 2L),
      ("p1", "b", null), ("p1", "c", 4L), ("p1", "c", 5L),
      ("p2", "a", 7L), ("p2", "b", null), ("p2", "b", null))
      .toDF("part", "key", "v")
    for ((a, b) <- Seq((0, 0), (1, 2), (0, 1), (3, 0), (2, 3))) {
      val wRank = Window.partitionBy(col("part"))
        .orderBy(col("key").asc_nulls_first)
      val wRange = Window.partitionBy(col("part")).orderBy(col("dr"))
        .rangeBetween(-a, b)
      val native = rows.select(col("part"), col("key"), col("v"),
          GraftWindowFunctions.groupsSumBetween(col("v"), col("key"),
            a, b, Seq(col("part")), col("key")).as("s"))
        .orderBy(col("part"), col("key").asc_nulls_first, col("v"))
        .collect().map(r => (r.getString(0), r.getString(1),
          if (r.isNullAt(3)) null else r.getLong(3))).toSeq
      val emulated = rows
        .withColumn("dr", dense_rank().over(wRank))
        .select(col("part"), col("key"), col("v"),
          sum(col("v")).over(wRange).as("s"))
        .orderBy(col("part"), col("key").asc_nulls_first, col("v"))
        .collect().map(r => (r.getString(0), r.getString(1),
          if (r.isNullAt(3)) null else r.getLong(3))).toSeq
      assert(native == emulated, s"a=$a b=$b")
    }
  }

  test("GROUPS frame function is usable from SQL via extensions") {
    // the injected builder path: the shared test session is built with
    // GraftExtensions, and injectFunction is the only way a graft_* name
    // reaches a session
    val out = spark.sql("""
      SELECT g, graft_groups_sum(v, g, 1)
               OVER (ORDER BY g) AS s
      FROM VALUES ('a', 1L), ('a', 2L), ('b', 10L), ('c', 100L) t(g, v)
      ORDER BY g, v""").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("a", 3L), ("a", 3L), ("b", 13L), ("c", 110L)))
  }

  test("as-of join matches the naive per-row max-prior computation") {
    import spark.implicits._
    val ev = Engine.table(spark, sf, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    // naive O(n^2): join all prior clicks, keep the latest per purchase
    val naive = p.join(c, col("user_id") === col("c_user") &&
        col("c_ts") <= col("ts"), "left")
      .groupBy(col("p_id"))
      .agg(max_by(col("c_id"), struct(col("c_ts"), col("c_id"))).as("c_id"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val asof = AsOfJoin.backward(p, c.select(col("c_id").as("event_id"),
        col("c_user").as("user_id"), col("c_ts").as("ts")),
        Seq("user_id"), "ts", "ts", Seq("event_id" -> "c_id"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(asof == naive)
  }

  test("forward as-of join matches the naive per-row min-later computation") {
    val ev = Engine.table(spark, sf, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    // naive O(n^2): join all later clicks, keep the earliest per purchase
    val naive = p.join(c, col("user_id") === col("c_user") &&
        col("c_ts") >= col("ts"), "left")
      .groupBy(col("p_id"))
      .agg(min_by(col("c_id"), struct(col("c_ts"), col("c_id"))).as("c_id"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val asof = AsOfJoin.forward(p, c.select(col("c_id").as("event_id"),
        col("c_user").as("user_id"), col("c_ts").as("ts")),
        Seq("user_id"), "ts", "ts", Seq("event_id" -> "c_id"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(asof == naive)
  }

  test("codegen SimHash63 == interpreted HOF simhash, bit for bit") {
    val both = Engine.table(spark, sf, "documents")
      .select(col("doc_id"), Dedup.tokenHashes(col("text")).as("hs"))
      .select(col("doc_id"),
        graft.functions.Sketches.simhash63(col("hs")).as("fast"),
        Dedup.simhashFromHashes(col("hs")).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(both.count() == 0)
  }

  test("codegen Shingles == interpreted HOF shingles, element for element") {
    for (n <- Seq(1, 2, 3, 5)) {
      val diff = Engine.table(spark, sf, "documents")
        .select(col("doc_id"),
          Dedup.shingles(col("text"), n).as("fast"),
          KernelSpecs.shinglesHof(col("text"), n).as("slow"))
        .filter(col("fast") =!= col("slow"))
      assert(diff.count() == 0, s"n=$n")
    }
    // edge shapes: empty string, multiple/trailing spaces, short text
    import spark.implicits._
    val edge = Seq("", " ", "a", "a b", "a  b ", "a b c d").toDF("text")
    val rows = edge.select(
      Dedup.shingles(col("text"), 3).as("fast"),
      KernelSpecs.shinglesHof(col("text"), 3).as("slow")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
    }
  }

  test("count-min sketch: estimate >= exact, partition-independent") {
    import graft.functions.CountMin
    val ev = Engine.table(spark, sf, "events")
    val exact = ev.groupBy(col("user_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def estimates(parts: Int): Map[Long, Long] = {
      val sk = ev.repartition(parts)
        .agg(CountMin.sketch(col("user_id"), depth = 4, width = 512).as("sk"))
      ev.select(col("user_id")).distinct().crossJoin(sk)
        .select(col("user_id"),
          CountMin.estimate(col("sk"), col("user_id")).as("est"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val est = estimates(7)
    // count-min never underestimates
    exact.foreach { case (k, n) =>
      assert(est(k) >= n, s"user $k: est ${est(k)} < exact $n")
    }
    // the e/width * N error bound is probabilistic (holds per key with
    // prob 1 - e^-depth): assert the violation RATE, not every key
    val n = exact.values.sum
    val bound = math.ceil(math.E / 512 * n).toLong
    val violations = est.count { case (k, e) => e - exact(k) > bound }
    assert(violations <= math.max(3, exact.size / 20),
      s"$violations of ${exact.size} keys exceed the CM error bound")
    // merge order/partitioning must not change a single estimate
    assert(estimates(2) == est)
  }

  test("graft_ngrams generator == posexplode of the scalar shingles") {
    Engine.registerAll(spark, sf)
    val viaUdtf = spark.sql("""
      SELECT doc_id, pos, shingle FROM documents
      LATERAL VIEW graft_ngrams(text, 3) t AS pos, shingle""")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val viaScalar = spark.sql("""
      SELECT doc_id, pos, shingle FROM documents
      LATERAL VIEW posexplode(graft_shingles(text, 3)) t AS pos, shingle""")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(viaUdtf == viaScalar)
    assert(viaUdtf.nonEmpty)
  }

  test("codegen langId/rolling fingerprints == interpreted HOF specs") {
    import graft.pipeline.TextAnalysis
    val docs5 = Engine.table(spark, sf, "documents")
    val diff = docs5.select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("fast"),
        KernelSpecs.langIdHof(col("text")).as("slow"),
        TextAnalysis.fingerprintRolling(col("text")).as("fpFast"),
        TextAnalysis.fingerprintRollingHof(col("text")).as("fpSlow"),
        TextAnalysis.fingerprintPortable(col("text")).as("ppFast"),
        KernelSpecs.fingerprintPortableHof(col("text")).as("ppSlow"))
      .filter(col("fast") =!= col("slow") ||
        col("fpFast") =!= col("fpSlow") || col("ppFast") =!= col("ppSlow"))
    assert(diff.count() == 0)
    // edge shapes: empty, whitespace-only, mixed-script text
    import spark.implicits._
    // the emoji entries are astral-plane (surrogate pairs): the HOF spec
    // must iterate CODEPOINTS like the kernel's codePointAt loop, not
    // UTF-16 units (r7 ADVICE — split+ascii yielded lone surrogates)
    val edge = Seq("", "   ", "the der el 的", "a  b", " leading trailing ",
      "emoji 😀🔥 mix", "🍕")
      .toDF("text")
    val rows = edge.select(
      TextAnalysis.langId(col("text")).as("f"),
      KernelSpecs.langIdHof(col("text")).as("s"),
      TextAnalysis.fingerprintPortable(col("text")).as("pf"),
      KernelSpecs.fingerprintPortableHof(col("text")).as("ps")).collect()
    rows.foreach { r =>
      assert(r.getStruct(0) == r.getStruct(1), r.toString)
      assert(r.getLong(2) == r.getLong(3), r.toString)
    }
  }

  test("group minhash aggregate == per-position min over row signatures") {
    val k = 16
    val sigs = Engine.table(spark, sf, "documents")
      .select(col("source"),
        Dedup.minhashSignature(Dedup.shingles(col("text"), 3), k).as("sig"))
    val viaAgg = sigs.groupBy(col("source"))
      .agg(GroupMinHash.groupSignature(col("sig"), k).as("gs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val viaExplode = sigs
      .select(col("source"), posexplode(col("sig")).as(Seq("pos", "v")))
      .groupBy(col("source"), col("pos"))
      .agg(min(col("v")).as("mv"))
      .collect().groupBy(_.getString(0))
      .map { case (src, rows) =>
        src -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    assert(viaAgg == viaExplode)
  }

  test("codegen CosineSim == interpreted HOF cosine, bit for bit") {
    import graft.pipeline.Similarity
    val e = Engine.table(spark, sf, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val pairs = e.select(col("vec_id").as("ida"), col("v").as("va"))
      .crossJoin(e.select(col("vec_id").as("idb"), col("v").as("vb"))
        .filter(col("idb") < 40))
      .filter(col("ida") < 40 && col("ida") < col("idb"))
    val diff = pairs.select(
        Similarity.cosine(col("va"), col("vb")).as("fast"),
        KernelSpecs.cosineHof(col("va"), col("vb")).as("slow"))
      .filter(col("fast") =!= col("slow") ||
        col("fast").isNull =!= col("slow").isNull)
    assert(diff.count() == 0)
    // null semantics: a null element and a length mismatch both give null
    import spark.implicits._
    val weird = Seq(
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),
      (Seq[java.lang.Double](1.0), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("a", "b")
    val w = weird.select(
      Similarity.cosine(col("a"), col("b")).as("fast"),
      KernelSpecs.cosineHof(col("a"), col("b")).as("slow")).collect()
    w.foreach { r => assert(r.isNullAt(0) && r.isNullAt(1)) }
  }

  test("codegen HyperplaneSignature == interpreted HOF lshSignature") {
    import graft.pipeline.Similarity
    val diff = Engine.table(spark, sf, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .select(col("vec_id"),
        graft.functions.Sketches.hyperplaneSignature(col("v"),
          typedlit(Similarity.planeMatrix(7, 16, 64))).as("fast"),
        KernelSpecs.lshSignature(col("v"), 16, salt = 7).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() == 0)
  }

  test("codegen MinHash64 == interpreted HOF minhash, bit for bit") {
    val k = 32
    val both = Engine.table(spark, sf, "documents")
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .select(col("doc_id"),
        Dedup.minhashSignature(col("sh"), k).as("fast"),
        KernelSpecs.minhashSignatureHof(col("sh"), k).as("ref"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"doc ${r.getLong(0)}")
    }
  }

  test("fixpointAll == fixpoint on acyclic recursion, any batch size") {
    import graft.plans.RecursiveCte
    import spark.implicits._
    val init = spark.range(1, 2).toDF("n")
    def step(f: org.apache.spark.sql.DataFrame) =
      f.filter(col("n") < 23).select((col("n") + 1).as("n"))
    val exp = (1L to 23L).toSeq
    // batch sizes that divide, straddle, and exceed the 22-step depth
    for (b <- Seq(1, 4, 8, 64)) {
      val got = RecursiveCte.fixpointAll(init, step, maxIter = 100, batch = b)
        .orderBy(col("n")).collect().map(_.getLong(0)).toSeq
      assert(got == exp, s"batch=$b")
    }
    val viaDistinct = RecursiveCte.fixpoint(init, step)
      .orderBy(col("n")).collect().map(_.getLong(0)).toSeq
    assert(viaDistinct == exp)
  }

  test("fixpoint checkpoints release superseded blocks (no storage leak)") {
    import graft.plans.RecursiveCte
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    val init = spark.range(0, 4, 1, 2).toDF("n")
    def stepFn(f: org.apache.spark.sql.DataFrame) =
      f.filter(col("n") < 200).select((col("n") + 1).as("n"))
    val all = RecursiveCte.fixpointAll(init, stepFn, maxIter = 100, batch = 4)
    assert(all.count() == 4 * 101)
    val mid = spark.sparkContext.getPersistentRDDs.size
    // without release: ~25 newRows + 3 re-checkpoints + 25 frontiers;
    // with release: only the pieces behind the final acc remain
    assert(mid - before <= 12, s"fixpointAll leaked: $before -> $mid")
    val dis = RecursiveCte.fixpoint(
      spark.range(0, 1, 1, 1).toDF("n"), stepFn, maxIter = 50)
    assert(dis.count() == 51)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - mid <= 12, s"fixpoint leaked: $mid -> $after")
  }

  test("fixpointAll keeps duplicate rows (UNION ALL) and respects maxIter") {
    import graft.plans.RecursiveCte
    import spark.implicits._
    // step maps every row to a constant → duplicates must accumulate
    val init = Seq(0L, 0L).toDF("n")
    val got = RecursiveCte.fixpointAll(init,
        f => f.select(lit(0L).as("n")), maxIter = 5, batch = 2)
      .collect()
    // 2 initial + 5 iterations × 2 rows
    assert(got.length == 12)
    assert(got.forall(_.getLong(0) == 0L))
  }

  test("Ewma UDWF == driver-side fold, bit for bit, nulls carried") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rows = Seq((1L, 1, Some(10.0)), (1L, 2, None), (1L, 3, Some(4.0)),
      (1L, 4, Some(7.5)), (2L, 1, Some(-3.0)), (2L, 2, Some(0.0)),
      (3L, 1, None), (3L, 2, Some(2.25)))
    val df = rows.toDF("k", "i", "x")
    val w = Window.partitionBy(col("k")).orderBy(col("i"))
    val got = df.select(col("k"), col("i"),
        graft.functions.GraftWindowFunctions.ewma(col("x"), 0.3).over(w)
          .as("e"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val exp = rows.groupBy(_._1).flatMap { case (k, g) =>
      var e: Option[Double] = None
      g.sortBy(_._2).map { case (_, i, x) =>
        e = (e, x) match {
          case (None, vx) => vx
          case (prev, None) => prev
          case (Some(p), Some(vx)) => Some(0.3 * vx + (1.0 - 0.3) * p)
        }
        (k, i) -> e
      }
    }
    assert(got == exp)
  }

  test("hashSplit: disjoint-exhaustive, deterministic, near target mix") {
    import graft.operators.Sampling
    val docs = Engine.table(spark, sf, "documents")
    val split = Sampling.hashSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    // exhaustive: every row gets exactly one split label
    assert(total == docs.count())
    assert(counts.keySet == Set("train", "val", "test"))
    // fractions within sampling noise of the target (md5 is uniform;
    // 3σ of a binomial at n≈6000, p=0.1 is ~±0.012)
    assert(math.abs(counts("train").toDouble / total - 0.8) < 0.03)
    assert(math.abs(counts("val").toDouble / total - 0.1) < 0.03)
    // deterministic: re-running assigns every id the same split
    val again = Sampling.hashSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.select("doc_id", "split").exceptAll(
      again.select("doc_id", "split")).isEmpty)
    // anti-leakage: a filtered re-drop of the corpus keeps assignments
    val subset = Sampling.hashSplit(docs.filter(col("doc_id") % 7 === 0),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(subset.select("doc_id", "split").exceptAll(
      split.select("doc_id", "split")).isEmpty)
  }
}
