package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property tests mirroring the reference fuzz cases
  * (datafusion/core/tests/fuzz_cases/: sort/limit vs topk, window agg
  * equivalence, aggregate vs naive recomputation on random batches). */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Seeded property driver (no scalatestplus bridge in the offline
    * cache): run `body` over n deterministic samples of `gen`. */
  private def forAllSeeded[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    Seq.range(0, n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private val rowsGen: Gen[List[(Int, Int, Double)]] =
    Gen.listOfN(60, Gen.zip(Gen.choose(0, 5), Gen.choose(0, 1000),
      Gen.choose(-100.0, 100.0)))

  test("orderBy+limit == scala sort take (topk equivalence)") {
    import spark.implicits._
    forAllSeeded(rowsGen, 8) { rows =>
      locally {
        val df = rows.toDF("k", "id", "v")
        val topk = df.orderBy(col("v").desc, col("id"), col("k"))
          .limit(5).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toList
        val naive = rows.sortBy { case (k, id, v) => (-v, id, k) }.take(5)
        assert(topk == naive)
      }
    }
  }

  test("windowed running sum == scala scanLeft") {
    import spark.implicits._
    forAllSeeded(rowsGen, 8) { rows =>
      locally {
        val df = rows.toDF("k", "id", "v")
        val w = Window.partitionBy(col("k")).orderBy(col("id"), col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val got = df.withColumn("rs", sum(col("v")).over(w))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
          .groupBy(_._1).view.mapValues(_.sortBy(x => (x._2, x._3)).map(_._4).toList)
          .toMap
        val expected = rows.groupBy(_._1).view.mapValues { vs =>
          val sorted = vs.sortBy(x => (x._2, x._3)).map(_._3)
          sorted.scanLeft(0.0)(_ + _).drop(1)
        }.toMap
        got.foreach { case (k, gs) =>
          gs.zip(expected(k)).foreach { case (g, e) =>
            assert(math.abs(g - e) < 1e-9, s"key $k")
          }
        }
      }
    }
  }

  test("groupBy aggregate == scala groupBy recomputation") {
    import spark.implicits._
    forAllSeeded(rowsGen, 8) { rows =>
      locally {
        val df = rows.toDF("k", "id", "v")
        val got = df.groupBy(col("k"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
            min(col("id")).as("mn"), max(col("id")).as("mx"))
          .collect()
          .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
            r.getInt(3), r.getInt(4)))).toMap
        rows.groupBy(_._1).foreach { case (k, vs) =>
          val (n, s, mn, mx) = got(k)
          assert(n == vs.size)
          assert(math.abs(s - vs.map(_._3).sum) < 1e-9)
          assert(mn == vs.map(_._2).min && mx == vs.map(_._2).max)
        }
      }
    }
  }

  test("union/except/intersect multiset laws") {
    import spark.implicits._
    forAllSeeded(Gen.zip(rowsGen, rowsGen), 5) { case (a, b) =>
      val da = a.map(_._1).toDF("x")
      val db = b.map(_._1).toDF("x")
      // |A ∪all B| = |A| + |B|
      assert(da.unionAll(db).count() == a.size + b.size)
      // |A ∩all B| + |A \all B| = |A|
      val inter = da.intersectAll(db).count()
      val diff = da.exceptAll(db).count()
      assert(inter + diff == a.size)
    }
  }

  test("broadcast-hash == sort-merge join on random data (join fuzz)") {
    import spark.implicits._
    // mirrors fuzz_cases/join_fuzz.rs: same random inputs through two
    // physical strategies must agree, for inner/left/semi/anti
    forAllSeeded(Gen.zip(rowsGen, rowsGen), 5) { case (a, b) =>
      val left = a.toDF("k", "id", "v").repartition(5)
      val right = b.map(x => (x._1, x._2)).toDF("k", "rid").repartition(3)
      for (joinType <- Seq("inner", "left", "left_semi", "left_anti")) {
        val bhj = left.join(broadcast(right), Seq("k"), joinType)
        val smj = left.hint("merge").join(right.hint("merge"),
          Seq("k"), joinType)
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
            .sorted.toSeq
        assert(canon(bhj) == canon(smj), joinType)
      }
    }
  }

  test("sliding rows-frame window == naive per-row slice (window fuzz)") {
    import spark.implicits._
    // mirrors fuzz_cases/window_fuzz.rs: frame-decomposed execution must
    // equal the naive recomputation of each row's frame
    forAllSeeded(rowsGen, 6) { rows =>
      locally {
        val df = rows.toDF("k", "id", "v").repartition(7)
        val w = Window.partitionBy(col("k")).orderBy(col("id"), col("v"))
          .rowsBetween(-2, 1)
        val got = df
          .withColumn("s", sum(col("v")).over(w))
          .withColumn("m", min(col("v")).over(w))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)) ->
            ((r.getDouble(3), r.getDouble(4)))).toMap
        rows.groupBy(_._1).foreach { case (k, vs) =>
          val sorted = vs.map(x => (x._2, x._3)).sorted
          sorted.zipWithIndex.foreach { case ((id, v), i) =>
            val frame = sorted.slice(math.max(i - 2, 0), i + 2).map(_._2)
            val (s, m) = got((k, id, v))
            assert(math.abs(s - frame.sum) < 1e-9, s"sum k=$k id=$id")
            assert(m == frame.min, s"min k=$k id=$id")
          }
        }
      }
    }
  }

  test("as-of join fwd/bwd == naive computation on random data with ties") {
    import graft.operators.AsOfJoin
    import spark.implicits._
    // small ts range → many exact-ts ties; some keys one-sided
    val sideGen: Gen[List[(Int, Int, Long)]] =
      Gen.listOfN(40, Gen.zip(Gen.choose(0, 4), Gen.choose(0, 12),
        Gen.choose(0L, 1000L)))
    forAllSeeded(Gen.zip(sideGen, sideGen), 6) { case (l, r) =>
      val left = l.zipWithIndex
        .map { case ((k, ts, _), i) => (k, ts, i.toLong) }
        .toDF("k", "ts", "lid").repartition(5)
      val right = r.zipWithIndex
        .map { case ((k, ts, p), i) => (k, ts, 10000L + i, p) }
        .toDF("k", "ts", "rid", "payload").repartition(3)
      val rTagged = r.zipWithIndex
        .map { case ((k, ts, p), i) => (k, ts, 10000L + i, p) }

      val bwd = AsOfJoin.backward(left, right, Seq("k"), "ts", "ts",
          Seq("rid" -> "rid", "payload" -> "p"))
        .collect().map(x => x.getLong(2) ->
          (if (x.isNullAt(3)) -1L else x.getLong(3))).toMap
      // naive: max (ts, payload-struct) among right rows with ts <= lts;
      // the payload struct is (rid, p) in declaration order and rid is
      // unique, so ties resolve on rid
      val expB = l.zipWithIndex.map { case ((k, lts, _), i) =>
        val cands = rTagged.filter(t => t._1 == k && t._2 <= lts)
        i.toLong -> (if (cands.isEmpty) -1L
          else cands.maxBy(t => (t._2, t._3))._3)
      }.toMap
      assert(bwd == expB)

      val fwd = AsOfJoin.forward(left, right, Seq("k"), "ts", "ts",
          Seq("rid" -> "rid", "payload" -> "p"))
        .collect().map(x => x.getLong(2) ->
          (if (x.isNullAt(3)) -1L else x.getLong(3))).toMap
      // forward picks the min (ts, payload-struct) among ts >= lts
      val expF = l.zipWithIndex.map { case ((k, lts, _), i) =>
        val cands = rTagged.filter(t => t._1 == k && t._2 >= lts)
        i.toLong -> (if (cands.isEmpty) -1L
          else cands.minBy(t => (t._2, t._3))._3)
      }.toMap
      assert(fwd == expF)
    }
  }

  test("GROUPS frame sum/count/min/max == dense_rank emulation (fuzz)") {
    import spark.implicits._
    import graft.functions.GraftWindowFunctions
    // random partitions, NULLABLE group keys and values, duplicate keys
    // guaranteed by the small domains; k drawn per sample
    val gen = Gen.zip(
      Gen.listOfN(50, Gen.zip(
        Gen.choose(0, 2),
        Gen.option(Gen.choose(0, 5)),
        Gen.option(Gen.choose(-50L, 50L)))),
      Gen.choose(0, 4))
    forAllSeeded(gen, 6) { case (rows, k) =>
      val df = rows.map { case (p, g, v) =>
        (p, g.map(_.toString).orNull,
          v.map(java.lang.Long.valueOf).orNull)
      }.toDF("part", "key", "v")
      val w = Window.partitionBy(col("part")).orderBy(col("key"))
      val wRank = Window.partitionBy(col("part"))
        .orderBy(col("key").asc_nulls_first)
      val wRange = Window.partitionBy(col("part")).orderBy(col("dr"))
        .rangeBetween(-k, Window.currentRow)
      def snap(df: org.apache.spark.sql.DataFrame) = df
        .orderBy(col("part"), col("key").asc_nulls_first,
          col("v").asc_nulls_first)
        .collect().map(r => (r.getInt(0), r.getString(1),
          (3 until 7).map(i => if (r.isNullAt(i)) null
            else r.getLong(i)).toList)).toSeq
      val native = snap(df.select(col("part"), col("key"), col("v"),
        GraftWindowFunctions.groupsSum(col("v"), col("key"), k)
          .over(w).as("s"),
        GraftWindowFunctions.groupsCount(col("key"), k).over(w).as("c"),
        GraftWindowFunctions.groupsMin(col("v"), col("key"), k)
          .over(w).as("mn"),
        GraftWindowFunctions.groupsMax(col("v"), col("key"), k)
          .over(w).as("mx")))
      val emulated = snap(df
        .withColumn("dr", dense_rank().over(wRank))
        .select(col("part"), col("key"), col("v"),
          sum(col("v")).over(wRange).as("s"),
          count(lit(1)).over(wRange).as("c"),
          min(col("v")).over(wRange).as("mn"),
          max(col("v")).over(wRange).as("mx")))
      assert(native == emulated, s"k=$k")
    }
  }

  test("GROUPS frame first/last == ROWS frame on unique keys (fuzz)") {
    import spark.implicits._
    import graft.functions.GraftWindowFunctions
    // with UNIQUE order keys every peer group is one row, so GROUPS k
    // PRECEDING ≡ ROWS k PRECEDING and Spark's own first_value/
    // last_value are the exact oracle (incl. respect-nulls semantics —
    // nullable STRING values exercise the type-generic ring)
    val gen = Gen.zip(
      Gen.listOfN(40, Gen.zip(Gen.choose(0, 2),
        Gen.option(Gen.alphaStr.map(_.take(4))))),
      Gen.choose(0, 4))
    forAllSeeded(gen, 6) { case (rows, k) =>
      val df = rows.zipWithIndex.map { case ((p, v), i) =>
        (p, i, v.orNull)
      }.toDF("part", "key", "v")
      val w = Window.partitionBy(col("part")).orderBy(col("key"))
      val wRows = w.rowsBetween(-k, Window.currentRow)
      def snap(df: org.apache.spark.sql.DataFrame) = df
        .orderBy(col("part"), col("key"))
        .collect().map(r => (r.getInt(0), r.getInt(1),
          r.getString(2), r.getString(3))).toSeq
      val native = snap(df.select(col("part"), col("key"),
        GraftWindowFunctions.groupsFirst(col("v"), col("key"), k)
          .over(w).as("f"),
        GraftWindowFunctions.groupsLast(col("v"), col("key"), k)
          .over(w).as("l")))
      val oracle = snap(df.select(col("part"), col("key"),
        first(col("v")).over(wRows).as("f"),
        last(col("v")).over(wRows).as("l")))
      assert(native == oracle, s"k=$k")
    }
  }

  test("unparser round-trips a generated plan-shape matrix") {
    import graft.plans.Unparser
    val sf = "/root/testdata/sf0.001"
    Engine.registerAll(spark, sf)
    val base = spark.table("orders")
    // every combination of optional layers over a base scan: filter,
    // aggregate, having, sort, limit — 24 shapes, each re-executed from
    // its generated SQL and compared as a multiset
    for {
      filtered <- Seq(true, false)
      agged <- Seq(true, false)
      having <- Seq(true, false) if !having || agged
      sorted <- Seq(true, false)
      limited <- Seq(true, false)
    } {
      var df = base.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
      if (filtered) df = df.filter(col("o_totalprice") > 100000)
      if (agged) df = df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("s"))
      if (having) df = df.filter(col("n") > 5)
      if (sorted) df = df.orderBy(df.columns.map(col).toSeq: _*)
      if (limited) df = df.limit(7)
      val sql = Unparser.toSql(df)
      val a = df.collect().map(_.toSeq).groupBy(identity)
        .view.mapValues(_.length).toMap
      val b = spark.sql(sql).collect().map(_.toSeq).groupBy(identity)
        .view.mapValues(_.length).toMap
      // limit without a total sort is nondeterministic — compare counts
      if (limited && !sorted) assert(a.values.sum == b.values.sum, sql)
      else assert(a == b, s"mismatch for:\n$sql")
    }
  }

  test("TopKAgg == unfused groupBy+sort+limit on random data w/ nulls+ties") {
    import spark.implicits._
    import TopKAggSpec.{collectFused, unfused}
    // few distinct groups + a narrow value range → heavy boundary ties;
    // ~1/8 of values null
    val gen: Gen[List[(Long, Option[Double])]] =
      Gen.listOfN(80, Gen.zip(Gen.choose(0L, 12L),
        Gen.frequency(
          1 -> Gen.const(Option.empty[Double]),
          7 -> Gen.choose(0, 6).map(v => Some(v.toDouble)))))
    val row = (r: org.apache.spark.sql.Row) => (r.getLong(0),
      if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    forAllSeeded(Gen.zip(gen, Gen.choose(1, 8)), 8) { case (rows, k) =>
      val df = rows.toDF("g", "v").repartition(7)
      // the reference is the same plan with the fusion rule excluded
      for ((api, agg, order) <- Seq(
          (graft.plans.TopKAgg.topKGroupsByMax _,
            (c: org.apache.spark.sql.Column) => max(c),
            col("m").desc_nulls_last),
          (graft.plans.TopKAgg.topKGroupsByMin _,
            (c: org.apache.spark.sql.Column) => min(c),
            col("m").asc_nulls_last))) {
        val (got, fused) = collectFused(api(df, Seq("g"), "v", k, "m"))(row)
        val (exp, refFused) = unfused(df.groupBy(col("g"))
          .agg(agg(col("v")).as("m")).orderBy(order, col("g")).limit(k))(row)
        assert(fused && !refFused, s"fused=$fused reference fused=$refFused")
        assert(got == exp, s"$order k=$k rows=$rows")
      }
    }
  }

  test("substring-dedup spans + cut == brute force on random tiny-vocab corpora") {
    import graft.pipeline.Dedup
    // a 4-word vocabulary forces dense window collisions — the worst
    // case for keeper selection and islands merging; window equality by
    // TEXT in the brute force vs by two-family hash in the operator
    val vocab = Vector("a", "b", "c", "dd")
    val docsGen = Gen.listOfN(10,
      Gen.choose(0, 14).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))))
    val p = 1000000007L
    def fp(ws: Seq[String]): Long =
      ws.foldLeft(0L)((acc, t) => (acc * 31 + t.codePoints().toArray
        .foldLeft(0L)((a, cp) => (a * 131 + cp) % p)) % p)
    forAllSeeded(Gen.zip(docsGen, Gen.choose(2, 4)), 6) { case (texts, w) =>
      val rows = texts.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      import spark.implicits._
      val df = rows.toDF("doc_id", "text")
      // brute force: duplicated window texts, global-min keeper, islands
      val occ = for {
        (id, ws) <- rows.map { case (id, t) =>
          (id, t.split("\\s+").filter(_.nonEmpty).toSeq) }
        i <- 0 to ws.length - w
      } yield (ws.slice(i, i + w).mkString(" "), (id, i.toLong))
      val dups = occ.groupBy(_._1).values.filter(_.size > 1)
        .flatMap(_.map(_._2).sorted.tail)
      val expSpans = dups.toSeq.groupBy(_._1).flatMap { case (id, ps) =>
        var res = List.empty[(Long, Long, Long, Long)]
        var start = -1L; var end = -1L; var n = 0L
        for (pos <- ps.map(_._2).sorted) {
          if (start < 0) { start = pos; end = pos + w; n = 1 }
          else if (pos <= end) { end = pos + w; n += 1 }
          else { res ::= ((id, start, end, n)); start = pos; end = pos + w; n = 1 }
        }
        if (start >= 0) res ::= ((id, start, end, n))
        res
      }.toSet
      val gotSpans = Dedup.duplicateSpans(df.toDF(), "doc_id", "text", w)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(gotSpans == expSpans, s"w=$w texts=$texts")
      // cut: per-doc kept counts + portable fingerprint
      val spansByDoc = expSpans.groupBy(_._1)
      val expCut = rows.map { case (id, t) =>
        val ws = t.split("\\s+").filter(_.nonEmpty).toSeq
        val cover = spansByDoc.getOrElse(id, Set.empty)
          .flatMap { case (_, s, e, _) => s until e }
        val kept = ws.zipWithIndex.collect {
          case (tok, i) if !cover.contains(i.toLong) => tok }
        (id, (ws.size.toLong, kept.size.toLong, fp(kept)))
      }.toMap
      val gotCut = Dedup.cutDuplicateSpans(df.toDF(), "doc_id", "text", w)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(gotCut == expCut, s"w=$w texts=$texts")
    }
  }
}
