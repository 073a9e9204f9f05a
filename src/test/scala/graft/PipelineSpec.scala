package graft

import graft.pipeline.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall/sanity tests for the approximate pipeline operators against
  * their exact ground truths (the DuckDB gate can't check sketches). */
class PipelineSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.01"
  private lazy val spark = SparkTestSession.spark
  private lazy val docs = Engine.table(spark, sf, "documents")
  private lazy val emb = Engine.table(spark, sf, "embeddings")

  test("minhash LSH finds every exact near-dup pair (jaccard >= 0.9)") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain near-dups")
    val mh = Dedup.minhashPairs(docs, "doc_id", "text", 3, 64, 16, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact -- mh
    assert(missed.isEmpty, s"minhash missed exact pairs: $missed")
  }

  test("curation scale path (minhash pairs → cluster dedup) == exact path") {
    import graft.pipeline.{Clustering, TextAnalysis}
    // same first stage as pipe_curate_e2e: exact-fingerprint dedup
    val fp = docs.withColumn("fp", TextAnalysis.fingerprintMd5(col("text")))
    val keep = fp.join(
      fp.groupBy(col("fp").as("kfp")).agg(min(col("doc_id")).as("keep_id")),
      col("doc_id") === col("keep_id") && col("fp") === col("kfp"))
      .select(col("doc_id"), col("text"))
    // at jaccard >= 0.9 the 16x4 banding has ~100% recall (asserted
    // above) and minhashPairs verifies candidates with EXACT jaccard →
    // zero false positives: the quadratic pair-gen and the LSH path must
    // produce identical survivor sets
    val exactPairs = Dedup.ngramJaccardPairs(keep, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b")
    val lshPairs = Dedup.minhashPairs(keep, "doc_id", "text", 3, 64, 16, 0.9)
      .select("id_a", "id_b")
    val exactSurvivors = Clustering.dedupByPairs(keep, "doc_id", exactPairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val lshSurvivors = Clustering.dedupByPairs(keep, "doc_id", lshPairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exactSurvivors == lshSurvivors)
    assert(exactSurvivors.size < keep.count(), "dedup must drop something")
  }

  test("minhash est_jaccard tracks exact jaccard") {
    val rows = Dedup.minhashPairs(docs, "doc_id", "text", 3, 64, 16, 0.8)
      .select("est_jaccard", "jaccard").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.3,
        s"est ${r.getDouble(0)} vs exact ${r.getDouble(1)}")
    }
  }

  test("simhash pairs overlap the exact near-dup set") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // simhash(hamming<=3) is a different similarity notion than shingle
    // jaccard; require it to recover at least half the exact dups
    assert((exact & sh).size * 2 >= exact.size,
      s"simhash recovered ${(exact & sh).size} of ${exact.size}")
  }

  test("incremental dedup law: batch(A∪B) == incremental(A then B); " +
      "bloom prefilter is exact") {
    import org.apache.spark.sql.DataFrame
    def rep(df: DataFrame): Map[Long, (Long, Boolean, Option[Long])] =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    // A = lower-id half, B = upper-id half: store ids precede batch ids,
    // the precondition under which the store-OR-earlier rule equals the
    // global smaller-id rule (Dedup scaladoc)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val a = docs.filter(col("doc_id") < mid)
    val b = docs.filter(col("doc_id") >= mid)
    val empty = Dedup.emptySigStore(spark)
    val whole = rep(Dedup.incrementalDedupSimhash(
      empty, docs, "doc_id", "text", maxHamming = 1))
    val repA = Dedup.incrementalDedupSimhash(
      empty, a, "doc_id", "text", maxHamming = 1)
    // the store appends ALL batch signatures (kept AND dropped) — the
    // law's hinge: a B doc matching a dropped A doc is still a dup
    val storeA = repA.select(col("doc_id").as("id"), col("sig"))
    val repB = Dedup.incrementalDedupSimhash(
      storeA, b, "doc_id", "text", maxHamming = 1)
    val incr = rep(repA) ++ rep(repB)
    assert(incr == whole,
      s"incremental != batch on ${(incr.toSet diff whole.toSet).take(3)} / " +
        s"${(whole.toSet diff incr.toSet).take(3)}")
    assert(whole.values.exists(_._2), "corpus should contain near-dups")
    // bloom prefilter changes the shuffle bill, never the answer
    val store = Dedup.simhashStorePortable(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val on = rep(Dedup.incrementalDedupSimhash(
      store, batch, "doc_id", "text", maxHamming = 1, useBloom = true))
    val off = rep(Dedup.incrementalDedupSimhash(
      store, batch, "doc_id", "text", maxHamming = 1, useBloom = false))
    assert(on == off, "bloom-prefiltered report must be bit-identical")
    assert(on.values.exists(_._2), "batch should hit the history store")
  }

  test("portable MinHash kernel is bit-identical to its HOF spec") {
    val rows = docs.select(
        graft.functions.Sketches.portableMinhash(col("text"),
          Dedup.portableMinhashParams(16, 3)).as("k"),
        KernelSpecs.portableMinhashHof(col("text"), 16, 3).as("h"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"kernel ${r.getSeq[Long](0)} != HOF ${r.getSeq[Long](1)}")
    }
  }

  test("incremental MinHash dedup law: batch(A∪B) == incremental(A then " +
      "B); bloom prefilter is exact; store hits fire") {
    import org.apache.spark.sql.DataFrame
    def rep(df: DataFrame): Map[Long, (Seq[Long], Boolean, Option[Long])] =
      df.collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1), r.getBoolean(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val a = docs.filter(col("doc_id") < mid)
    val b = docs.filter(col("doc_id") >= mid)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sig",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = false)))))
    val whole = rep(Dedup.incrementalDedupMinhash(
      empty, docs, "doc_id", "text"))
    val repA = Dedup.incrementalDedupMinhash(empty, a, "doc_id", "text")
    // the store appends ALL batch signatures (kept AND dropped)
    val storeA = repA.select(col("doc_id").as("id"), col("sig"))
    val repB = Dedup.incrementalDedupMinhash(storeA, b, "doc_id", "text")
    val incr = rep(repA) ++ rep(repB)
    assert(incr == whole,
      s"minhash incremental != batch on " +
        s"${(incr.toSet diff whole.toSet).take(3)}")
    assert(whole.values.exists(_._2), "corpus should contain near-dups")
    // bloom prefilter changes the shuffle bill, never the answer
    val store = Dedup.minhashSigStore(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val on = rep(Dedup.incrementalDedupMinhash(
      store, batch, "doc_id", "text", useBloom = true))
    val off = rep(Dedup.incrementalDedupMinhash(
      store, batch, "doc_id", "text", useBloom = false))
    assert(on == off, "bloom-prefiltered report must be bit-identical")
    assert(on.values.exists(_._2), "batch should hit the history store")
    // semantic sanity vs exact ground truth: every planted exact
    // near-dup pair (jaccard >= 0.9) whose ids straddle the parity
    // split should be caught — est-Jaccard at >= 0.9 true similarity
    // clears minAgree = 8/16 by a wide margin and banding recall at
    // that level is ~1 (the minhashPairs recall spec's regime)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val crossOrLater = exact.filter { case (x, y) => y % 2 == 1 }
    assert(crossOrLater.nonEmpty)
    crossOrLater.foreach { case (keep, dup) =>
      assert(on(dup)._2, s"exact near-dup ($keep, $dup) not flagged")
    }
  }

  test("auto store router: narrow rule below the knee, wide rule past " +
      "it, stable wide report schema in both modes") {
    import org.apache.spark.sql.DataFrame
    def dec(df: DataFrame): Map[Long, (Boolean, Option[Long])] =
      df.select("doc_id", "is_dup", "dup_src").collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    val store = Dedup.simhashStorePortableWide(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val auto = Dedup.incrementalDedupSimhashAuto(
      store, batch, "doc_id", "text", maxHamming = 1)
    assert(auto.columns.toSeq ==
      Seq("doc_id", "sig0", "sig1", "is_dup", "dup_src"))
    // sf0.01's store is far below the 51200-signature knee → the
    // decision must be bit-identical to the narrow operator on sig0
    val narrow = Dedup.incrementalDedupSimhash(
      store.select(col("id"), col("sig0").as("sig")), batch,
      "doc_id", "text", maxHamming = 1)
    assert(dec(auto) == dec(narrow), "below the knee auto != narrow")
    // narrowMax = 0 forces the wide branch: 4×15-bit blocking, hamming
    // over both longs at the threshold-preserving 2·maxHamming
    val forced = Dedup.incrementalDedupSimhashAuto(
      store, batch, "doc_id", "text", maxHamming = 1, narrowMax = 0L)
    val wide = Dedup.incrementalDedupSimhashWide(
      store, batch, "doc_id", "text", maxHamming = 2)
    assert(dec(forced) == dec(wide), "past the knee auto != wide")
    // the two modes genuinely differ on this corpus (otherwise the
    // router assertions above would be vacuous)
    assert(dec(auto) != dec(forced),
      "expected narrow and wide decisions to differ somewhere")
  }

  test("incremental curation law: two snapshots through the store == " +
      "one batch over the union, all the way to the packed stream") {
    import graft.pipeline.{Decontamination, Packing}
    val all = docs.select(col("doc_id"), col("text"), col("n_chars"))
    // id-ordered snapshots (store ids precede batch ids — the law's
    // precondition, as in the dedup-level law test above)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val a = all.filter(col("doc_id") < mid)
    val b = all.filter(col("doc_id") >= mid)
    // the deterministic downstream: survivors → decontaminate → pack
    def tail(keepIds: org.apache.spark.sql.DataFrame)
        : Seq[(Long, Long, Long)] = {
      val survivors = all.join(keepIds, Seq("doc_id"))
      val clean = Decontamination.removeContaminated(
        survivors.filter(col("doc_id") % 17 =!= 0),
        all.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", "doc_id", "text", n = 3, minHits = 3)
      Packing.packTokenStream(clean.select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", budget = 4096)
        .select("doc_id", "tok_start", "tok_end").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(_._1)
    }
    // incremental: A vs empty store seeds it, then B vs A's signatures
    val repA = Dedup.incrementalDedupSimhash(
      Dedup.emptySigStore(spark), a, "doc_id", "text", maxHamming = 1)
    val repB = Dedup.incrementalDedupSimhash(
      repA.select(col("doc_id").as("id"), col("sig")), b,
      "doc_id", "text", maxHamming = 1)
    val incr = tail(repA.unionByName(repB)
      .filter(!col("is_dup")).select(col("doc_id")))
    // batch: the whole union deduped in one call
    val whole = tail(Dedup.incrementalDedupSimhash(
        Dedup.emptySigStore(spark), all, "doc_id", "text", maxHamming = 1)
      .filter(!col("is_dup")).select(col("doc_id")))
    assert(incr.nonEmpty && incr == whole,
      s"two-snapshot curation != one-batch curation: " +
        s"${(incr.toSet diff whole.toSet).take(3)} / " +
        s"${(whole.toSet diff incr.toSet).take(3)}")
  }

  test("incremental dedup WIDE variant: same law, 60-bit hamming") {
    import org.apache.spark.sql.DataFrame
    def rep(df: DataFrame): Map[Long, (Long, Long, Boolean, Option[Long])] =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val a = docs.filter(col("doc_id") < mid)
    val b = docs.filter(col("doc_id") >= mid)
    val empty = Dedup.emptySigStore(spark)
      .withColumnRenamed("sig", "sig0").withColumn("sig1", lit(0L))
      .filter(lit(false))
    val whole = rep(Dedup.incrementalDedupSimhashWide(
      empty, docs, "doc_id", "text", maxHamming = 2))
    val repA = Dedup.incrementalDedupSimhashWide(
      empty, a, "doc_id", "text", maxHamming = 2)
    val storeA = repA.select(col("doc_id").as("id"), col("sig0"), col("sig1"))
    val repB = Dedup.incrementalDedupSimhashWide(
      storeA, b, "doc_id", "text", maxHamming = 2)
    val incr = rep(repA) ++ rep(repB)
    assert(incr == whole,
      s"wide incremental != batch: ${(incr.toSet diff whole.toSet).take(3)}")
    // bloom identity on the parity split
    val store = Dedup.simhashStorePortableWide(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val on = rep(Dedup.incrementalDedupSimhashWide(
      store, batch, "doc_id", "text", maxHamming = 2, useBloom = true))
    val off = rep(Dedup.incrementalDedupSimhashWide(
      store, batch, "doc_id", "text", maxHamming = 2, useBloom = false))
    assert(on == off, "wide bloom-prefiltered report must be bit-identical")
    // wide hamming<=2 over 60 bits is STRICTER than narrow<=1 over 30
    // only in rate terms; semantics checked against brute force here
    val sigs = Dedup.simhashStorePortableWide(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    on.foreach { case (id, (s0, s1, isDup, src)) =>
      val brute = sigs.filter { case (o, (o0, o1)) =>
        (o % 2 == 0 || o < id) && o != id &&
          java.lang.Long.bitCount(s0 ^ o0) +
            java.lang.Long.bitCount(s1 ^ o1) <= 2
      }.keys
      assert(isDup == brute.nonEmpty &&
        src == (if (brute.isEmpty) None else Some(brute.min)),
        s"doc $id: got ($isDup, $src), brute ${brute.toSeq.sorted.take(3)}")
    }
  }

  test("LM distillation: multiclass hashed classifier learns the " +
      "perplexity bucket; weights match brute force bit-for-bit") {
    import graft.pipeline.{Classifier, TextAnalysis}
    val classes = Seq("head", "middle", "tail")
    // teacher: CCNet terciles over the odd half (LM trained on evens)
    val labeled = TextAnalysis.perplexityBuckets(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
    val trainDf = labeled.filter(col("doc_id") % 4 === 1)
    val evalDf = labeled.filter(col("doc_id") % 4 === 3)
    val (w, p) = Classifier.trainLogOddsMulti(
      trainDf, "text", "bucket", classes, d = 1024)
    // brute-force weight equality (same integer counts → same doubles)
    val rows = trainDf.select(col("bucket"),
        Classifier.buckets(col("text"), 1024)).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1))
    val bf = classes.map { c =>
      val n = new Array[Long](1024)
      rows.filter(_._1 == c).foreach(_._2.foreach(b => n(b) += 1))
      val tot = n.sum.toDouble
      c -> Array.tabulate(1024)(b => math.log((n(b) + 1.0) / (tot + 1024.0)))
    }.toMap
    classes.foreach { c =>
      assert(java.util.Arrays.equals(w(c), bf(c)),
        s"class $c weights differ from brute force")
    }
    val scored = Classifier.scoreMulti(
      evalDf, "doc_id", "text", classes, w, p)
    // determinism under repartitioning
    val scored2 = Classifier.scoreMulti(
      evalDf.repartition(7), "doc_id", "text", classes, w, p)
      .select(col("doc_id"), col("pred")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = scored.select(col("doc_id"), col("pred")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(scored2 == first)
  }

  test("LM distillation learns the bucket where the sample supports it " +
      "(sf0.1; measured curve pinned by DistillAb)") {
    // HONEST floor (the r12 label-finding discipline): MEASURED before
    // pinning — at sf0.01's 125 train docs the student reads chance
    // (0.32-0.34 vs majority 0.35 at every d in {256,1024,4096}); at
    // sf0.1's 1250 train docs it learns: 0.480 vs majority 0.341 at
    // d=1024 (0.488 at 4096). The law lives where it is measurable.
    import graft.pipeline.{Classifier, TextAnalysis}
    val classes = Seq("head", "middle", "tail")
    val docs01 = Engine.table(spark, "/root/testdata/sf0.1", "documents")
      .select(col("doc_id"), col("text"))
    val labeled = TextAnalysis.perplexityBuckets(
      docs01.filter(col("doc_id") % 2 === 0),
      docs01.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      .join(docs01, "doc_id")
      .select(col("doc_id"), col("text"), col("bucket"))
      .localCheckpoint()
    val trainDf = labeled.filter(col("doc_id") % 4 === 1)
    val evalDf = labeled.filter(col("doc_id") % 4 === 3)
    val (w, p) = Classifier.trainLogOddsMulti(
      trainDf, "text", "bucket", classes, d = 1024)
    val joined = Classifier.scoreMulti(
        evalDf, "doc_id", "text", classes, w, p)
      .join(evalDf.select(col("doc_id"), col("bucket")), "doc_id")
      .select(col("pred"), col("bucket")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val acc = joined.count(t => t._1 == t._2).toDouble / joined.length
    val majority = classes.map(c =>
      joined.count(_._2 == c)).max.toDouble / joined.length
    info(f"distill acc=$acc%.3f majority=$majority%.3f n=${joined.length}")
    assert(acc >= majority + 0.1,
      f"distilled classifier no better than majority: $acc%.3f vs " +
        f"$majority%.3f")
  }

  test("ccnet perplexity buckets: deterministic under repartitioning, " +
      "ordered by fluency, exact 3:2:1 mix") {
    import graft.pipeline.TextAnalysis
    val train = docs.filter(col("doc_id") % 2 === 0)
    val eval = docs.filter(col("doc_id") % 2 === 1)
    def run(ev: org.apache.spark.sql.DataFrame) =
      TextAnalysis.ccnetSample(train, ev, "doc_id", "text")
        .select("bucket", "doc_id", "xent").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val a = run(eval)
    val b = run(eval.repartition(7, col("doc_id")))
    assert(a == b, "kept set must not depend on partitioning")
    val byBucket = a.groupBy(_._1)
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // quotas are floor-div shares of ONE total T: h=⌊T/2⌋, m=⌊T/3⌋,
    // t=⌊T/6⌋ — so writing T = 6q + r, h ∈ [3q, 3q+2] and m ∈ [2q, 2q+1]
    val Seq(h, m, t) = Seq("head", "middle", "tail").map(byBucket(_).size)
    assert(h >= 3 * t && h <= 3 * t + 2 && m >= 2 * t && m <= 2 * t + 1,
      s"mix must be floor-div 3:2:1, got $h:$m:$t")
    // terciles order by fluency: every head xent <= every tail xent
    assert(byBucket("head").map(_._3).max <= byBucket("tail").map(_._3).min)
  }

  test("LSH near-pairs recall vs brute-force (cos >= 0.2 band)") {
    // ground truth: all pairs among vec_id < 60 with cosine >= 0.2
    val sub = emb.filter(col("vec_id") < 60)
    val a = sub.select(col("vec_id").as("id_a"),
      transform(col("embedding"), _.cast("double")).as("va"))
    val b = sub.select(col("vec_id").as("id_b"),
      transform(col("embedding"), _.cast("double")).as("vb"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshNearPairs(sub, "vec_id", "embedding",
        planes = 16, bandBits = 4, rotations = 6, threshold = 0.2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.subsetOf(exact.union(approx.filter(p => exact.contains(p)))),
      "lsh pairs are cosine-verified so must all be true positives")
    if (exact.nonEmpty) {
      val recall = (exact & approx).size.toDouble / exact.size
      assert(recall >= 0.5, s"LSH recall $recall too low (${exact.size} true pairs)")
    }
  }

  test("wide simhash: pigeonhole blocking == brute-force pair set") {
    // The completeness claim of simhashPairsWide: chunk blocking over the
    // concatenated 126-bit signature finds EXACTLY the pairs an all-pairs
    // hamming scan finds (pigeonhole: hamming <= 3 over 4 chunks leaves
    // one chunk untouched). Verified here with the identical signature
    // recomputed independently and cross-joined.
    val sigs = docs.select(col("doc_id"),
      array((0 until 2).map { j =>
        graft.functions.Sketches.simhash63(
          transform(split(col("text"), " "), t => xxhash64(t, lit(j))))
      }: _*).as("sig"))
    val brute = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        aggregate(zip_with(col("a.sig"), col("b.sig"),
            (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
          lit(0L), (acc, x) => acc + x).as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val blocked = Dedup.simhashPairsWide(docs, "doc_id", "text",
        maxHamming = 3, sigLongs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(blocked == brute,
      s"missing=${(brute diff blocked).take(3)} extra=${(blocked diff brute).take(3)}")
  }

  test("simhashPairs at maxHamming > 3 dispatches wide and stays complete") {
    // every (sigLongs, maxHamming) runs the wide parameter set: chunk
    // count mh+1 for ANY sigLongs incl. 1, and ONE signature family
    // (xxhash64(t, j)), so raising mh can only add pairs. Completeness
    // vs brute force over the same 63-bit signature, at mh = 3 and 4:
    val sigs = docs.select(col("doc_id"),
      graft.functions.Sketches.simhash63(
        transform(split(col("text"), " "), t => xxhash64(t, lit(0))))
        .as("sig"))
    val brute = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val Seq(at3, at4) = Seq(3, 4).map { mh =>
      val blocked = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = mh)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = brute.filter(_._3 <= mh)
      assert(blocked == want, s"mh=$mh: missing=${(want diff blocked).take(3)} " +
        s"extra=${(blocked diff want).take(3)}")
      blocked
    }
    assert(at3.nonEmpty && at3.subsetOf(at4),
      s"mh=3 pairs not in mh=4: ${(at3 diff at4).take(3)}")
  }

  test("NearestCells kernel == HOF spec, both metrics, nProbe 1 and 4") {
    // the codegen router kernel (r11 — replaced the per-row
    // nCells-struct array_sort that dominated the ×50 composed-ANN
    // rehearsal) must rank cells identically to the executable spec:
    // same fold orders (l2sq / CosineSim), same (dist, cell) tie-break
    val cents = emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(16).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val v = transform(col("embedding"), _.cast("double"))
    for (np <- Seq(1, 4)) {
      val l2 = emb.select(
          graft.functions.Sketches.nearestCellsL2(v, cents, np).as("k"),
          KernelSpecs.nearestCellsL2Hof(v, cents, np).as("h"))
        .filter(not(col("k") <=> col("h"))).count()  // null-safe: a null-vs-value divergence must count
      assert(l2 == 0, s"L2 kernel/HOF diverge on $l2 rows (nProbe=$np)")
      val cos = emb.select(
          graft.functions.Sketches.nearestCellsCos(v, cents, np).as("k"),
          KernelSpecs.nearestCellsHof(v, cents, np).as("h"))
        .filter(not(col("k") <=> col("h"))).count()  // null-safe: a null-vs-value divergence must count
      assert(cos == 0, s"cos kernel/HOF diverge on $cos rows (nProbe=$np)")
    }
  }

  test("PortableSimhash30 kernel == HOF spec, per row, both multipliers") {
    // the codegen kernel (r11 — replaced the interpreted 30-fold HOF
    // that made the two portable dedup queries 74 s + 149 s of the full
    // bench) must be bit-identical to the executable spec over the
    // whole corpus, for both scramble multipliers
    for (mult <- Seq(2654435761L, 2246822519L)) {
      val mismatch = docs.select(col("doc_id"),
          graft.functions.Sketches.portableSimhash30(col("text"), mult)
            .as("kernel"),
          KernelSpecs.simhash30FromHashes(
            KernelSpecs.tokenHashesPortableScrambled(col("text"), mult))
            .as("hof"))
        .filter(not(col("kernel") <=> col("hof")))  // null-safe compare
        .count()
      assert(mismatch == 0, s"kernel/HOF diverge on $mismatch docs (mult=$mult)")
    }
  }

  test("DupWindowHashes kernel == HOF slice-fold spec, both families, w 2/15/50") {
    // the O(n) rolling recurrence must be bit-identical to the O(n·w)
    // per-window slice folds the oracle evaluates, corpus-wide
    for (w <- Seq(2, 15, 50);
         fam <- Seq(Dedup.winFamilyA(w), Dedup.winFamilyB(w))) {
      val mismatch = docs.select(
          graft.functions.Sketches.dupWindowHashes(col("text"), fam)
            .as("kernel"),
          KernelSpecs.dupWindowHashesHof(col("text"), fam).as("hof"))
        .filter(not(col("kernel") <=> col("hof")))  // null-safe compare
        .count()
      assert(mismatch == 0,
        s"kernel/HOF diverge on $mismatch docs (w=$w, fam=$fam)")
    }
  }

  // Scala-side brute force for the substring-dedup family: duplicated
  // W-token windows found by their exact TEXT (no hashes — so these
  // tests also certify the two-family hash key is collision-free on the
  // corpus), keeper = global min (doc_id, pos), islands merged with the
  // same pos > prevMaxEnd rule (touching spans concatenate).
  private def bruteSpans(
      rows: Array[(Long, String)], w: Int): Set[(Long, Long, Long, Long)] = {
    val occ = for {
      (id, t) <- rows.toSeq
      ws = t.split("\\s+").filter(_.nonEmpty)
      i <- 0 to ws.length - w
    } yield (ws.slice(i, i + w).mkString(" "), (id, i.toLong))
    val dups = occ.groupBy(_._1).values
      .filter(_.size > 1)
      .flatMap(_.map(_._2).sorted.tail)
    dups.toSeq.groupBy(_._1).flatMap { case (id, ps) =>
      var res = List.empty[(Long, Long, Long, Long)]
      var start = -1L; var end = -1L; var n = 0L
      for (p <- ps.map(_._2).sorted) {
        if (start < 0) { start = p; end = p + w; n = 1 }
        else if (p <= end) { end = p + w; n += 1 }
        else { res ::= ((id, start, end, n)); start = p; end = p + w; n = 1 }
      }
      if (start >= 0) res ::= ((id, start, end, n))
      res
    }.toSet
  }

  private def portableFp(ws: Seq[String]): Long = {
    val p = 1000000007L
    ws.foldLeft(0L)((acc, w) =>
      (acc * 31 + w.codePoints().toArray.foldLeft(0L)(
        (a, cp) => (a * 131 + cp) % p)) % p)
  }

  test("substring dedup: spans == brute force over exact window texts") {
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = bruteSpans(rows, 15)
    assert(expected.nonEmpty, "testdata should contain duplicated windows")
    val got = Dedup.duplicateSpans(docs, "doc_id", "text", 15).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected,
      s"extra=${(got diff expected).take(3)} missing=${(expected diff got).take(3)}")
  }

  test("substring cut: keeper survives, covered tokens drop, short docs intact") {
    val w = 15
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val spans = bruteSpans(rows, w).groupBy(_._1)
    val expected = rows.map { case (id, t) =>
      val ws = t.split("\\s+").filter(_.nonEmpty).toSeq
      val cover = spans.getOrElse(id, Set.empty)
        .flatMap { case (_, s, e, _) => s until e }
      val kept = ws.zipWithIndex.collect {
        case (tok, i) if !cover.contains(i.toLong) => tok }
      (id, (ws.size.toLong, kept.size.toLong, portableFp(kept)))
    }.toMap
    val got = Dedup.cutDuplicateSpans(docs, "doc_id", "text", w).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected,
      s"first diff: ${got.find { case (k, v) => expected.get(k) != Some(v) }}")
    // docs shorter than w have no windows, so they survive untouched
    val short = rows.filter(_._2.split("\\s+").count(_.nonEmpty) < w)
    assert(short.nonEmpty, "corpus should have docs shorter than w")
    short.foreach { case (id, _) =>
      val (n, k, _) = got(id)
      assert(n == k, s"doc $id shorter than w=$w must keep all $n tokens")
    }
  }

  test("substring dedup: exact replica mapping (x3) — rep-0 spans invariant, replicas collapse") {
    // PipeScale's replication scheme: doc o → o*3+rep preserves doc
    // order with rep as tie-break, so every window's keeper stays in a
    // rep-0 doc at the SAME position → rep-0 span sets must equal the
    // ×1 span sets exactly, and every rep>0 doc with >= w tokens is
    // fully covered (kept = 0); shorter replicas have no windows at all
    val w = 15
    val docs3 = docs
      .withColumn("rep", explode(sequence(lit(0), lit(2))))
      .select((col("doc_id") * 3 + col("rep")).as("doc_id"), col("text"))
    val base = Dedup.duplicateSpans(docs, "doc_id", "text", w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val rep0 = Dedup.duplicateSpans(docs3, "doc_id", "text", w)
      .filter(col("doc_id") % 3 === 0)
      .collect()
      .map(r => (r.getLong(0) / 3, r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(rep0 == base,
      s"extra=${(rep0 diff base).take(3)} missing=${(base diff rep0).take(3)}")
    val badReplicas = Dedup.cutDuplicateSpans(docs3, "doc_id", "text", w)
      .filter(col("doc_id") % 3 =!= 0)
      .filter(when(col("n_tokens") >= w, col("n_kept") =!= 0)
        .otherwise(col("n_kept") =!= col("n_tokens")))
      .count()
    assert(badReplicas == 0, s"$badReplicas replicas kept the wrong tokens")
  }

  test("cross-entropy LM score == independent brute force (counts, V, smoothing)") {
    import graft.pipeline.TextAnalysis
    val train = docs.filter(col("doc_id") % 2 === 0)
    val eval = docs.filter(col("doc_id") % 2 === 1)
    def toks(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
    val trainBg = train.select(col("text")).collect().map(_.getString(0))
      .flatMap(t => toks(t).sliding(2).filter(_.size == 2)
        .map(p => (p(0), p(1))))
    val c12 = trainBg.groupBy(identity).view.mapValues(_.length).toMap
    val c1 = trainBg.groupBy(_._1).view.mapValues(_.length).toMap
    val v = trainBg.map(_._2).distinct.length
    val expected = eval.select(col("doc_id"), col("text")).collect()
      .flatMap { r =>
        val bgs = toks(r.getString(1)).sliding(2).filter(_.size == 2)
          .map(p => (p(0), p(1))).toSeq
        // docs with < 2 tokens have no bigrams: the operator (and the
        // oracle) emit no row for them — mirror that, don't divide by 0
        if (bgs.isEmpty) None
        else {
          val raw = -bgs.map(b => math.log(
            (c12.getOrElse(b, 0) + 1.0) / (c1.getOrElse(b._1, 0) + v)))
            .sum / bgs.size
          Some((r.getLong(0), (bgs.size.toLong, raw)))
        }
      }.toMap
    val got = TextAnalysis.crossEntropyScore(train, eval, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (nb, xent)) =>
      val (enb, eraw) = expected(id)
      assert(nb == enb, s"doc $id: n_bigrams $nb != $enb")
      // fp sum order differs (Spark row order vs Scala fold) — a real
      // model bug (wrong V, swapped counts, smoothing) moves xent >> 1e-3
      assert(math.abs(xent - eraw) < 1e-3,
        s"doc $id: xent $xent != brute-force $eraw")
    }
  }

  test("portable wide simhash: blocking == brute force, 60-bit signature") {
    val sigs = docs.select(col("doc_id"),
      KernelSpecs.simhash30FromHashes(
        KernelSpecs.tokenHashesPortableScrambled(col("text"), 2654435761L)).as("s0"),
      KernelSpecs.simhash30FromHashes(
        KernelSpecs.tokenHashesPortableScrambled(col("text"), 2246822519L)).as("s1"))
    val brute = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (bit_count(col("a.s0").bitwiseXOR(col("b.s0"))) +
          bit_count(col("a.s1").bitwiseXOR(col("b.s1")))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val blocked = Dedup.simhashPairsPortableWide(docs, "doc_id", "text",
        maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(blocked == brute,
      s"missing=${(brute diff blocked).take(3)} extra=${(blocked diff brute).take(3)}")
  }

  test("embedding dedup: LSH path == exact path, planted dups dropped") {
    // corpus = originals + positively-scaled copies of every 10th vector
    // (cos = 1 with the original; scaling preserves hyperplane signs, so
    // the LSH candidate step is deterministically complete here)
    val corpus = emb
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .unionAll(emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x.cast("double") * 1.001).as("v")))
    val exact = Dedup.embeddingDedup(corpus, "vec_id", "v", 0.99, exact = true)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val lsh = Dedup.embeddingDedup(corpus, "vec_id", "v", 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(lsh == exact)
    val originals = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    // every original survives; every planted copy (id+100000) is dropped
    assert(exact == originals)
  }

  test("brute-force top-k is deterministic and ranked") {
    val res = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", 5).collect()
    assert(res.length == 15)
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val cs = rows.map(_.getDouble(2)).toSeq
      assert(cs == cs.sorted.reverse, "neighbors must be ranked by cosine")
    }
  }

  test("IVF top-k achieves high recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        nCells = 16, nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall@5 = $recall")
  }

  test("pqParams sizing rule: byte-capped granularity, 1% shortlist") {
    assert(Similarity.pqParams(2000L, 10) == ((16, 5)))      // both floors
    assert(Similarity.pqParams(40000L, 29) == ((256, 14)))   // 0.01n/topk
    assert(Similarity.pqParams(100000L, 59) == ((256, 17)))  // k capped
    assert(Similarity.pqParams(51200L, 10) == ((256, 52)))
  }

  test("ivfParams sizing rule: powers of two, clamped, quarter probe") {
    // rule: nCells = 2^ceil(log2(n/200)) in [16, 2^16], nProbe = nCells/4
    assert(Similarity.ivfParams(500L) == ((16, 4)))        // floor clamp
    assert(Similarity.ivfParams(2000L) == ((16, 4)))
    assert(Similarity.ivfParams(40000L) == ((256, 64)))    // 40000/200=200→256
    assert(Similarity.ivfParams(100000L) == ((512, 128)))  // 500→512
    assert(Similarity.ivfParams(51200L) == ((256, 64)))    // exact power stays
    assert(Similarity.ivfParams(100000000000L) == ((65536, 16384))) // cap clamp
  }

  test("simhashSigLongs sizing rule: narrow to ~6.5M docs, then wide") {
    // rule: smallest sigLongs whose chunk width 63/ceil((mh+1)/sigLongs)
    // holds the mean bucket at <= 200 docs (width >= log2(n/200));
    // at mh=3: 15-bit chunks to 200·2^15 ≈ 6.5M docs, 31-bit to
    // ~4.3e11; sigLongs=3 still yields 2 chunks/long = 31 bits, so the
    // search skips straight to 4 (one 63-bit chunk per long)
    assert(Dedup.simhashSigLongs(10000L) == 1)
    assert(Dedup.simhashSigLongs(6000000L) == 1)
    assert(Dedup.simhashSigLongs(20000000L) == 2)
    assert(Dedup.simhashSigLongs(400000000000L) == 2)
    assert(Dedup.simhashSigLongs(1000000000000L) == 4)
    // threshold-scaled wide use (mh ∝ sigLongs): mh=7 forces 8 chunks —
    // 15-bit chunks again at sigLongs=2, so the rule widens to 3
    // (ceil(8/3)=3 chunks/long → 21-bit chunks ≥ the needed 17)
    assert(Dedup.simhashSigLongs(20000000L, maxHamming = 7) == 3)
  }

  test("ivfTopK with kmeansIters refines without breaking the contract") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        nCells = 16, nProbe = 6, kmeansIters = 2).collect()
    // contract: <= k ranked rows per query, cos is the TRUE cosine
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= 5)
      val cs = rs.map(_.getDouble(2)).toSeq
      assert(cs == cs.sorted.reverse)
    }
    val recall = (exact & rows.map(r => (r.getLong(0), r.getLong(1))).toSet)
      .size.toDouble / exact.size
    assert(recall >= 0.5, s"refined IVF recall@5 = $recall")
  }

  test("PQ codegen kernel == HOF executable spec, code for code") {
    val cbs = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, k = 16)
    val v = transform(col("embedding"), _.cast("double"))
    val both = emb.select(col("vec_id"),
        graft.functions.Sketches.pqCodes(v, cbs).as("kernel"),
        KernelSpecs.pqCodesHof(v, cbs).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"vec ${r.getLong(0)}: kernel ${r.getSeq[Int](1)} != hof ${r.getSeq[Int](2)}")
    }
  }

  test("PQ: nested codebooks make reconstruction error monotone in k") {
    // kmeansIters=0 codebooks are md5-rank samples and NESTED (the k=8
    // sample is a prefix of the k=32 sample), so each vector's best
    // codeword distance can only shrink — an exact law, not a bound
    val cb8 = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, k = 8)
    val cb32 = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, k = 32)
    cb8.zip(cb32).foreach { case (a, b) => assert(b.take(8) == a) }
    // reconstruction error via pqEncode + codebook lookup, driver-side
    // (500 vectors at sf0.01 — bounded)
    def mse(cbs: Seq[Seq[Seq[Double]]]): Double = {
      val sub = cbs.head.head.size
      val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1))
      codes.map { case (id, cs) =>
        val v = vecs(id)
        cs.zipWithIndex.map { case (code, j) =>
          v.slice(j * sub, (j + 1) * sub).zip(cbs(j)(code))
            .map { case (x, y) => (x - y) * (x - y) }.sum
        }.sum
      }.sum / codes.length
    }
    val m8 = mse(cb8); val m32 = mse(cb32)
    assert(m32 <= m8, s"mse k=32 ($m32) must be <= mse k=8 ($m8)")
  }

  test("PQ/ADC top-k with rerank: recall floor vs exact L2 brute force") {
    val queries = emb.filter(col("vec_id") < 20)
    // exact L2 ground truth (PQ approximates L2, not cosine)
    val vecs = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val qids = queries.select("vec_id").collect().map(_.getLong(0))
    val exact = qids.flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (n, v) =>
          val d = v.zip(vecs(q)).map { case (x, y) => (x - y) * (x - y) }.sum
          (q, n, d)
        }.sortBy(t => (t._3, t._2)).take(10).map(t => (t._1, t._2))
    }.toSet
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        topk = 10, m = 16, k = 64, kmeansIters = 3, rerankFactor = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.6, s"PQ rerank recall@10 = $recall")
    // emitted distances are exact L2 (rerank recomputes on originals)
    val d = Similarity.pqTopK(emb, queries.limit(2), "vec_id", "embedding",
        topk = 3, m = 8, k = 16, kmeansIters = 0).collect()
    d.foreach { r =>
      val t = vecs(r.getLong(1)).zip(vecs(r.getLong(0)))
        .map { case (x, y) => (x - y) * (x - y) }.sum
      assert(math.abs(r.getDouble(2) - t) < 1e-4,
        s"rerank distance ${r.getDouble(2)} != true $t")
    }
  }

  test("IVF x PQ composition: recall floor, exact distances, metric-consistent") {
    val queries = emb.filter(col("vec_id") < 20)
    val vecs = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val qids = queries.select("vec_id").collect().map(_.getLong(0))
    val exact = qids.flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (n, v) =>
          (q, n, v.zip(vecs(q)).map { case (x, y) => (x - y) * (x - y) }.sum)
        }.sortBy(t => (t._3, t._2)).take(10).map(t => (t._1, t._2))
    }.toSet
    // half the corpus probed (8/16 cells), PQ shortlist within it
    val rows = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      topk = 10, nCells = 16, nProbe = 8, m = 16, k = 32,
      kmeansIters = 2, rerankFactor = 5).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= 10)
      val ds = rs.map(_.getDouble(2)).toSeq
      assert(ds == ds.sorted, "rows must be ranked by ascending L2")
    }
    // emitted distances are exact L2 on the originals
    rows.take(20).foreach { r =>
      val t = vecs(r.getLong(1)).zip(vecs(r.getLong(0)))
        .map { case (x, y) => (x - y) * (x - y) }.sum
      assert(math.abs(r.getDouble(2) - t) < 1e-4)
    }
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    // probing half the corpus bounds recall near nProbe/nCells on
    // structureless data; the PQ shortlist inside the probed slice
    // holds most of what probing kept
    assert(recall >= 0.35, s"IVFxPQ recall@10 = $recall")
  }

  test("multimodal resize + frame sampling: deterministic, bounded fan-out") {
    // REAL codec roundtrip (r13): encode → nearest-neighbor resize →
    // decode through the actual PNG/BMP codecs; expected pixels come
    // from the id formula with the exact integer source mapping
    val real = Multimodal.encodeImages(
      docs.select(col("doc_id")).limit(50), "doc_id")
    val resizedDf = Multimodal.resizeImages(real, 4, 3)
    val feats = Multimodal.decodeImageFeatures(resizedDf).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats.size == 50)
    feats.foreach { case (id, f) =>
      val w = 1 + (id % 8).toInt; val h = 1 + (id % 6).toInt
      val expLum = (for (yy <- 0 until 3; xx <- 0 until 4) yield
        java.lang.Math.floorMod(
          id * 31 + (xx * w / 4) * 7 + (yy * h / 3) * 13, 256L)).sum
      assert(f.width == 4 && f.height == 3 && f.n_px == 12,
        s"doc $id resized to ${f.width}x${f.height}")
      assert(f.lum_sum == expLum,
        s"doc $id lum ${f.lum_sum} != formula $expLum")
      assert(f.format == (if (id % 2 == 0) "png" else "bmp"),
        "resize must re-encode in the sniffed source format")
    }
    // rerun is byte-identical (deterministic codecs + integer mapping)
    def bytesOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(bytesOf(Multimodal.resizeImages(real, 4, 3)) == bytesOf(resizedDf))

    val media = Multimodal.withSyntheticMedia(
      docs.select(col("doc_id")).limit(50), "doc_id")
    val frames = Multimodal.sampleFrames(media, frameBytes = 16,
        everyNth = 2, maxFrames = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2).toSeq))
    // payload = 128 bytes -> 8 chunks, every 2nd -> 4, capped at 3
    val byDoc = frames.groupBy(_._1)
    assert(byDoc.size == 50)
    byDoc.values.foreach { fs =>
      assert(fs.length == 3)
      assert(fs.map(_._2).sorted.toSeq == Seq(0, 2, 4))
      fs.foreach { case (_, _, frame) => assert(frame.length == 16) }
    }
  }

  test("multimodal decode is deterministic and partition-count independent") {
    val media = Multimodal.withSyntheticMedia(docs.select(col("doc_id")), "doc_id")
    val f1 = Multimodal.decodeFeatures(media, parallelism = 2).collect()
      .map(f => f.doc_id -> f.brightness).toMap
    val f2 = Multimodal.decodeFeatures(media, parallelism = 16).collect()
      .map(f => f.doc_id -> f.brightness).toMap
    assert(f1 == f2)
    assert(f1.size == docs.count())
  }

  test("imageio encode→decode roundtrip recovers exact pixels per image") {
    val sample = docs.select(col("doc_id")).limit(200)
    val media = Multimodal.encodeImages(sample, "doc_id")
    val feats = Multimodal.decodeImageFeatures(media, parallelism = 4)
      .collect()
    assert(feats.length == 200)
    feats.foreach { f =>
      // dimensions + format from the DECODED bytes match the generator
      assert(f.width == 1 + (f.doc_id % 8).toInt, s"doc ${f.doc_id}")
      assert(f.height == 1 + (f.doc_id % 6).toInt)
      assert(f.format == (if (f.doc_id % 2 == 0) "png" else "bmp"))
      // exact pixel recomputation: lossless codecs must reproduce g(x,y)
      var expected = 0L
      for (y <- 0 until f.height; x <- 0 until f.width)
        expected += (f.doc_id * 31 + x * 7 + y * 13) % 256
      assert(f.lum_sum == expected, s"doc ${f.doc_id} pixel mismatch")
      assert(f.n_px == f.width.toLong * f.height)
    }
  }

  test("wav encode→decode roundtrip recovers exact PCM samples") {
    val sample = docs.select(col("doc_id")).limit(200)
    val media = Multimodal.encodeAudio(sample, "doc_id")
    val feats = Multimodal.decodeAudioFeatures(media, parallelism = 4)
      .collect()
    assert(feats.length == 200)
    feats.foreach { f =>
      assert(f.sample_rate == 8000, s"doc ${f.doc_id}")
      val n = 200 + (f.doc_id % 57).toInt
      assert(f.n_samples == n, s"doc ${f.doc_id}")
      // exact sample recomputation: the decoded PCM must reproduce s(i)
      var absSum = 0L
      var peak = 0L
      for (i <- 0 until n) {
        val s = Math.floorMod(f.doc_id * 2654435761L + i * 40503L,
          65536L) - 32768L
        absSum += math.abs(s)
        peak = math.max(peak, math.abs(s))
      }
      assert(f.abs_sum == absSum, s"doc ${f.doc_id} sample mismatch")
      assert(f.peak == peak, s"doc ${f.doc_id} peak mismatch")
    }
  }

  test("gif video encode→decode recovers exact frames and samples them") {
    val sample = docs.select(col("doc_id")).limit(100)
    val media = Multimodal.encodeVideo(sample, "doc_id")
    val frames = Multimodal.decodeVideoFrames(media, everyNth = 2,
        parallelism = 4).collect()
    val byDoc = frames.groupBy(_.getLong(0))
    assert(byDoc.size == 100)
    byDoc.foreach { case (id, rows) =>
      val nFrames = 2 + (id % 4).toInt
      // every 2nd frame sampled: ceil(n/2) rows, idx 0, 2, ...
      assert(rows.length == (nFrames + 1) / 2, s"doc $id")
      rows.foreach { r =>
        assert(r.getInt(1) == nFrames, s"doc $id container frame count")
        val f = r.getInt(2)
        assert(f % 2 == 0 && f < nFrames)
        assert(r.getInt(3) == 4 && r.getInt(4) == 3)
        var expected = 0L
        for (y <- 0 until 3; x <- 0 until 4)
          expected += Math.floorMod(id * 17 + f * 29 + x * 7 + y * 13, 256L)
        assert(r.getLong(5) == expected, s"doc $id frame $f pixel mismatch")
      }
    }
  }

  test("decontamination: report/remove partition train, self-eval flags all") {
    import graft.pipeline.Decontamination
    val train = docs.filter(col("doc_id") % 17 =!= 0)
    val eval = docs.filter(col("doc_id") % 17 === 0)
    val nTrain = train.count()
    val flagged = Decontamination.contaminationReport(
      train, eval, "doc_id", "text", "doc_id", "text", n = 3, minHits = 3)
    val clean = Decontamination.removeContaminated(
      train, eval, "doc_id", "text", "doc_id", "text", n = 3, minHits = 3)
    // report + remove exactly partition the train set
    assert(flagged.count() + clean.count() == nTrain)
    val nFlagged = flagged.count()
    assert(nFlagged > 0, "testdata slice should produce contamination hits")
    // a clean doc re-checked alone stays clean; eval checked against
    // itself is fully flagged at minHits=1 (every doc shares all its
    // own shingles)
    val selfFlagged = Decontamination.contaminationReport(
      eval, eval, "doc_id", "text", "doc_id", "text", n = 3, minHits = 1)
    assert(selfFlagged.count() == eval.count())
    // raising minHits can only shrink the flagged set
    val strict = Decontamination.contaminationReport(
      train, eval, "doc_id", "text", "doc_id", "text", n = 3, minHits = 50)
    assert(strict.count() <= nFlagged)
    // n_eval_docs never exceeds the eval corpus size
    val maxEval = flagged.agg(max(col("n_eval_docs"))).head().getLong(0)
    assert(maxEval <= eval.count())
  }

  test("bloom-prefiltered decontamination == plain path, any sketch size") {
    import graft.pipeline.Decontamination
    val train = docs.filter(col("doc_id") % 17 =!= 0)
    val eval = docs.filter(col("doc_id") % 17 === 0)
    val plain = Decontamination.contaminationReport(
      train, eval, "doc_id", "text", "doc_id", "text", n = 3, minHits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(plain.nonEmpty)
    // tiny (heavily saturated → ~all false positives pass the sketch)
    // and roomy sketches must BOTH reproduce the exact report: the
    // confirm join makes the sketch a pure performance knob
    for (bits <- Seq(64, 1 << 16, 1 << 22)) {
      val bloom = Decontamination.contaminationReportBloom(
        train, eval, "doc_id", "text", "doc_id", "text", n = 3,
        minHits = 3, bloomBits = bits, bloomHashes = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(bloom == plain, s"bloom path diverged at numBits=$bits")
    }
  }

  test("hashed classifier: kernels == HOF specs, brute-force train/score") {
    import graft.pipeline.{Classifier, TextAnalysis}
    val d = 256 // small dimension → real bucket collisions exercised
    // HashedBuckets kernel == interpreted HOF spec, bigrams on and off
    for (bi <- Seq(true, false)) {
      val mism = docs.select(
          Classifier.buckets(col("text"), d, bi).as("k"),
          KernelSpecs.bucketsHof(col("text"), d, bi).as("h"))
        .filter(not(col("k") === col("h"))).count()
      assert(mism == 0, s"kernel != HOF spec (bigrams=$bi)")
    }
    // GatherSum kernel == HOF fold, bit-exact (same left-to-right order)
    val wArb = (0 until d).map(i => math.sin(i.toDouble))
    val gsMism = docs.select(
        graft.functions.Sketches.gatherSum(
          Classifier.buckets(col("text"), d), wArb).as("k"),
        KernelSpecs.gatherSumHof(
          Classifier.buckets(col("text"), d), wArb).as("h"))
      .filter(col("k") =!= col("h")).count()
    assert(gsMism == 0, "GatherSum != HOF fold")

    // independent Scala brute force: buckets, counts, weights, scores
    val P = 1000000007L
    def wordHash(s: String): Long = {
      var acc = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        acc = (acc * 131 + cp) % P
        i += Character.charCount(cp)
      }
      acc
    }
    def bucketsOf(text: String): Seq[Int] = {
      val whs = text.split("\\s+").filter(_.nonEmpty).map(wordHash)
      val uni = whs.map(h => (h % d).toInt).toSeq
      val bis = whs.sliding(2).filter(_.length == 2)
        .map(p => (((p(0) * 131 + p(1)) % P) % d).toInt).toSeq
      uni ++ bis
    }
    // the corpus-query label: token 'spark' occurs >= 2 times (the only
    // learnable structure in the synthetic corpus is word frequency)
    def labelOf(text: String): Int =
      if (text.split("\\s+").count(_ == "spark") >= 2) 1 else 0
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val train = rows.filter(_._1 % 2 == 0)
    assert(train.exists(r => labelOf(r._2) == 1) &&
      train.exists(r => labelOf(r._2) == 0),
      "train corpus must carry both classes")
    val dd = 1024
    def bucketsD(text: String): Seq[Int] = {
      val whs = text.split("\\s+").filter(_.nonEmpty).map(wordHash)
      (whs.map(h => (h % dd).toInt) ++ whs.sliding(2).filter(_.length == 2)
        .map(p => (((p(0) * 131 + p(1)) % P) % dd).toInt)).toSeq
    }
    val n1 = new Array[Long](dd); val n0 = new Array[Long](dd)
    train.foreach { case (_, t) =>
      val y = labelOf(t)
      bucketsD(t).foreach(b => if (y == 1) n1(b) += 1 else n0(b) += 1)
    }
    val t1 = n1.sum.toDouble; val t0 = n0.sum.toDouble
    val expW = Array.tabulate(dd)(b =>
      math.log((n1(b) + 1.0) / (t1 + dd)) -
        math.log((n0(b) + 1.0) / (t0 + dd)))
    val p1 = train.count(r => labelOf(r._2) == 1)
    val expB = math.log((p1 + 1.0) / (train.length - p1 + 1.0))
    val labeledDf = docs.withColumn("label",
      (size(filter(split(col("text"), "\\s+"), t => t === "spark")) >= 2)
        .cast("int"))
    val (gotW, gotB) = Classifier.trainLogOdds(
      labeledDf.filter(col("doc_id") % 2 === 0), "text", "label", d = dd)
    assert(java.util.Arrays.equals(gotW, expW),
      s"weights diverge at ${gotW.toSeq.zip(expW.toSeq)
        .indexWhere(p => p._1 != p._2)}")
    assert(gotB == expB, s"bias $gotB != $expB")
    // scores: same fold order as the kernel → exact after the shared
    // rounding rule
    def round4(x: Double): Double =
      BigDecimal(x + 1e-9).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val expScores = rows.filter(_._1 % 2 == 1).map { case (id, t) =>
      val s = bucketsD(t).foldLeft(0.0)((acc, b) => acc + expW(b))
      id -> round4(s + expB)
    }.toMap
    val gotScores = Classifier.score(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        gotW.toSeq, gotB)
      .select(col("doc_id"), col("score"), col("pred")).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    assert(gotScores.keySet == expScores.keySet)
    expScores.foreach { case (id, s) =>
      assert(gotScores(id)._1 == s,
        s"doc $id: score ${gotScores(id)._1} != $s")
    }
    // learning sanity: held-out accuracy must clear the majority class
    // by a real margin (measured r12: 0.70 vs 0.53 at sf0.01, 0.79 vs
    // 0.51 at sf0.1) — a weights bug that zeroes the signal fails this
    // while a corpus drift that shifts the balance doesn't
    val evalRows = rows.filter(_._1 % 2 == 1)
    val acc = evalRows.count { case (id, t) =>
      gotScores(id)._2 == labelOf(t) }.toDouble / evalRows.length
    val posFrac = evalRows.count(r => labelOf(r._2) == 1).toDouble /
      evalRows.length
    val majority = math.max(posFrac, 1 - posFrac)
    assert(acc >= majority + 0.1,
      s"classifier accuracy $acc vs majority $majority — not learning")
  }

  test("deterministic logistic refinement == integer-exact brute force") {
    import graft.pipeline.Classifier
    val P = 1000000007L; val dd = 1024
    def wordHash(s: String): Long = {
      var acc = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        acc = (acc * 131 + cp) % P
        i += Character.charCount(cp)
      }
      acc
    }
    def bucketsD(text: String): Seq[Int] = {
      val whs = text.split("\\s+").filter(_.nonEmpty).map(wordHash)
      (whs.map(h => (h % dd).toInt) ++ whs.sliding(2).filter(_.length == 2)
        .map(p => (((p(0) * 131 + p(1)) % P) % dd).toInt)).toSeq
    }
    def labelOf(text: String): Int =
      if (text.split("\\s+").count(_ == "spark") >= 2) 1 else 0
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val train = rows.filter(_._1 % 2 == 0)
      .map { case (_, t) => (bucketsD(t), labelOf(t)) }
    val n = train.length

    // NB init (independent), quantized with the library's rhalf grid
    val n1 = new Array[Long](dd); val n0 = new Array[Long](dd)
    train.foreach { case (fb, y) =>
      fb.foreach(b => if (y == 1) n1(b) += 1 else n0(b) += 1) }
    val t1 = n1.sum.toDouble; val t0 = n0.sum.toDouble
    val w0 = Array.tabulate(dd)(b =>
      math.log((n1(b) + 1.0) / (t1 + dd)) -
        math.log((n0(b) + 1.0) / (t0 + dd)))
    val p1 = train.count(_._2 == 1)
    val b0 = math.log((p1 + 1.0) / (n - p1 + 1.0))
    val (wq0, bq0) = Classifier.quantize(w0, b0)

    // brute-force fixed-point GD: identical integer arithmetic, with
    // the Spark rounding convention (HALF_UP away from zero) per term
    val lr = 0.05; val iters = 10
    def rhalfUp(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def lossOf(wq: Array[Long], bq: Long): Double = train.map { case (fb, y) =>
      val z = (bq + fb.map(b => wq(b)).sum).toDouble / 1048576.0
      if (y == 1) math.log1p(math.exp(-z)) else math.log1p(math.exp(z))
    }.sum / n
    var wq = wq0.clone(); var bq = bq0
    val loss0 = lossOf(wq, bq)
    for (_ <- 1 to iters) {
      val grad = new Array[Long](dd); var gb = 0L
      train.foreach { case (fb, y) =>
        val s = fb.map(b => wq(b)).sum
        val p = 1.0 / (1.0 + math.exp(-((bq + s).toDouble / 1048576.0)))
        val eq = rhalfUp((p - y) * 16777216.0)
        fb.foreach(b => grad(b) += eq)
        gb += eq
      }
      wq = Array.tabulate(dd)(b => Classifier.rhalf(
        (wq(b).toDouble / 1048576.0 -
          lr * grad(b).toDouble / (16777216.0 * n)) * 1048576.0))
      bq = Classifier.rhalf((bq.toDouble / 1048576.0 -
        lr * gb.toDouble / (16777216.0 * n)) * 1048576.0)
    }

    // the distributed training must reproduce the brute force EXACTLY —
    // that is the fixed-point design's whole claim (integer sums are
    // order-independent, so partitioning cannot move a single bit)
    val labeledDf = docs.withColumn("label",
      (size(filter(split(col("text"), "\\s+"), t => t === "spark")) >= 2)
        .cast("int"))
    val trainDf = labeledDf.filter(col("doc_id") % 2 === 0)
    val (gotW, gotB) = Classifier.trainLogisticFixed(
      trainDf, "text", "label", wq0, bq0, iters = iters, lr = lr)
    assert(gotB == bq, s"bias $gotB != brute-force $bq")
    assert(java.util.Arrays.equals(gotW, wq),
      s"weights diverge at ${gotW.toSeq.zip(wq.toSeq)
        .indexWhere(p => p._1 != p._2)}")

    // refinement must actually refine: train loss strictly down, and
    // held-out accuracy at least NB's minus noise, above majority
    val lossK = lossOf(wq, bq)
    assert(lossK < loss0, s"train loss did not decrease: $loss0 -> $lossK")
    val evalRows = rows.filter(_._1 % 2 == 1)
    def accOf(wqA: Array[Long], bqA: Long): Double = evalRows.count {
      case (_, t) =>
        val s = (bqA + bucketsD(t).map(b => wqA(b)).sum).toDouble / 1048576.0
        (s > 0) == (labelOf(t) == 1)
    }.toDouble / evalRows.length
    val accNb = accOf(wq0, bq0); val accK = accOf(wq, bq)
    val posFrac = evalRows.count(r => labelOf(r._2) == 1).toDouble /
      evalRows.length
    assert(accK >= math.max(posFrac, 1 - posFrac) + 0.1,
      s"refined accuracy $accK below majority+0.1")
    assert(accK >= accNb - 0.02,
      s"refinement regressed accuracy: NB $accNb -> $accK")
  }

  test("simhashPairs with caller-supplied n skips the sizing count job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = seen.add(e.jobId)
    }
    docs.count() // resolve the lazy table (schema-inference jobs) first
    SparkTestSession.drainListenerBus() // quiesce stragglers from prior tests
    spark.sparkContext.addSparkListener(l)
    try {
      // construction with n supplied must run ZERO jobs (the default
      // spends a count() pass; r11 verdict: an extra corpus scan per
      // call at 100 TB)
      Dedup.simhashPairs(docs, "doc_id", "text", 3, n = 5000)
      // sync barrier: this job's end event necessarily FOLLOWS any event
      // a sizing count() would have emitted (RDD count = exactly ONE
      // job; a Dataset count under AQE runs per-stage jobs)
      spark.sparkContext.parallelize(Seq(1)).count()
      SparkTestSession.drainListenerBus()
      assert(seen.size == 1,
        s"expected only the barrier job after n-supplied construction, " +
          s"saw ${seen.size}")
      seen.clear()
      Dedup.simhashPairs(docs, "doc_id", "text", 3)
      spark.sparkContext.parallelize(Seq(1)).count()
      SparkTestSession.drainListenerBus()
      assert(seen.size >= 2,
        "default construction should have run the sizing count job")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("kernel param literals are validated at analysis time (driver)") {
    // d = 1 out of range for HashedBuckets
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      docs.select(graft.functions.Sketches.hashedBuckets(
        col("text"), Seq(1L, 0L, 131L, 1000000007L, 131L)))
    }
    assert(e1.getMessage.contains("graft_hashed_buckets"))
    // w = 1 out of range for DupWindowHashes (r11 ADVICE: this used to
    // surface as N per-task failures at execution time)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      docs.select(graft.functions.Sketches.dupWindowHashes(
        col("text"), Seq(1L, 131L, 1000000007L, 2654435761L,
          1073741789L, 31L)))
    }
    assert(e2.getMessage.contains("w must be >= 2"))
    // wrong-TYPED literal (array<int>, not array<long>) must also be a
    // named analysis failure, not a raw ClassCastException (r12 review)
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      docs.select(call_function("graft_hashed_buckets", col("text"),
        typedlit(Seq(1024, 1, 131, 1000000007, 131))))
    }
    assert(e3.getMessage.contains("graft_hashed_buckets"))
  }

  test("GatherSum raises named errors for null and out-of-range indices") {
    import spark.implicits._
    val one = Seq(1).toDF("x")
    def run(idx: org.apache.spark.sql.Column): Unit =
      one.select(graft.functions.Sketches.gatherSum(idx, Seq(10.0, 20.0)))
        .collect()
    val eNull = intercept[Exception] {
      run(expr("array(1, CAST(NULL AS INT))"))
    }
    assert(eNull.getMessage.contains("null index"),
      s"null element must not silently gather vals(0): ${eNull.getMessage}")
    val eRange = intercept[Exception] { run(expr("array(2)")) }
    assert(eRange.getMessage.contains("outside [0, 2)"), eRange.getMessage)
    // in-range still fine
    val ok = one.select(graft.functions.Sketches.gatherSum(
      expr("array(0, 1, 1)"), Seq(10.0, 20.0))).head().getDouble(0)
    assert(ok == 50.0)
  }

}
