package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Beyond the reference's relational surface (DISTINCT / GROUP BY —
  * datafusion/optimizer/src/replace_distinct_aggregate.rs): exact dedup,
  * MinHash+LSH banding, SimHash, and exact n-gram Jaccard. Everything is
  * built from codegen'd Column expressions (no UDFs): shingling and
  * signatures are per-row `transform`/`aggregate` lambdas; candidate
  * generation shuffles only (id, band, bandHash) — at 100 TB the raw text
  * never moves, only fixed-size signatures do, and the only quadratic work
  * happens inside an LSH bucket (bounded by design).
  */
object Dedup {

  /** Distinct word n-gram shingles of a text column — the codegen'd
    * Shingles expression (functions/SketchExpressions.scala): one pass,
    * no per-position array allocation (HOF spec:
    * KernelSpecs.shinglesHof, src/test). */
  def shingles(text: Column, n: Int): Column =
    graft.functions.Sketches.shingles(text, n)

  /** k-wide MinHash signature over a shingle array, as the codegen'd
    * MinHash64 expression (functions/SketchExpressions.scala): one tight
    * shingles×k loop per row, bit-identical to the HOF fold it replaced
    * (KernelSpecs.minhashSignatureHof; equivalence asserted in
    * OperatorSpec). No explode, no shuffle. */
  def minhashSignature(sh: Column, k: Int): Column =
    graft.functions.Sketches.minhash64(sh, k)

  /** Estimated Jaccard from two MinHash signatures: fraction of agreeing
    * positions. */
  def estJaccard(sigA: Column, sigB: Column, k: Int): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / k

  /** Exact dedup: one surviving row (min id) per identical text. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Pigeonhole chunks of `sigBits`-bit signature longs as band keys:
    * `perSig` chunks of `width` bits per long, the last chunk of each
    * long taking the remaining bits. */
  private def chunks(sigs: Seq[Column], perSig: Int, width: Int,
      sigBits: Int): Column =
    array((for (s <- sigs; c <- 0 until perSig) yield {
      val w = if (c == perSig - 1) sigBits - c * width else width
      shiftright(s, c * width).bitwiseAND(lit((1L << w) - 1))
    }): _*)

  private def hamming(cols: String*): Column =
    cols.map(c => bit_count(col(s"${c}_a").bitwiseXOR(col(s"${c}_b"))))
      .reduce(_ + _).cast("long")

  /** MinHash + LSH near-duplicate pairs: shingle → `numHashes`-wide
    * signature → `bands` bands of `numHashes / bands` positions, keyed
    * by xxhash64(band, slice) → verify by exact shingle Jaccard ≥
    * `threshold`. Returns (id_a, id_b, est_jaccard, jaccard). */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    BandJoin.pairs(
      df.select(col(idCol).as("id"),
          shingles(col(textCol), shingleSize).as("sh"))
        .withColumn("sig", minhashSignature(col("sh"), numHashes)),
      array((0 until bands).map(b =>
        xxhash64(lit(b), slice(col("sig"), b * r + 1, r))): _*),
      Seq(round(estJaccard(col("sig_a"), col("sig_b"), numHashes), 4)
          .as("est_jaccard"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))), 4).as("jaccard")),
      col("jaccard") >= threshold,
      fetch = true)
  }

  /** Per-token 64-bit hashes — hash each token exactly ONCE, then derive
    * all 63 SimHash bits from the longs (the naive formulation rehashes
    * every token per bit: 63× the string hashing). */
  def tokenHashes(text: Column): Column =
    transform(split(text, " "), t => xxhash64(t))

  /** 63-bit SimHash from precomputed token hashes (63, not 64, so the
    * bit-assembly fold can never overflow a signed long under ANSI mode).
    * shiftright-by-column goes through call_function (the Scala helper
    * only accepts a literal shift).
    *
    * PRECONDITION (r14 ADVICE): `hs` must contain no NULL elements. The
    * arithmetic majority vote nullifies a bit-sum on a null hash (the
    * old ±1 fold counted it as a −1 vote), so a nullable caller would
    * silently get all-zero simhashes. Unreachable via [[tokenHashes]]
    * (hashes of split() tokens are never null); a future caller with
    * nullable hashes must filter first. */
  def simhashFromHashes(hs: Column): Column =
    aggregate(
      transform(sequence(lit(0), lit(62)), i =>
        // per-bit majority vote, arithmetic form (r14): the ±1 fold
        // Σ±1 = 2·ones − n, so votes > 0 ⟺ 2·ones > n — same integers,
        // ~half the interpreted-expression evals per (bit, token) as
        // the original when(bit=1, +1, −1) conditional fold (this spec
        // runs in-query every pipe_text_rolling_fp execution)
        when(aggregate(hs, lit(0L), (acc, h) =>
          acc + call_function("shiftright", h, i.cast("int"))
            .bitwiseAND(lit(1L))) * 2 > size(hs), 1L)
          .otherwise(0L)),
      lit(0L), (acc, b) => acc * 2 + b)

  /** SimHash near-dup pairs over the portable 30-bit signature
    * (oracle-replayable), blocked on 4×8-bit pigeonhole chunks —
    * complete for `maxHamming` ≤ 3. Returns (id_a, id_b, hamming). */
  def simhashPairsPortable(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    BandJoin.pairs(portableSigs(df, col(idCol), textCol, "sig"),
      chunks(Seq(col("sig")), 4, 8, 30),
      Seq(hamming("sig").as("hamming")), col("hamming") <= maxHamming)

  /** SimHash signature-width sizing rule — the sigLongs analogue of the
    * LSH band rule and ivfParams/pqParams (r10 verdict #8): pigeonhole
    * blocking forces the CHUNK COUNT to maxHamming+1, so the only lever
    * against bucket crowding is chunk WIDTH, and width = 63·sigLongs /
    * (maxHamming+1). A chunk has 2^width buckets; holding the mean
    * bucket at ≤ ~200 docs (the same occupancy constant every other
    * sizing rule here uses) needs width ≥ log2(n/200). Smallest
    * sigLongs in 1..8 that satisfies it — at maxHamming=3: 1 long
    * (15-bit chunks) to ~6.5M docs, 2 longs (31-bit chunks) to
    * ~4×10^11, then 4 (sigLongs=3 still yields 2 chunks/long = 31-bit
    * chunks, so the search skips it). NOTE the semantics knob
    * (simhashPairsWide scaladoc): hamming ≤ maxHamming over MORE bits
    * is a stricter similarity statement — the rule trades recall
    * threshold for bounded bucket work, exactly like LSH band growth. */
  def simhashSigLongs(n: Long, maxHamming: Int = 3): Int = {
    val needBits =
      math.ceil(math.log(math.max(1.0, n / 200.0)) / math.log(2)).toInt
    (1 to 8).find { sl =>
      63 / math.max(1,
        math.ceil((maxHamming + 1).toDouble / sl).toInt) >= needBits
    }.getOrElse(8)
  }

  /** SimHash near-duplicate pairs over 63-bit xxhash64 SimHashes:
    * [[simhashPairsWide]] with the signature width from
    * [[simhashSigLongs]]. `n` is the caller-known corpus size for that
    * rule; the default −1 spends a `df.count()` job. */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, n: Long = -1L): DataFrame =
    simhashPairsWide(df, idCol, textCol, maxHamming,
      simhashSigLongs(if (n >= 0) n else df.count(), maxHamming))

  /** Oracle-replayable twin of [[simhashPairsWide]]: a 60-bit signature
    * from two independent portable 30-bit SimHashes, blocked on 4×15-bit
    * pigeonhole chunks — complete for `maxHamming` ≤ 3. Returns
    * (id_a, id_b, hamming) over both longs. */
  def simhashPairsPortableWide(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 2): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 pigeonhole chunks cover maxHamming <= 3, got $maxHamming")
    BandJoin.pairs(portableSigs(df, col(idCol), textCol, "sig0", "sig1"),
      chunks(Seq(col("sig0"), col("sig1")), 2, 15, 30),
      Seq(hamming("sig0", "sig1").as("hamming")), col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs over a 63·`sigLongs`-bit signature: long j
    * is the SimHash of the tokens hashed with xxhash64(token, j), and
    * each long is cut into ceil((maxHamming + 1) / sigLongs) pigeonhole
    * chunks, so any pair within `maxHamming` over the whole signature
    * collides on a chunk. Widening the signature widens the chunks
    * (more buckets; SCALE.md "Dedup — SimHash"); at a fixed
    * `maxHamming` it also tightens the similarity threshold — scale
    * `maxHamming` with `sigLongs` to keep it. Returns (id_a, id_b,
    * hamming). */
  def simhashPairsWide(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, sigLongs: Int = 2): DataFrame = {
    require(sigLongs >= 1 && sigLongs <= 8,
      s"sigLongs must be in 1..8, got $sigLongs")
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val names = (0 until sigLongs).map(j => s"sig$j")
    val chunksPerLong =
      math.max(1, math.ceil((maxHamming + 1).toDouble / sigLongs).toInt)
    BandJoin.pairs(
      df.select(col(idCol).as("id") +: names.zipWithIndex.map { case (s, j) =>
        graft.functions.Sketches.simhash63(
          transform(split(col(textCol), " "), t => xxhash64(t, lit(j)))).as(s)
      }: _*),
      chunks(names.map(col), chunksPerLong, 63 / chunksPerLong, 63),
      Seq(hamming(names: _*).as("hamming")), col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-duplicate dedup: a row is DROPPED when any
    * smaller-id row has cosine >= threshold (deterministic greedy
    * representative selection, pairwise — exactly the SQL
    * `NOT EXISTS (smaller neighbor)` formulation, so the semantics are
    * oracle-checkable).
    *
    * exact=true finds pairs via a broadcast O(n²) self-join (the
    * verification path); exact=false uses banded hyperplane LSH
    * (Similarity.lshNearPairs) — the 100 TB path: only bucket-mates
    * meet, and since every candidate is verified with the exact cosine,
    * false positives are impossible; recall is the tuned quantity
    * (at threshold→1 near-dup pairs are caught deterministically:
    * positive scaling preserves hyperplane signs bit-for-bit). */
  def embeddingDedup(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, exact: Boolean = false): DataFrame = {
    val pairs =
      if (exact) Similarity.exactNearPairs(df, idCol, vecCol, threshold)
      else Similarity.lshNearPairs(df, idCol, vecCol, threshold = threshold)
    df.join(pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard pairs (the oracle-able ground truth for the
    * approximate methods): explode shingles, self-join on shingle,
    * jaccard = |∩| / (|A| + |B| - |∩|). Quadratic in docs sharing a
    * shingle — the exact path for verification, not the 100 TB path. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.6): DataFrame = {
    // ONE tokenize+shingle kernel pass (r14 optimization). The r13 plan
    // scanned the input and ran graft_shingles+explode FOUR times — the
    // self-join's two sides plus two per-id count subplans — because
    // Spark does no DAG-level CSE across join inputs. Two changes:
    //  - the per-id shingle count rides on every exploded row
    //    (shingles() is distinct per doc, so size(array) == the old
    //    count(*) per id) — the two count subplans and their joins and
    //    broadcasts disappear, and the groupBy below carries n_a/n_b as
    //    functionally-dependent extra keys;
    //  - the exploded (id, n, s) set is localCheckpoint'ed so both join
    //    sides read the materialized rows instead of re-running the
    //    scan+kernel. Blocks are released by the ContextCleaner when the
    //    result frame dies (same caller-owned contract as Clustering's
    //    output checkpoint); lineage loss is fine — this is a
    //    deterministic derivation of an immutable parquet scan.
    // This is the exact VERIFICATION path (quadratic by design, see
    // scaladoc); the materialized shingle set is corpus-token-sized, so
    // at 100 TB the scale path stays minhashPairs — unchanged here.
    val sh = Materialize.checkpoint(
      df.select(col(idCol).as("id"),
          shingles(col(textCol), shingleSize).as("shs"))
        .select(col("id"), size(col("shs")).cast("long").as("n"),
          explode(col("shs")).as("s")),
      eager = true)
    sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      // threshold on the RAW ratio (the oracle's filter); rounding is
      // display-only — filtering on the rounded value would admit pairs
      // in [threshold - 5e-5, threshold) that the oracle rejects
      .withColumn("jacc_raw", col("inter").cast("double")
        / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jacc_raw") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("jacc_raw"), 4).as("jaccard"))
  }

  // ── exact substring dedup (span level) ──────────────────────────────
  // Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
  // Better"): a substring of >= W tokens appearing more than once in the
  // corpus is cut everywhere except its first occurrence. The paper
  // builds a suffix array; the Spark-shaped equivalent is one shuffle of
  // the corpus's W-token window fingerprints — the window hash plays the
  // suffix-sort's role of co-locating equal substrings. Doc-level dedup
  // (exactDedup/minhashPairs/simhashPairs) cannot see these: two distinct
  // documents sharing one boilerplate paragraph keep both copies.

  /** The two independent portable window-hash families
    * [w, cpBase, prime, mult, multPrime, winBase] keying the duplicate
    * groupBy (~60 combined bits; false-pair odds for a differing window
    * ~1e-18 — birthday-safe to ~1e9 windows, and DupWindowHashes is
    * parametric so a third family can join the key at true 100 TB
    * corpus sizes). Family A is exactly the PortableSimhash30 token-hash /
    * fingerprintPortable hash family; family B differs in every
    * constant (all six primes). */
  private[graft] def winFamilyA(w: Int): Seq[Long] =
    Seq(w, 131L, 1000000007L, 2654435761L, 1073741789L, 31L)
  private[graft] def winFamilyB(w: Int): Seq[Long] =
    Seq(w, 137L, 998244353L, 2246822519L, 1073741783L, 37L)

  /** Non-keeper occurrences of duplicated W-token windows:
    * (doc_id, pos) where the window starting at token `pos` appears at
    * more than one (doc, pos) in the corpus under BOTH hash families and
    * this occurrence is not the global minimum (doc_id, pos) — the one
    * copy that survives. Each scan pass computes both window-hash
    * arrays together (codegen'd DupWindowHashes), and the only shuffle
    * carries (doc_id, pos, h1, h2) per window — the text never moves;
    * the duplicate-key side re-runs the scan+kernel rather than
    * materializing the corpus-token-sized window set (two cheap scans
    * beat one huge persist). The duplicate test is a partial-agg groupBy (not
    * a window function: a boilerplate window repeated 1e8 times at
    * 100 TB would have to buffer its whole hash group in one WindowExec
    * partition; the agg reduces map-side and the join back streams). */
  private def duplicateWindowOccurrences(
      df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    import graft.functions.Sketches.dupWindowHashes
    val wins = df
      .select(col(idCol).as("doc_id"),
        dupWindowHashes(col(textCol), winFamilyA(w)).as("h1s"),
        dupWindowHashes(col(textCol), winFamilyB(w)).as("h2s"))
      .select(col("doc_id"),
        posexplode(zip_with(col("h1s"), col("h2s"),
          (a, b) => struct(a.as("h1"), b.as("h2")))).as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("h.h1").as("h1"), col("h.h2").as("h2"))
    val dupKeys = wins
      .groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("keep"))
      .filter(col("cnt") > 1)
      .select(col("h1"), col("h2"), col("keep"))
    wins.join(dupKeys, Seq("h1", "h2"))
      .filter(!(col("doc_id") === col("keep.doc_id") &&
        col("pos") === col("keep.pos")))
      .select(col("doc_id"), col("pos"))
  }

  /** Duplicated-substring spans per document: every non-keeper
    * occurrence of a duplicated W-token window, merged into maximal
    * half-open token intervals [span_start, span_end). Interval merge is
    * the classic islands shape — one window partitioned by doc (spans
    * per doc are few; the heavy (h1,h2) shuffle happened upstream).
    * Returns (doc_id, span_start, span_end, n_windows). */
  def duplicateSpans(
      df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + w)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    duplicateWindowOccurrences(df, idCol, textCol, w)
      .withColumn("ni",
        when(prevEnd.isNull || col("pos") > prevEnd, 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + w).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** Rewrite documents with duplicated substrings cut: tokens covered by
    * any [[duplicateSpans]] interval are dropped. The keeper occurrence
    * — the corpus-global minimum (doc_id, pos) — is never itself a
    * span, but a span from a DIFFERENT duplicate group may overlap it
    * and cut into its tokens (exactly Lee et al.'s span-cut behavior:
    * the guarantee is that no duplicated window survives twice, not
    * that every substring keeps one intact copy). Spans
    * join back as a per-doc list (few per doc) and the cut is a map-side
    * indexed filter; fp_clean is the engine-portable rolling fingerprint
    * of the surviving tokens, so an external oracle verifies the rewrite
    * bit-for-bit without shipping the text. Returns
    * (doc_id, n_tokens, n_kept, fp_clean). */
  def cutDuplicateSpans(
      df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame =
    cutWithSpans(df, idCol, textCol, duplicateSpans(df, idCol, textCol, w))

  /** The rewrite stage of [[cutDuplicateSpans]] alone, given an
    * already-computed [[duplicateSpans]] span set — split so the
    * ×100 scaling of the span DISCOVERY and the span APPLICATION can
    * be attributed separately (SCALE.md "Dedup — exact substring
    * spans", r14 adjudication; OPTIMIZATION_r14 §8), and so callers that
    * materialized spans (e.g. to inspect them) don't pay the
    * discovery twice. Identical plan to the fused call. */
  def cutWithSpans(
      df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val spanLists = spans
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("spans"))
    // null text coalesces to '' so n_tokens reads 0, not size(null) = -1
    // (r11 ADVICE: the DuckDB replay must apply the same coalesce — the
    // testdata corpus is non-null, but degenerate input should agree)
    df.select(col(idCol).as("doc_id"),
        coalesce(col(textCol), lit("")).as("text"))
      .join(spanLists, Seq("doc_id"), "left")
      .withColumn("spans", coalesce(col("spans"),
        array().cast("array<struct<s:bigint,e:bigint>>")))
      .withColumn("ws", filter(split(col("text"), "\\s+"), t => t =!= ""))
      .withColumn("kept", filter(col("ws"), (_, i) =>
        !exists(col("spans"), sp =>
          i.cast("long") >= sp.getField("s") &&
            i.cast("long") < sp.getField("e"))))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        graft.functions.Sketches.rollingFpPortable(col("kept"))
          .as("fp_clean"))
  }

  // ── incremental dedup against a persisted signature store (r13) ──────
  // Every dedup above is batch-global; the production curation shape
  // dedups each NEW crawl snapshot against the historical corpus
  // WITHOUT rescanning its text: persist (id, signature) once, then
  // each new batch band-joins its signatures against the store and
  // appends its own. The store holds every signature ever SEEN (kept
  // or dropped — a new doc matching a previously-dropped doc is still
  // a duplicate), which is also exactly what makes incremental ≡ batch:
  // under the greedy smaller-id keeper rule, "dup iff any match in the
  // store OR an earlier match in this batch" over batches A then B is
  // the same predicate as "dup iff any smaller-id match" over A ∪ B
  // whenever store ids precede batch ids (PipelineSpec asserts the law
  // on the keeper set AND the dup_src attribution). At 8 bytes/sig the
  // store is ~0.01% of a text corpus — the history side ships
  // signatures only, never text (PipeScale meters it).

  /** The persistable signature-store rows for [[incrementalDedupSimhash]]:
    * (id BIGINT, sig BIGINT) under the portable 30-bit SimHash (the
    * pipe_dedup_simhash signature — an external engine recomputes it
    * bit-for-bit, so the whole incremental decision is oracle-
    * replayable). Write this once per batch; union/append is the only
    * store maintenance. */
  def simhashStorePortable(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    portableSigs(df, col(idCol).cast("long"), textCol, "sig")

  /** `id` plus one portable 30-bit SimHash per name: the first under
    * the scramble multiplier 2654435761, the second under 2246822519
    * (xxhash's prime2; both odd, so both spread the polynomial across
    * all 30 bits). */
  private def portableSigs(df: DataFrame, id: Column, textCol: String,
      names: String*): DataFrame = {
    df.select(id.as("id") +: names.zip(Seq(2654435761L, 2246822519L)).map {
      case (n, m) =>
        graft.functions.Sketches.portableSimhash30(col(textCol), m).as(n)
    }: _*)
  }

  /** An empty signature store (first snapshot bootstrap): `id` plus
    * one BIGINT per signature column — `Seq("sig0", "sig1")` for the
    * wide and auto stores. */
  def emptySigStore(spark: org.apache.spark.sql.SparkSession,
      sigCols: Seq[String] = Seq("sig")): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(("id" +: sigCols).map(StructField(_, LongType))))
  }

  /** Dedup a new batch against a persisted signature store: a batch doc
    * is a duplicate iff some store signature or some smaller-id batch
    * signature lies within `maxHamming` (0..3) of its portable 30-bit
    * SimHash, blocked on the 4×8-bit chunks of [[simhashPairsPortable]].
    * `useBloom` prefilters the store scan (exactness-neutral); the
    * batch signatures are checkpointed. Returns (doc_id, sig, is_dup,
    * dup_src), dup_src = smallest matching id, null for keepers; append
    * `.select(col("doc_id").as("id"), col("sig"))` to the store for the
    * next snapshot. */
  def incrementalDedupSimhash(
      storeSigs: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      maxHamming: Int = 1, useBloom: Boolean = true): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"portable pigeonhole blocking covers maxHamming 0..3, got $maxHamming")
    BandJoin.store(storeSigs, simhashStorePortable(batch, idCol, textCol),
      chunks(Seq(col("sig")), 4, 8, 30), hamming("sig") <= maxHamming,
      useBloom, persistSigs = true)
  }

  // ── incremental dedup against a persisted MinHash-LSH store (r14) ───
  // The Jaccard face of the signature store: production curation
  // pipelines (the DCLM/FineWeb/Dolma lineage) predominantly dedup on
  // MinHash-LSH banding, so the store operator needs a MinHash variant
  // alongside SimHash. The signature is ENGINE-PORTABLE (codepoint-
  // polynomial shingle hashes × 16 odd-multiplier families — the
  // PortableMinHash kernel) so an external oracle recomputes every
  // signature, band key, and agreement count bit-for-bit: unlike the
  // xxhash64 minhashPairs (whose output is oracle-checked against the
  // EXACT jaccard pair set), the incremental decision itself is
  // value-replayable. The dup rule is symmetric — pair (x, y) is a
  // match iff some band's signature slice is identical AND at least
  // 8 of the 16 positions agree (est-Jaccard ≥ 1/2 as an integer
  // test, no fp) — so the store-OR-earlier greedy rule
  // equals the global smaller-id rule whenever store ids precede batch
  // ids, exactly the SimHash store's law (PipelineSpec asserts it).

  /** Default portable-MinHash kernel params for the store family:
    * [k, shingleN, cpBase, prime, multPrime, multBase] — family-A
    * constants (fingerprintPortable's polynomial, the Knuth multiplier
    * as the first of k odd multipliers multBase + 2q). */
  private[graft] def portableMinhashParams(k: Int, n: Int): Seq[Long] =
    Seq(k.toLong, n.toLong, 131L, 1000000007L, 1073741789L, 2654435761L)

  /** The persistable MinHash-store rows: (id BIGINT, sig ARRAY<BIGINT>
    * length 16) under the portable MinHash of word 3-shingles. At 128 B
    * per document the store is still ~0.1% of a text corpus;
    * append-only, exactly the [[simhashStorePortable]] contract. */
  def minhashSigStore(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol).cast("long").as("id"),
      graft.functions.Sketches.portableMinhash(coalesce(col(textCol),
        lit("")), portableMinhashParams(16, 3)).as("sig"))
  }

  /** Dedup a new batch against a persisted MinHash signature store
    * (rows of [[minhashSigStore]]): a batch doc is a duplicate iff some
    * store or smaller-id batch signature has an IDENTICAL slice in one
    * of the 4 bands of 4 positions and agrees on at least 8 of all 16
    * positions (integer est-Jaccard ≥ 1/2). The band key is a
    * polynomial fold of the slice, so the join carries the slice itself
    * as an exact residual. `useBloom` and the checkpointed batch
    * signatures as for [[incrementalDedupSimhash]]. Returns (doc_id,
    * sig, is_dup, dup_src). */
  def incrementalDedupMinhash(
      storeSigs: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      useBloom: Boolean = true): DataFrame = {
    val (bands, r, minAgree) = (4, 4, 8)
    // slice values < 2^30, so acc*31 + v stays < 2^35
    val sliceBands = array((0 until bands).map { b =>
      val s = slice(col("sig"), b * r + 1, r)
      struct(aggregate(s, lit(0L),
          (acc, v) => pmod(acc * 31 + v, lit(1000000007L))).as("key"),
        s.as("slice"))
    }: _*)
    val agree = aggregate(zip_with(col("sig_a"), col("sig_b"),
      (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, x) => acc + x)
    BandJoin.store(storeSigs, minhashSigStore(batch, idCol, textCol),
      sliceBands, agree >= minAgree, useBloom, persistSigs = true)
  }

  /** Wide-signature store rows: (id, sig0, sig1) — two independent
    * portable 30-bit SimHashes (the simhashPairsPortableWide scrambles),
    * 60 signature bits. The store schema for corpora past the narrow
    * path's bucket headroom: chunks widen 8 → 15 bits, bucket space
    * 4·2^8 → 4·2^15, the same widening lever as simhashPairsWide. */
  def simhashStorePortableWide(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    portableSigs(df, col(idCol).cast("long"), textCol, "sig0", "sig1")

  /** [[incrementalDedupSimhash]] over the wide 60-bit portable
    * signature of [[simhashStorePortableWide]]: hamming over both longs
    * within `maxHamming` (0..3), 4×15-bit pigeonhole chunks. Returns
    * (doc_id, sig0, sig1, is_dup, dup_src). */
  def incrementalDedupSimhashWide(
      storeSigs: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      maxHamming: Int = 2, useBloom: Boolean = true,
      persistSigs: Boolean = true): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-chunk pigeonhole blocking covers maxHamming 0..3, got $maxHamming")
    BandJoin.store(storeSigs, simhashStorePortableWide(batch, idCol, textCol),
      chunks(Seq(col("sig0"), col("sig1")), 2, 15, 30),
      hamming("sig0", "sig1") <= maxHamming, useBloom, persistSigs)
  }

  /** The measured narrow-path headroom (SCALE.md): the narrow 4×2^8
    * blocking turns superlinear past ~50k store signatures — about 200
    * signatures per bucket across the 256 buckets of each chunk. */
  val incrementalStoreNarrowMax: Long = 200L * 256

  /** Knee-aware incremental SimHash dedup over the stable wide store
    * schema (id, sig0, sig1). Up to `narrowMax` store signatures it
    * applies the narrow rule — 4×8-bit chunks of sig0, hamming(sig0) ≤
    * `maxHamming` (0..1) — and past it the wide rule of
    * [[incrementalDedupSimhashWide]] at 2·`maxHamming`, the same
    * relative threshold over 60 bits. `n` is the caller-known store
    * size; the default −1 spends a `storeSigs.count()` job. The report
    * is (doc_id, sig0, sig1, is_dup, dup_src) in both modes; below the
    * knee its decision equals [[incrementalDedupSimhash]] on sig0. */
  def incrementalDedupSimhashAuto(
      storeSigs: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      maxHamming: Int = 1, n: Long = -1L,
      narrowMax: Long = incrementalStoreNarrowMax,
      persistSigs: Boolean = true): DataFrame = {
    // the wide mode runs at 2·maxHamming, and its 4-chunk pigeonhole
    // only covers hamming ≤ 3
    require(maxHamming >= 0 && maxHamming <= 1,
      s"auto dispatch covers maxHamming 0..1, got $maxHamming")
    val size = if (n >= 0L) n else storeSigs.count()
    if (size <= narrowMax)
      BandJoin.store(storeSigs, simhashStorePortableWide(batch, idCol, textCol),
        chunks(Seq(col("sig0")), 4, 8, 30), hamming("sig0") <= maxHamming,
        useBloom = true, persistSigs)
    else
      incrementalDedupSimhashWide(storeSigs, batch, idCol, textCol,
        2 * maxHamming, useBloom = true, persistSigs = persistSigs)
  }
}

/** Filter-and-verify band join: the one core behind every pair and
  * store dedup operator in [[Dedup]] and [[Similarity.lshNearPairs]].
  *
  * Inputs are signature rows `(id, sig…)`, a `bands` column — the
  * row's band keys as an array, element i the key of band i — and a
  * verify rule over the suffixed sides (`c_a` for the left or batch
  * row, `c_b` for the right or matched row, for every column `c`). A
  * key is a long (a chunk value, a slice hash) or a struct whose
  * fields all join, so a struct can add an exact residual to a hashed
  * key (the MinHash store's slice). Rows meet in an equi-join on the
  * band index and every key field. Only `(id, band, key…)` rows and a
  * carried signature ever shuffle — never text.
  *
  * Two modes:
  *  - [[pairs]]: self-join with `l.id < r.id`, `distinct` (a pair
  *    colliding in several bands is one candidate), verify;
  *  - [[store]]: batch × store plus the batch self-join on
  *    `r.id < l.id`, `distinct`, verify, `min(src)` per batch id, and a
  *    left join back: `(doc_id, sig…, is_dup, dup_src)`.
  *
  * Completeness. Pigeonhole (SimHash): a signature cut into m disjoint
  * chunks, two signatures within hamming h ≤ m − 1 leave at least one
  * chunk untouched, so every such pair shares a `(band, key)` and the
  * blocking finds all of them; the verify makes the result exact.
  * Banding (MinHash, hyperplane LSH): a pair is a candidate iff some
  * band (an r-position slice) agrees — P = 1 − (1 − s^r)^b at
  * per-position agreement s — so recall is the banding S-curve and
  * precision is exact; where the rule itself demands a band match (the
  * MinHash store) the join is complete by construction.
  *
  * The store side's Bloom prefilter holds every batch band key. A Bloom
  * filter has no false negatives, so every store row that could join a
  * batch row passes; a false positive only lets through a row the
  * equi-join then drops. The join output, and everything after it, is
  * the same with the prefilter on or off: it is exactness-neutral. The
  * sketch is a driver scalar probed map-side on the store scan, so only
  * store rows whose key might collide shuffle. */
private[pipeline] object BandJoin {
  // 64 KB sketch: ~10 bits per key (fp ≈ 1%) up to ~50k distinct batch
  // band keys. A bigger sketch costs every call a bigger plan literal; a
  // fuller one only lets more store rows shuffle, never changes a result.
  private val BloomBits = 1 << 19
  private val BloomHashes = 5

  /** Pairs mode: `(id_a, id_b, score…)` with `id_a < id_b`, kept where
    * `keep` (over the score columns) holds. `fetch = false` carries the
    * signature through the join (small fixed-width SimHash signatures);
    * `fetch = true` joins only ids, and after `distinct` fetches the
    * payload by id from an eager checkpoint of `sigs` — the result is
    * itself an eager checkpoint, and the signature blocks are released
    * once it owns the pairs. `spreadVerify` repartitions the fetched
    * candidates to the default parallelism before scoring: candidate
    * rows are small in bytes, so AQE would otherwise coalesce a
    * CPU-bound verify into a few partitions. */
  def pairs(
      sigs: DataFrame, bands: Column, score: Seq[Column], keep: Column,
      fetch: Boolean = false, spreadVerify: Boolean = false): DataFrame = {
    val payload = sigs.columns.toSeq.filter(_ != "id")
    val base = if (fetch) Materialize.checkpoint(sigs) else sigs
    val carry = if (fetch) Nil else payload
    val (r, keys) = rows(base, carry, bands)
    val cand = r.as("l")
      .join(r.as("r"), on(keys) && col("l.id") < col("r.id"))
      .select(side("l", "_a", carry) ++ side("r", "_b", carry): _*)
      .distinct()
    def verify(c: DataFrame): DataFrame =
      c.select(col("id_a") +: col("id_b") +: score: _*).filter(keep)
    if (!fetch) verify(cand)
    else {
      def payloadAs(s: String): DataFrame = base.select(
        col("id").as("id" + s) +: payload.map(c => col(c).as(c + s)): _*)
      val joined = cand.join(payloadAs("_a"), "id_a")
        .join(payloadAs("_b"), "id_b")
      val spread =
        if (!spreadVerify) joined
        else joined.repartition(
          sigs.sparkSession.sparkContext.defaultParallelism,
          col("id_a"), col("id_b"))
      val out = Materialize.checkpoint(verify(spread))
      GraftSqlShim.unpersistLocalCheckpoint(base)
      out
    }
  }

  /** Store mode: dedup the `batch` signature rows against `storeSigs` rows
    * (same schema). A batch doc is a duplicate iff `keep` holds for
    * some band-colliding store row (any id) or smaller-id batch row;
    * `dup_src` is the smallest such id. The signature carries through
    * the join. `persistSigs` checkpoints the batch signatures (read by
    * the sketch, both self-join sides and the report join); repeated
    * callers such as a streaming sink pass false and recompute. */
  def store(
      storeSigs: DataFrame, batch: DataFrame, bands: Column, keep: Column,
      useBloom: Boolean, persistSigs: Boolean): DataFrame = {
    val payload = batch.columns.toSeq.filter(_ != "id")
    val bs = if (persistSigs) Materialize.checkpoint(batch) else batch
    val (bc, keys) = rows(bs, payload, bands)
    val (sc0, _) = rows(
      storeSigs.select(col("id").cast("long").as("id") +: payload.map(col): _*),
      payload, bands)
    val sc =
      if (!useBloom) sc0
      else {
        val bloomKey = xxhash64(keys.map(col): _*)
        val sketch = bc.select(bloomKey.as("k")).distinct()
          .agg(graft.functions.Bloom.sketch(col("k"), BloomBits, BloomHashes))
          .head().getAs[Array[Byte]](0)
        sc0.filter(graft.functions.Bloom.contains(lit(sketch), bloomKey))
      }
    val sides = side("l", "_a", payload) ++ side("r", "_b", payload)
    val storeMatches = bc.as("l").join(sc.as("r"), on(keys)).select(sides: _*)
    val batchMatches = bc.as("l")
      .join(bc.as("r"), on(keys) && col("r.id") < col("l.id"))
      .select(sides: _*)
    val dupSrc = storeMatches.union(batchMatches)
      .distinct()
      .filter(keep)
      .groupBy(col("id_a").as("id")).agg(min(col("id_b")).as("dup_src"))
    bs.join(dupSrc, Seq("id"), "left")
      .select((col("id").as("doc_id") +: payload.map(col)) ++
        Seq(col("dup_src").isNotNull.as("is_dup"), col("dup_src")): _*)
  }

  /** One row per (id, band) — `id`, the `carry` columns, `band` and the
    * key (a struct key as its fields) — and the join column names. */
  private def rows(sigs: DataFrame, carry: Seq[String],
      bands: Column): (DataFrame, Seq[String]) = {
    val kept = col("id") +: carry.map(col)
    val r0 = sigs.select(kept :+ posexplode(bands).as(Seq("band", "key")): _*)
    val r = r0.schema("key").dataType match {
      case _: org.apache.spark.sql.types.StructType =>
        r0.select(kept :+ col("band") :+ col("key.*"): _*)
      case _ => r0
    }
    (r, r.columns.toSeq.diff("id" +: carry))
  }

  private def on(keys: Seq[String]): Column =
    keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)

  /** `id` and `cols` of the aliased side, suffixed `_a` / `_b`. */
  private def side(alias: String, suffix: String, cols: Seq[String])
      : Seq[Column] =
    ("id" +: cols).map(c => col(s"$alias.$c").as(c + suffix))
}
