package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Eval-set decontamination: flag (and drop) training documents that
  * share word n-grams with a benchmark/evaluation corpus. This is the
  * standard pre-training hygiene pass (n-gram collision against held-out
  * eval sets) that sits beside dedup in a training-data pipeline; the
  * reference engine has no built-in analogue — this is part of the
  * beyond-reference LLM-pipeline tier, built on the same codegen'd
  * Shingles expression as Dedup (functions/SketchExpressions.scala:245).
  *
  * Scale posture (100 TB train / small eval):
  *  - the shuffle carries (doc_id, xxhash64(shingle)) pairs only — the
  *    shingle text itself never moves (64-bit signatures; a collision
  *    needs ~2^32 DISTINCT eval shingles to become likely, and eval
  *    sets are orders of magnitude smaller);
  *  - shingle sets are DISTINCT per document before the join, so the
  *    join fan-out is bounded by |distinct shingles|, not text length;
  *  - the eval side aggregates to distinct (eval_id, hash) first — it
  *    is small by construction and AQE will broadcast it under the
  *    threshold; no forced broadcast hint (an eval set CAN grow past
  *    the 8 GB limit, at which point a shuffle join is the right plan).
  */
object Decontamination {

  /** Per-train-document contamination report against an eval corpus.
    *
    * Returns one row per train document with at least `minHits` distinct
    * overlapping n-grams: (doc_id, n_hits, n_eval_docs) where n_hits
    * counts distinct shared n-grams and n_eval_docs counts distinct
    * eval documents hit.
    */
  def contaminationReport(
      train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String,
      evalIdCol: String, evalTextCol: String,
      n: Int = 13, minHits: Int = 1): DataFrame = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val t = shingleHashes(train, idCol, textCol, n)
      .select(col("id").as("doc_id"), col("h"))
    val e = shingleHashes(eval, evalIdCol, evalTextCol, n)
      .select(col("id").as("eval_id"), col("h"))
    t.join(e, "h")
      .groupBy("doc_id")
      .agg(countDistinct(col("h")).as("n_hits"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .filter(col("n_hits") >= minHits)
  }

  /** The removal pass: train documents with NO contamination hit (per
    * `contaminationReport` at the same parameters), original columns
    * preserved. Left-anti join on the flagged id set — at scale the
    * flagged set is a tiny fraction of train, so the anti join's build
    * side stays small and AQE broadcasts it.
    */
  def removeContaminated(
      train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String,
      evalIdCol: String, evalTextCol: String,
      n: Int = 13, minHits: Int = 1): DataFrame = {
    val flagged = contaminationReport(train, eval, idCol, textCol,
        evalIdCol, evalTextCol, n, minHits)
      .select(col("doc_id"))
    train.join(flagged, train(idCol) === flagged("doc_id"), "left_anti")
  }

  /** Bloom-prefiltered contamination report — same result as
    * [[contaminationReport]] at the same parameters, different shuffle
    * bill. The plain path shuffles EVERY distinct train shingle hash
    * into the join with the eval side; at 100 TB train / small eval
    * that shuffle is ~all of train's shingle volume for a join whose
    * output is almost empty. Here the eval side's hashes are first
    * aggregated into a fixed-size Bloom sketch (one binary, collected
    * as a 1-row driver scalar like the IVF centroid list) and probed
    * MAP-SIDE on the train scan, before the per-document distinct and
    * the join — so the shuffle carries only shingles that might match
    * (true hits + the sketch's false-positive rate of the non-hits).
    * The exact join over the surviving slice then kills every false
    * positive: results are bit-identical to the plain path, including
    * under 64-bit signature collisions, because both paths join on the
    * same xxhash64 values.
    *
    * Sizing: default 2^23 bits ≈ 1 MB sketch; at numHashes=5 that holds
    * ~840k distinct eval shingles at ≈1% fp. The sketch is built from
    * eval DISTINCT hashes, so repeated n-grams don't inflate it.
    */
  def contaminationReportBloom(
      train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String,
      evalIdCol: String, evalTextCol: String,
      n: Int = 13, minHits: Int = 1,
      bloomBits: Int = 1 << 23, bloomHashes: Int = 5): DataFrame = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    require(bloomBits > 0 && bloomBits % 64 == 0,
      s"bloomBits must be a positive multiple of 64, got $bloomBits")
    require(bloomHashes >= 1 && bloomHashes <= 16,
      s"bloomHashes must be in 1..16, got $bloomHashes")
    val e = shingleHashes(eval, evalIdCol, evalTextCol, n)
      .select(col("id").as("eval_id"), col("h"))
    // one row, sketch bytes only — a sanctioned driver scalar (same
    // class as IVF centroids / packing partition totals)
    val sketch = e.select(col("h")).distinct()
      .agg(graft.functions.Bloom.sketch(col("h"), bloomBits, bloomHashes))
      .head().getAs[Array[Byte]](0)
    val t = train
      .select(col(idCol).as("id"),
        explode(Dedup.shingles(col(textCol), n)).as("s"))
      .select(col("id"), xxhash64(col("s")).as("h"))
      // map-side probe BEFORE the distinct: both the distinct's shuffle
      // and the join's carry only sketch-passing rows
      .filter(graft.functions.Bloom.contains(lit(sketch), col("h")))
      .distinct()
      .select(col("id").as("doc_id"), col("h"))
    t.join(e, "h")
      .groupBy("doc_id")
      .agg(countDistinct(col("h")).as("n_hits"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .filter(col("n_hits") >= minHits)
  }

  /** (id, 64-bit shingle signature) pairs, DISTINCT per document — this
    * distinct is what bounds the join fan-out by |distinct shingles|
    * rather than text length (a long doc repeating one contaminated
    * n-gram must not produce one hit row per repetition). Applied on
    * BOTH sides: train and eval callers go through here. */
  private def shingleHashes(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(Dedup.shingles(col(textCol), n)).as("s"))
      .select(col("id"), xxhash64(col("s")).as("h"))
      .distinct()
}
