package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.Similarity

/** ANN-recall accounting for PipeScale's stages 4c/4d (PQ and IVF × PQ
  * recall): one definition of the replica-exclusion and shortlist
  * arithmetic, shared by both stages.
  *
  * Replica discipline: at replication factor `f` each query's literal
  * top-k is its own f−1 replicas, so both the ground truth and the
  * operator under test fetch k = 10+f−1 candidates, drop same-original
  * rows (n/f == q/f), and keep the first 10 in (distance asc, nid)
  * order — the recall statement is about the GEOMETRY, not about
  * finding one's own copies. */
object AnnRecall {

  /** Per-query top-10 neighbor sets from (qid, nid, score) rows, scored
    * ascending (L2 distance; callers with similarity scores negate). */
  def top10L2(df: DataFrame, f: Int): Map[Long, Set[Long]] = df
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    .groupBy(_._1).view.mapValues(
      _.filter { case (q, n, _) => n / f != q / f }
        .sortBy { case (_, n, dd) => (dd, n) }.take(10).map(_._2).toSet)
    .toMap

  /** Exact squared-L2 top-k ground truth (brute-force cross join,
    * queries broadcast), one computation shared by every consumer. */
  def l2Exact(corpus: DataFrame, queries: DataFrame,
      f: Int): Map[Long, Set[Long]] = {
    val kk = 10 + f - 1
    val cD = corpus.select(col("vec_id").as("nid"),
      transform(col("embedding"), _.cast("double")).as("nvec"))
    val qD = queries.select(col("vec_id").as("qid"),
      transform(col("embedding"), _.cast("double")).as("qvec"))
    val wL2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d").asc, col("nid"))
    val exact = top10L2(cD.crossJoin(broadcast(qD))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        Similarity.l2sq(col("qvec"), col("nvec")).as("d"))
      .withColumn("rn", row_number().over(wL2))
      .filter(col("rn") <= kk)
      .select(col("qid"), col("nid"), col("d")), f)
    require(exact.nonEmpty && exact.values.forall(_.size == 10),
      "L2 ground truth malformed")
    exact
  }

  /** Mean per-query recall@10 of `approx` against `exact`. */
  def recallVs(exact: Map[Long, Set[Long]],
      approx: Map[Long, Set[Long]]): Double =
    exact.map { case (q, s) =>
      (s intersect approx.getOrElse(q, Set.empty)).size / 10.0
    }.sum / exact.size
}
