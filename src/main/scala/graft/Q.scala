package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark-side plan builder plus an equivalent
  * DuckDB oracle over the same parquet tables (the correctness gate —
  * see Verify.scala).
  *
  * Conventions that keep the Spark-vs-DuckDB hash compare deterministic:
  *   - every floating-point AGGREGATE is rounded (raw column values pass
  *     through untouched — both engines read identical parquet bytes);
  *   - integer sums are kept BIGINT on both sides (DuckDB widens to
  *     HUGEINT; Spark's `year`/`month`/... return INT and are cast to long);
  *   - every result has a total ORDER BY (ties broken by a key column);
  *   - timestamps in output are cast to DATE or truncated to seconds
  *     (events.ts is ns in parquet: Spark truncates to micros, DuckDB
  *     keeps ns — raw ts output would hash-mismatch).
  */
final case class Q(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  /** Query with a DuckDB oracle. Every corpus query has one; `oracle`
    * stays an `Option` for the benchmark harness, which reads it. */
  def apply(oracle: String)(build: (SparkSession, String) => DataFrame): Q =
    Q(build, Some(oracle.stripMargin.trim))
}
