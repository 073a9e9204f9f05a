package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All queries live in `graft.queries.*` grouped by operator family; each
  * is a `Q` carrying the Spark plan builder and a DuckDB oracle for the
  * driver's correctness gate.
  */
object SparkEntry {
  /** Every registered query, keyed by name. */
  def all: Map[String, Q] =
    queries_.foldLeft(Map.empty[String, Q])(_ ++ _)

  private def queries_ : Seq[Map[String, Q]] = Seq(
    graft.queries.TpchQueries.defs,
    graft.queries.JoinSetSortQueries.defs,
    graft.queries.WindowQueries.defs,
    graft.queries.AggQueries.defs,
    graft.queries.FunctionQueries.defs,
    graft.queries.PipelineQueries.defs,
    graft.queries.StreamingQueries.defs,
    graft.queries.MiscQueries.defs,
    graft.queries.OperatorQueries.defs,
    graft.queries.SqlSurfaceQueries.defs,
    graft.queries.ExtrasQueries.defs,
    graft.queries.H2oClickQueries.defs,
    graft.tpcds.TpcdsQueries.defs
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    all("tpch_q1").build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, q) => k -> q.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables (every query has one). */
  def oracleSql: Map[String, String] =
    all.collect { case (k, q) if q.oracle.isDefined => k -> q.oracle.get }
}
