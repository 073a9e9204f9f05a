package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Name-level parity with the reference's `SessionContext`
  * (datafusion/core/src/execution/context/mod.rs:457,979-1002) and the
  * combinator surface of its `DataFrame`
  * (datafusion/core/src/dataframe/mod.rs:260-1260) — a user of the
  * reference finds every entry point under its usual name here, each a
  * thin delegation to SparkSession/Dataset so the full Catalyst/Tungsten
  * pipeline stays in charge. Nothing in the library requires going
  * through this facade; it is the porting convenience layer.
  *
  * The session must carry `graft.GraftExtensions`, which injects every
  * graft_* function and plan rule (the `register_udf` family); the
  * constructor adds only the SQL-UDF parity layer
  * (`GraftFunctions.registerSql`), which has no injected twin.
  */
class GraftContext private (val spark: SparkSession) {
  functions.GraftFunctions.registerSql(spark)

  // ── SessionContext::sql / sql_with_options ──────────────────────────
  def sql(query: String): DataFrame = spark.sql(query)

  /** Parameterized statement (reference: prepared statements /
    * placeholders — expr Placeholder, sql/src/planner.rs). */
  def sql(query: String, args: Map[String, Any]): DataFrame =
    spark.sql(query, args)

  // ── SessionContext::read_* (lazy DataFrame over a path) ─────────────
  def readParquet(path: String): DataFrame = spark.read.parquet(path)

  def readCsv(path: String, header: Boolean = true,
      delimiter: String = ",", inferSchema: Boolean = true,
      schema: Option[StructType] = None): DataFrame = {
    var r = spark.read.option("header", header)
      .option("delimiter", delimiter)
    schema match {
      case Some(s) => r = r.schema(s)
      case None    => r = r.option("inferSchema", inferSchema)
    }
    r.csv(path)
  }

  def readJson(path: String): DataFrame = spark.read.json(path)

  /** Arrow IPC files (reference ArrowExec) — graft.sources.ArrowIpc. */
  def readArrow(path: String): DataFrame =
    sources.ArrowIpc.read(spark, path)

  /** Avro container files (reference SessionContext::read_avro,
    * AvroExec) — graft.sources.AvroIo, sync-marker-split scan. */
  def readAvro(path: String): DataFrame =
    sources.AvroIo.read(spark, path)

  // ── SessionContext::register_* (named tables) ───────────────────────
  def registerParquet(name: String, path: String): Unit =
    readParquet(path).createOrReplaceTempView(name)

  def registerCsv(name: String, path: String, header: Boolean = true): Unit =
    readCsv(path, header).createOrReplaceTempView(name)

  def registerJson(name: String, path: String): Unit =
    readJson(path).createOrReplaceTempView(name)

  /** register_avro (reference SessionContext::register_avro). */
  def registerAvro(name: String, path: String): Unit =
    readAvro(path).createOrReplaceTempView(name)

  /** MemTable analogue (core/src/datasource/memory.rs). */
  def registerTable(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)

  def deregisterTable(name: String): Unit =
    spark.catalog.dropTempView(name)

  /** Driver-provided testdata dir registration (ListingTable role). */
  def registerTestdata(sfDir: String): Unit =
    Engine.registerAll(spark, sfDir)

  // ── SessionContext::table / catalog ─────────────────────────────────
  def table(name: String): DataFrame = spark.table(name)

  def tableNames(): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq.sorted

  /** information_schema.df_settings analogue
    * (core/src/catalog/information_schema.rs:202 make_df_settings;
    * schema at :754-756 = name, value, description): the session's SQL
    * config as a relation. Descriptions come from Spark's own
    * documentation surface (`SET -v` lists every documented SQL conf
    * with its meaning); undocumented/custom keys carry NULL. SET and
    * SHOW-style statements go through sql() natively — `SET k=v`
    * updates the session conf this relation reads. */
  def settings(): DataFrame = {
    import spark.implicits._
    val documented = spark.sql("SET -v").collect()
      .map(r => r.getString(0) ->
        Option(r.getString(2)).filter(_.nonEmpty)).toMap
    spark.conf.getAll.toSeq.sortBy(_._1)
      .map { case (k, v) => (k, v, documented.get(k).flatten.orNull) }
      .toDF("name", "value", "description")
  }

  /** Register settings() as a queryable view (default name
    * `graft_settings` — the df_settings role). The view is a SNAPSHOT
    * of the conf at registration, like a materialized catalog table:
    * re-register after SET to observe changes (the reference rebuilds
    * its information_schema tables per scan). */
  def registerSettingsView(name: String = "graft_settings"): Unit =
    settings().createOrReplaceTempView(name)

  // ── CopyTo (COPY (df) TO path ...) ──────────────────────────────────
  /** csv defaults to a header row (the reference's csv writer default,
    * common/src/config.rs CsvOptions) so readCsv round-trips. */
  def copyTo(df: DataFrame, path: String, format: String = "parquet",
      partitionBy: Seq[String] = Nil): Unit =
    sources.CopyTo.copyTo(df, path, format, partitionBy,
      if (format == "csv") Map("header" -> "true") else Map.empty)
}

object GraftContext {
  /** Standalone context (reference `SessionContext::new`). */
  def apply(cores: Int = Runtime.getRuntime.availableProcessors()): GraftContext =
    new GraftContext(Engine.session(cores, appName = "graft-ctx"))

  /** Wrap an existing session (reference `SessionContext::new_with_state`).
    * Both the session's and its SparkContext's `spark.sql.extensions`
    * must name `graft.GraftExtensions`: nothing else adds the graft_*
    * functions or plan rules to a session, and Spark applies the
    * extensions of the context's conf. */
  def apply(spark: SparkSession): GraftContext = {
    val ext = classOf[GraftExtensions].getName
    val confs = Seq(spark.conf.getOption("spark.sql.extensions"),
      spark.sparkContext.getConf.getOption("spark.sql.extensions"))
      .map(_.getOrElse(""))
    require(confs.forall(_.split(",").map(_.trim).contains(ext)),
      s"GraftContext needs a session built with spark.sql.extensions=$ext " +
        s"(session: '${confs(0)}', SparkContext: '${confs(1)}'); use " +
        "Engine.session or GraftContext()")
    new GraftContext(spark)
  }
}

/** The reference `DataFrame` combinators whose names differ in Spark —
  * enable with `import graft.DataFrameOps._`. Everything else
  * (select/filter/join/sort/limit/union/distinct/intersect/except/
  * cache/explain/count/collect/show) already carries the same name on
  * Dataset and needs no wrapper. */
object DataFrameOps {
  implicit class RichGraftDataFrame(private val df: DataFrame) extends AnyVal {
    /** df.aggregate(groupExpr, aggrExpr) (dataframe/mod.rs:422). */
    def aggregate(groupExpr: Seq[Column], aggrExpr: Seq[Column]): DataFrame =
      if (groupExpr.isEmpty) df.agg(aggrExpr.head, aggrExpr.tail: _*)
      else df.groupBy(groupExpr: _*).agg(aggrExpr.head, aggrExpr.tail: _*)

    /** drop_columns (dataframe/mod.rs). */
    def dropColumns(cols: String*): DataFrame = df.drop(cols: _*)

    /** with_column / with_column_renamed. */
    def withColumnGraft(name: String, c: Column): DataFrame =
      df.withColumn(name, c)

    /** union_distinct (dataframe/mod.rs:1236 union + distinct). */
    def unionDistinct(other: DataFrame): DataFrame =
      df.union(other).distinct()

    /** distinct_on(on, selects, sortBy) — DISTINCT ON planned as
      * first_value aggregates (replace_distinct_aggregate.rs). */
    def distinctOn(on: Seq[Column], sortBy: Seq[Column]): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      val w = Window.partitionBy(on: _*).orderBy(sortBy: _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(org.apache.spark.sql.functions.col("__rn") === 1)
        .drop("__rn")
    }

    /** write_parquet / write_csv / write_json (dataframe/mod.rs sinks). */
    def writeParquet(path: String): Unit =
      df.write.mode("overwrite").parquet(path)
    def writeCsv(path: String): Unit =
      df.write.mode("overwrite").option("header", true).csv(path)
    def writeJson(path: String): Unit =
      df.write.mode("overwrite").json(path)
  }
}
