package graft

import graft.DataFrameOps._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SessionContext/DataFrame facade delegates correctly: every entry
  * point a reference user would reach for produces the same result as
  * the underlying Spark API. */
class ContextSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val ctx = GraftContext(SparkTestSession.spark.newSession())

  test("sql + register_parquet round trip") {
    ctx.registerParquet("ctx_nation", s"$sf/nation.parquet")
    assert(ctx.sql("SELECT count(*) AS n FROM ctx_nation").head().getLong(0) == 25)
    assert(ctx.tableNames().contains("ctx_nation"))
    ctx.deregisterTable("ctx_nation")
    assert(!ctx.tableNames().contains("ctx_nation"))
  }

  test("parameterized sql binds named placeholders") {
    ctx.registerTestdata(sf)
    val n = ctx.sql(
      "SELECT count(*) AS n FROM nation WHERE n_regionkey = :rk",
      Map("rk" -> 2)).head().getLong(0)
    assert(n == 5)
  }

  test("graft functions are registered at construction") {
    val est = ctx.sql(
      "SELECT graft_theta_estimate(graft_theta_sketch(n_nationkey, 64)) FROM nation")
      .head().getLong(0)
    assert(est == 25)
  }

  test("GraftContext(spark) rejects a session without GraftExtensions") {
    val prior = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // the session's conf asks for no extensions
      val plain = Engine.session(cores = 4, appName = "graft-plain",
        overrides = Map("spark.sql.extensions" -> ""))
      val err = intercept[IllegalArgumentException](GraftContext(plain))
      assert(err.getMessage.contains("graft.GraftExtensions"), err.getMessage)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach(SparkSession.setDefaultSession)
      prior.foreach(SparkSession.setActiveSession)
    }
  }

  test("read/copyTo round trips csv, json, parquet, arrow") {
    val dir = "/tmp/graft_ctx_io"
    val src = ctx.readParquet(s"$sf/region.parquet")
    for (fmt <- Seq("csv", "json", "parquet")) {
      val path = s"$dir/$fmt"
      ctx.copyTo(src, path, fmt)
      val back = fmt match {
        case "csv" => ctx.readCsv(path)
        case "json" => ctx.readJson(path)
        case _ => ctx.readParquet(path)
      }
      assert(back.count() == src.count(), s"$fmt round trip")
    }
    sources.ArrowIpc.write(src, s"$dir/arrow")
    assert(ctx.readArrow(s"$dir/arrow").count() == src.count())
    sources.AvroIo.write(src, s"$dir/avro")
    assert(ctx.readAvro(s"$dir/avro").count() == src.count())
    ctx.registerAvro("ctx_avro_t", s"$dir/avro")
    assert(ctx.sql("SELECT count(*) AS n FROM ctx_avro_t").head().getLong(0)
      == src.count())
  }

  test("settings relation reflects SET statements (df_settings)") {
    ctx.sql("SET spark.sql.shuffle.partitions=7")
    val v = ctx.settings().filter(col("name") === "spark.sql.shuffle.partitions")
      .head().getString(1)
    assert(v == "7")
    ctx.sql("SET spark.sql.shuffle.partitions=4")
  }

  test("settings carries (name, value, description) like df_settings") {
    val df = ctx.settings()
    assert(df.columns.toSeq == Seq("name", "value", "description"))
    // a documented SQL conf gets Spark's own meaning text; a custom
    // key is listed with a NULL description
    val doc = df.filter(col("name") === "spark.sql.shuffle.partitions")
      .head()
    assert(!doc.isNullAt(2) && doc.getString(2).nonEmpty,
      "documented conf must carry a description")
    ctx.sql("SET spark.graft.ctx_spec_custom=on")
    val custom = ctx.settings()
      .filter(col("name") === "spark.graft.ctx_spec_custom").head()
    assert(custom.getString(1) == "on" && custom.isNullAt(2))
  }

  test("graft_settings view is queryable SQL and refreshes on re-register") {
    ctx.sql("SET spark.graft.view_probe=1")
    ctx.registerSettingsView()
    assert(ctx.sql("SELECT value FROM graft_settings " +
      "WHERE name = 'spark.graft.view_probe'").head().getString(0) == "1")
    ctx.sql("SET spark.graft.view_probe=2")
    ctx.registerSettingsView()
    assert(ctx.sql("SELECT value FROM graft_settings " +
      "WHERE name = 'spark.graft.view_probe'").head().getString(0) == "2")
  }

  test("registerTable exposes an in-memory DataFrame (MemTable)") {
    import ctx.spark.implicits._
    ctx.registerTable("ctx_mem", Seq((1, "a"), (2, "b")).toDF("id", "s"))
    assert(ctx.sql("SELECT sum(id) FROM ctx_mem").head().getLong(0) == 3)
  }

  test("DataFrameOps combinators match the Spark-native forms") {
    val nation = ctx.readParquet(s"$sf/nation.parquet")
    val agg = nation.aggregate(Seq(col("n_regionkey")),
      Seq(count(lit(1)).as("n")))
    assert(agg.collect().map(_.getLong(1)).sum == 25)
    val global = nation.aggregate(Nil, Seq(count(lit(1)).as("n")))
    assert(global.head().getLong(0) == 25)
    assert(nation.dropColumns("n_comment", "n_regionkey").columns.toSeq ==
      nation.drop("n_comment", "n_regionkey").columns.toSeq)
    val u = nation.select(col("n_regionkey")).unionDistinct(
      nation.select(col("n_regionkey")))
    assert(u.count() == 5)
    // distinct_on: one row per region, the alphabetically-first nation
    val d1 = nation.distinctOn(Seq(col("n_regionkey")), Seq(col("n_name")))
    assert(d1.count() == 5)
    val expected = nation.groupBy(col("n_regionkey"))
      .agg(min(col("n_name")).as("n_name"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    d1.collect().foreach { r =>
      val rk = r.getInt(nation.columns.indexOf("n_regionkey"))
      assert(r.getString(nation.columns.indexOf("n_name")) == expected(rk))
    }
    val out = "/tmp/graft_ctx_io/ops_parquet"
    nation.writeParquet(out)
    assert(ctx.readParquet(out).count() == 25)
  }
}
