package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing = the 100 TB co-located join strategy: both sides pre-hashed
  * into the same bucket layout on the join key → the join plans WITHOUT a
  * ShuffleExchange. This is the Spark analogue of pre-partitioned storage
  * the reference gets from its single-process partition files. */
class BucketingSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.01"

  private lazy val spark: SparkSession = Engine.session(4, "graft-bucketing",
    Map("spark.sql.warehouse.dir" -> "/tmp/graft_warehouse"))

  test("join of co-bucketed tables plans without any shuffle exchange") {
    // when suites share one JVM, getOrCreate returns the shared session and
    // ignores builder configs — set the runtime ones explicitly
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    val o = Engine.table(spark, sf, "orders")
    val l = Engine.table(spark, sf, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // metastore is per-JVM (fresh derby) but the warehouse dir persists —
    // drop leftover table locations from previous runs
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    Seq("b_orders", "b_lineitem").foreach { t =>
      val dir = new java.io.File(s"$warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")

    // static plan inspection: AQE would wrap the join in an adaptive node
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    val shuffles = joined.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    // only the final groupBy may shuffle; the join itself must not.
    // Count shuffles below the SortMergeJoin: must be zero.
    val smj = joined.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.nonEmpty, "expected a sort-merge join")
    val shufflesUnderJoin = smj.head.collect { case e: ShuffleExchangeExec => e }
    assert(shufflesUnderJoin.isEmpty,
      s"bucketed join must not shuffle, found ${shufflesUnderJoin.size}")

    // and it still returns the right answer
    val expected = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(shuffles.size <= 1)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
