package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{
  ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** plans/SmallSort.scala: a small global sort runs as one narrow stage
  * (no range-sampling job, no shuffle), with the same rows in the same
  * order as the range-shuffle path. Every case is checked against the
  * same query with the rule off (`autoBroadcastJoinThreshold = -1`) and
  * with AQE off (where the rule never runs). */
class SmallSortSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"
  private val ruleOff = threshold -> "-1"
  private val aqeOff = "spark.sql.adaptive.enabled" -> "false"

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** 2,000 rows over 4 partitions: `a` has 13 values (ties), `b` 97
    * values and a null every 11th row, `s` 17 strings. */
  private def input: DataFrame =
    spark.range(0, 2000, 1, 4).select(
      col("id"),
      ((col("id") * 7919) % 13).as("a"),
      when(col("id") % 11 === 0, lit(null))
        .otherwise((col("id") * 31) % 97).as("b"),
      concat(lit("s"), ((col("id") * 13) % 17).cast("string")).as("s"))

  /** Each query outputs only its sort keys or ends on the unique `id`,
    * so its row order is fully determined and comparable across plans.
    * A Dataset plans once, under the conf of its first action, so every
    * run below builds a new one. */
  private def cases: Seq[(String, () => DataFrame)] = {
    def t = input
    Seq(
      "multi-key" -> (() => t.orderBy(col("a"), col("s").desc, col("id"))
        .select("a", "s", "id")),
      "desc" -> (() => t.orderBy(col("b").desc).select("b")),
      "nulls first/last" -> (() => t
        .orderBy(col("b").asc_nulls_last, col("a").desc_nulls_first)
        .select("b", "a")),
      "ties" -> (() => t.orderBy(col("a")).select("a")),
      "empty input" -> (() => t.filter(col("id") < 0).orderBy(col("a"))
        .select("a", "id")),
      "sort above an aggregate" -> (() => t.groupBy("a")
        .agg(count(lit(1)).as("n"), sum("b").as("sb"))
        .orderBy(col("sb").desc, col("a"))))
  }

  private def executed(df: DataFrame): (Seq[Row], SparkPlan) = {
    val rows = df.collect().toSeq
    (rows, df.queryExecution.executedPlan)
  }

  private def rangeShuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(p) {
      case e @ ShuffleExchangeExec(_: RangePartitioning, _, _, _) => e
    }

  /** Jobs started by `body`, with the listener bus drained on both
    * sides; suites in this JVM run one at a time. */
  private def jobsOf(body: => Unit): Int = {
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.incrementAndGet()
    }
    SparkTestSession.drainListenerBus()
    spark.sparkContext.addSparkListener(l)
    try { body; SparkTestSession.drainListenerBus() }
    finally spark.sparkContext.removeSparkListener(l)
    seen.get
  }

  test("a small ORDER BY plans no range exchange and runs fewer jobs") {
    def q = input.orderBy(col("b").desc, col("id"))
    val (_, plan) = executed(q)
    assert(rangeShuffles(plan).isEmpty,
      s"small sort still range-shuffles:\n$plan")
    assert(collect(plan) { case c: CoalesceExec => c }.size == 1, plan)
    val jobs = jobsOf(q.collect())
    val off = withConf(ruleOff)(jobsOf(q.collect()))
    val noAqe = withConf(aqeOff)(jobsOf(q.collect()))
    info(s"jobs: rule $jobs, rule off $off, AQE off $noAqe")
    assert(jobs < off && jobs < noAqe,
      s"jobs with the rule $jobs, rule off $off, AQE off $noAqe")
  }

  test("rows and row order match the range-shuffle path") {
    cases.foreach { case (name, df) =>
      val (rows, plan) = executed(df())
      assert(rangeShuffles(plan).isEmpty, s"$name: range exchange left")
      val off = withConf(ruleOff)(executed(df()))
      val noAqe = withConf(aqeOff)(executed(df()))
      if (name != "empty input") {
        assert(rangeShuffles(off._2).nonEmpty, s"$name: rule-off baseline")
        assert(rows.nonEmpty, name)
      }
      assert(rows == off._1, s"$name differs from the rule-off plan")
      assert(rows == noAqe._1, s"$name differs from the AQE-off plan")
    }
  }

  test("a child above the threshold keeps its range partitioning") {
    def q = input.orderBy(col("a"), col("id"))
    val (rows, plan) = withConf(threshold -> "1024")(executed(q))
    assert(rangeShuffles(plan).exists(_.shuffleOrigin == ENSURE_REQUIREMENTS),
      s"2,000-row input over a 1 KB threshold lost its range shuffle:\n$plan")
    assert(rows == withConf(aqeOff)(executed(q))._1)
  }

  test("a sort above an aggregate qualifies on its runtime size") {
    // the static estimate of a 3-group aggregate over 2,000 rows scales
    // with the input, over 1 KB; the finished aggregate stage has written
    // at most 3 rows per map task
    def q = input.groupBy((col("id") % 3).as("g")).agg(count(lit(1)).as("n"))
      .orderBy("g")
    withConf(threshold -> "1024") {
      val small = q
      assert(small.queryExecution.executedPlan.toString.contains("rangepartitioning"),
        "the initial plan should still range-shuffle on the static estimate")
      val (rows, plan) = executed(small)
      assert(rangeShuffles(plan).isEmpty, s"runtime size ignored:\n$plan")
      assert(rows == withConf(aqeOff)(executed(q))._1)
    }
  }

  test("repartitionByRange(16, …) keeps its 16 partitions") {
    def parts = input.repartitionByRange(16, col("id"))
      .select(spark_partition_id()).distinct().count()
    assert(parts == 16)
    assert(withConf(ruleOff)(parts) == 16)
    assert(withConf(aqeOff)(parts) == 16)
  }
}
