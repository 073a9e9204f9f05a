package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = Engine.session(cores = 4, appName = "graft-test")

  /** Wait until the listener bus has delivered every event posted so
    * far: it is asynchronous, so a listener's counts are only complete
    * after this. */
  def drainListenerBus(): Unit =
    org.apache.spark.sql.GraftSqlShim.drainListenerBus(spark.sparkContext)
}

/** Smoke: every registered query builds a plan and executes at sf0.001.
  * Value-level correctness is the DuckDB oracle gate (tools/check.py /
  * driver Verify); these tests guard plan-time regressions (analysis
  * errors, unresolved columns, bad casts) fast. */
class QueriesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  SparkEntry.all.foreach { case (name, q) =>
    test(s"$name executes") {
      val df = q.build(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle keys are a subset of query keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every query carries a DuckDB oracle") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == Set())
  }
}
