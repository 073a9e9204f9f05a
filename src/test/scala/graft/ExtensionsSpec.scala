package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftWindowFunctions, NumberTheory, Sketches}

/** GraftExtensions wires the custom expressions and plan rules into any
  * session built with spark.sql.extensions=graft.GraftExtensions, and
  * nothing else adds them to a session. */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("extension-injected functions resolve in SQL") {
    // force a fresh session so spark.sql.extensions applies to a new
    // registry (getOrCreate would return the shared test session otherwise)
    val prior = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Engine.session(cores = 4, appName = "graft-ext")
    try {
      val names = (NumberTheory.builders ++ Sketches.scalarBuilders ++
        Sketches.aggregateBuilders ++ GraftWindowFunctions.builders).map(_._1)
      val missing = names.filterNot(n =>
        s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
      assert(names.nonEmpty && names.distinct == names && missing.isEmpty,
        s"${missing.size} of ${names.size} injected names do not resolve: " +
          missing.mkString(", "))
      val row = s.sql(
        "SELECT graft_gcd(12, 18) AS g, graft_lcm(4, 6) AS l").head()
      assert(row.getLong(0) == 6L && row.getLong(1) == 12L)
      // null propagation through the custom expressions
      assert(s.sql("SELECT graft_gcd(NULL, 18)").head().isNullAt(0))
      // sketch/pipeline primitives resolve too
      val r2 = s.sql("""SELECT
        graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
        graft_shingles('a b c', 2) AS sh,
        graft_inset_counts(array('the', 'x'), array(array('the'))) AS ic,
        graft_rolling_fp_portable(array('ab')) AS fp""").head()
      assert(r2.getDouble(0) == 1.0)
      assert(r2.getSeq[String](1) == Seq("a b", "b c"))
      assert(r2.getSeq[Long](2) == Seq(1L))
      assert(r2.getLong(3) == (97L * 131 + 98) % 1000000007L)
      // the sketch-aggregate tier is injected too (count-min/bloom/theta)
      val r3 = s.sql("""SELECT
        graft_theta_estimate(graft_theta_sketch(id, 64)) AS t,
        graft_count_min_estimate(graft_count_min(id, 4, 64), 3L) AS cm,
        graft_bloom_contains(graft_bloom(id, 6400, 5), 3L) AS b
        FROM range(10)""").head()
      assert(r3.getLong(0) == 10L)
      assert(r3.getLong(1) == 1L)
      assert(r3.getBoolean(2))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach(SparkSession.setDefaultSession)
      prior.foreach(SparkSession.setActiveSession)
    }
  }

  test("GraftExtensions is the only registration path in src/main") {
    val offenders = MainSources.matchesOutside(
      ("createOrReplaceTempFunction|registerFunction|" +
        "extraOptimizations|extraStrategies").r,
      "graft/GraftExtensions.scala")
    assert(offenders.isEmpty,
      s"${offenders.size} function/rule registrations outside " +
        "GraftExtensions: " + offenders.mkString(", "))
  }

  test("building a query adds no session-scoped rule or strategy") {
    SparkEntry.all("topk_aggregation").build(spark, "/root/testdata/sf0.001")
      .collect()
    assert(spark.experimental.extraOptimizations.isEmpty,
      spark.experimental.extraOptimizations.mkString(", "))
    assert(spark.experimental.extraStrategies.isEmpty,
      spark.experimental.extraStrategies.mkString(", "))
  }
}
