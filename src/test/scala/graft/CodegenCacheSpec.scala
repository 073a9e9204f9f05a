package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The generated-class cache must hold the engine's working set: with
  * Spark's default of 100 entries, every pass over TPC-H q1–q22 evicted
  * and recompiled its whole-stage classes (see Engine.session). The cap
  * is JVM-global and set by whichever session compiles first, so every
  * session in `src/main` must come from `Engine.session`. */
class CodegenCacheSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("a second TPC-H q1-q22 round compiles no generated class") {
    val tpch = (1 to 22).map(i => SparkEntry.all(s"tpch_q$i"))
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      tpch.foreach(_.build(spark, sf).write.format("noop").mode("overwrite").save())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiles()
    val second = compiles()
    assert(second == 0,
      s"second round compiled $second classes (first round: $first)")
  }

  test("Engine.session is the only SparkSession builder in src/main") {
    val offenders = MainSources.matchesOutside(
      raw"SparkSession\s*\.\s*builder".r, "graft/Engine.scala")
    assert(offenders.isEmpty,
      s"${offenders.size} SparkSession builders outside Engine.session: " +
        offenders.mkString(", "))
  }
}
