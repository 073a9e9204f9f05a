package graft

import graft.functions.Theta
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** KMV theta sketch properties: exactness below k, bounded error when
  * saturated, byte-determinism under partitioning, and the set-algebra
  * laws that make already-aggregated sketches composable. */
class ThetaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def sketchOf(ids: Seq[Long], k: Int, parts: Int = 4): Array[Byte] = {
    import spark.implicits._
    ids.toDF("id").repartition(parts)
      .agg(Theta.sketch(col("id"), k)).head().getAs[Array[Byte]](0)
  }

  private def est(sk: Array[Byte]): Long = {
    spark.range(1).select(Theta.estimate(lit(sk))).head().getLong(0)
  }

  test("below k the estimate is the exact distinct count") {
    val ids = (1L to 700L).map(_ * 13) ++ (1L to 700L).map(_ * 13) // dups
    assert(est(sketchOf(ids, k = 1024)) === 700L)
  }

  test("saturated estimate lands within ~3/sqrt(k) of the truth") {
    val n = 60000L
    val e = est(sketchOf((1L to n).map(_ * 31 + 7), k = 512))
    val rel = math.abs(e - n).toDouble / n
    assert(rel < 3.0 / math.sqrt(512.0), s"estimate $e off by $rel")
  }

  test("sketch bytes are partition- and order-independent") {
    val ids = (1L to 5000L).map(_ * 3)
    val a = sketchOf(ids, k = 256, parts = 1)
    val b = sketchOf(scala.util.Random.shuffle(ids), k = 256, parts = 16)
    assert(java.util.Arrays.equals(a, b))
  }

  test("union(sketch A, sketch B) == sketch(A ++ B), commutatively") {
    val xs = (1L to 4000L).map(_ * 5)
    val ys = (1L to 4000L).map(_ * 7)
    val sa = sketchOf(xs, k = 256); val sb = sketchOf(ys, k = 256)
    val un = spark.range(1)
      .select(Theta.union(lit(sa), lit(sb)), Theta.union(lit(sb), lit(sa)))
      .head()
    val both = sketchOf(xs ++ ys, k = 256)
    assert(java.util.Arrays.equals(un.getAs[Array[Byte]](0), both))
    assert(java.util.Arrays.equals(un.getAs[Array[Byte]](1), both))
  }

  test("intersection is exact while both sketches are unsaturated") {
    val xs = (1L to 900L).map(_ * 2)      // evens
    val ys = (1L to 600L).map(_ * 3)      // multiples of 3
    val expected = xs.toSet.intersect(ys.toSet).size.toLong // mult. of 6
    val got = spark.range(1)
      .select(Theta.intersect(
        lit(sketchOf(xs, k = 2048)), lit(sketchOf(ys, k = 2048))))
      .head().getLong(0)
    assert(got === expected)
  }

  test("saturated intersection estimate is within bound") {
    // |A| = |B| = 40000, |A ∩ B| = 20000 (shared block)
    val shared = (1L to 20000L).map(_ * 11 + 1)
    val xs = shared ++ (1L to 20000L).map(_ * 11 + 2)
    val ys = shared ++ (1L to 20000L).map(_ * 11 + 3)
    val got = spark.range(1)
      .select(Theta.intersect(
        lit(sketchOf(xs, k = 1024)), lit(sketchOf(ys, k = 1024))))
      .head().getLong(0)
    val rel = math.abs(got - 20000L).toDouble / 20000.0
    // intersection error compounds both sketches' θ noise — allow 6/√k
    assert(rel < 6.0 / math.sqrt(1024.0), s"estimate $got off by $rel")
  }

  test("nulls are skipped and k validates at resolution") {
    import spark.implicits._
    val e = Seq[java.lang.Long](1L, null, 2L, null, 1L).toDF("id")
      .agg(Theta.estimate(Theta.sketch(col("id"), 64))).head().getLong(0)
    assert(e === 2L)
    val err = intercept[Exception] {
      Seq(1L).toDF("id").agg(Theta.sketch(col("id"), 4)).head()
    }
    assert(err.getMessage != null)
  }
}
