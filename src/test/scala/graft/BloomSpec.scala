package graft

import graft.functions.Bloom
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom filter aggregate properties: no false negatives ever, bounded
  * false-positive rate at the designed bits-per-key, and partition
  * independence (OR-merge makes the sketch bytes deterministic). */
class BloomSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def sketchOf(ids: Seq[Long], parts: Int): Array[Byte] = {
    import spark.implicits._
    ids.toDF("id").repartition(parts)
      .agg(Bloom.sketch(col("id"), 1 << 14, 5))
      .head().getAs[Array[Byte]](0)
  }

  test("no false negatives: every inserted key probes true") {
    import spark.implicits._
    val keys = (1L to 2000L).map(_ * 7)
    val sketch = sketchOf(keys, 8)
    val misses = keys.toDF("id")
      .filter(!Bloom.contains(lit(sketch), col("id")))
      .count()
    assert(misses === 0)
  }

  test("false-positive rate is near the designed bound") {
    import spark.implicits._
    val keys = (1L to 1000L).map(_ * 7)
    val sketch = sketchOf(keys, 8)
    // 16384 bits / 1000 keys ≈ 16 bits/key, k=5 → theoretical fp ~0.5%
    val absent = (1L to 20000L).map(_ * 7 + 3)
    val fps = absent.toDF("id")
      .filter(Bloom.contains(lit(sketch), col("id")))
      .count()
    assert(fps < 20000 * 0.02, s"fp rate ${fps / 20000.0} too high")
  }

  test("sketch bytes are partition-independent") {
    val keys = (1L to 500L).map(_ * 3)
    assert(java.util.Arrays.equals(sketchOf(keys, 1), sketchOf(keys, 16)))
  }

  test("a sketch built over INT keys matches BIGINT probes (and back)") {
    import spark.implicits._
    val intSketch = (1 to 300).toDF("id")
      .agg(Bloom.sketch(col("id"), 1 << 14, 5)).head().getAs[Array[Byte]](0)
    val missesWide = (1L to 300L).toDF("id")
      .filter(!Bloom.contains(lit(intSketch), col("id"))).count()
    assert(missesWide === 0, "INT-built sketch must accept BIGINT probes")
    val longSketch = (1L to 300L).toDF("id")
      .agg(Bloom.sketch(col("id"), 1 << 14, 5)).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(intSketch, longSketch))
  }

  test("garbage binary input fails loudly, not with wrong answers") {
    import spark.implicits._
    val err = intercept[Exception] {
      Seq(1L).toDF("id")
        .select(Bloom.contains(lit(Array[Byte](1, 2, 3)), col("id")))
        .head()
    }
    assert(err.getMessage != null)
  }

  test("SQL registration works end to end") {
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("id").createOrReplaceTempView("bloom_in")
    val bytes = spark.sql(
      "SELECT graft_bloom(id, 6400, 5) FROM bloom_in")
      .head().getAs[Array[Byte]](0)
    val hit = spark.sql(
      s"SELECT graft_bloom_contains(X'${bytes.map("%02x".format(_)).mkString}', CAST(2 AS BIGINT))")
      .head().getBoolean(0)
    assert(hit)
  }
}
