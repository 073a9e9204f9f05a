package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The function-parity wrappers that no corpus query calls, each
  * checked against a JVM oracle or a law. */
class GraftFunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import GraftFunctionsSpec._

  test("to_timestamp_nanos truncates nanoseconds to microseconds") {
    import spark.implicits._
    val nanos = Seq(0L, 999L, 1000L, 1001L, -1L, -999L, -1000L, -1500L,
      1700000000123456789L, 1700000000123456999L, -1700000000123456789L,
      Long.MaxValue, Long.MinValue + 1)
    val got = nanos.toDF("ns")
      .select(col("ns"), unix_micros(GraftFunctions.to_timestamp_nanos(col("ns"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Long division truncates toward zero, as the cast does
    nanos.foreach(ns => assert(got(ns) == ns / 1000, s"ns=$ns"))
  }

  test("trunc_num: sign symmetry, |trunc(x)| <= |x|, within one unit") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val xs = Seq(0.0, 1.239, -1.239, 5.0, -5.0, 0.5, 123.456789, 1e-9) ++
      Seq.fill(200)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(8)))
    for (scale <- Seq(0, 2, 4)) {
      val unit = math.pow(10, -scale)
      val rows = xs.toDF("x")
        .select(col("x"), GraftFunctions.trunc_num(col("x"), scale),
          GraftFunctions.trunc_num(-col("x"), scale))
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      rows.foreach { case (x, t, tNeg) =>
        assert(tNeg == -t, s"trunc(-x) != -trunc(x): x=$x scale=$scale")
        assert(math.abs(t) <= math.abs(x) * (1 + 1e-15), s"x=$x t=$t")
        assert(math.abs(x - t) < unit * (1 + 1e-9), s"x=$x t=$t")
        assert(t == 0.0 || math.signum(t) == math.signum(x), s"x=$x t=$t")
      }
    }
    val exact = Seq(1.239 -> 1.23, -1.239 -> -1.23, 5.0 -> 5.0)
      .toDF("x", "want")
      .select(col("want"), GraftFunctions.trunc_num(col("x"), 2))
      .collect()
    exact.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))
  }

  test("digest matches java.security.MessageDigest") {
    import spark.implicits._
    val texts = Seq("", "abc", "graft ✓ ü", "x" * 1000)
    for ((alg, jvm) <- Seq("md5" -> "MD5", "sha224" -> "SHA-224",
        "sha256" -> "SHA-256", "sha384" -> "SHA-384", "sha512" -> "SHA-512")) {
      texts.toDF("t").select(col("t"), GraftFunctions.digest(col("t"), alg))
        .collect().foreach { r =>
          assert(r.getString(1) == hex(jvm, r.getString(0)), s"$alg(${r.getString(0)})")
        }
    }
    intercept[IllegalArgumentException](GraftFunctions.digest(col("t"), "crc32"))
  }

  test("regexp_match returns the first match, NULL when none") {
    import spark.implicits._
    val pattern = "[a-z]+[0-9]+"
    val texts = Seq("ab12 cd34", "no digits", "99 x7", "")
    val got = texts.toDF("t")
      .select(col("t"), GraftFunctions.regexp_match(col("t"), pattern))
      .collect().map(r => r.getString(0) ->
        Option(r.getList[String](1)).map(l => (0 until l.size).map(l.get)))
      .toMap
    texts.foreach { t =>
      val want = pattern.r.findFirstIn(t).map(Seq(_))
      assert(got(t) == want, s"regexp_match('$t')")
    }
  }

  test("array_replace replaces only the first occurrence") {
    import spark.implicits._
    val arrays = Seq(Seq("a", "b", "a"), Seq("b"), Seq("a"), Seq.empty[String],
      Seq("c", "a"))
    val got = arrays.toDF("a")
      .select(col("a"), GraftFunctions.array_replace(col("a"), lit("a"), lit("z")))
      .collect().map(r => r.getSeq[String](0) -> r.getSeq[String](1))
    got.foreach { case (in, out) =>
      val i = in.indexOf("a")
      val want = if (i < 0) in else in.updated(i, "z")
      assert(out == want, s"array_replace($in)")
    }
  }

  test("iszero is true exactly for ±0.0") {
    import spark.implicits._
    val xs = Seq(0.0, -0.0, 1e-300, -1.0, Double.NaN, Double.PositiveInfinity)
    xs.toDF("x").select(col("x"), GraftFunctions.iszero(col("x")))
      .collect().foreach(r =>
        assert(r.getBoolean(1) == (r.getDouble(0) == 0.0), s"x=${r.getDouble(0)}"))
  }
}

object GraftFunctionsSpec {
  private def hex(alg: String, s: String): String =
    java.security.MessageDigest.getInstance(alg)
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
}
