package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Function-surface parity layer: DataFusion scalar functions that Spark
  * lacks (or names differently), re-expressed as compositions of built-in
  * `Column` functions so everything stays inside whole-stage codegen — no
  * Scala UDFs on the hot path.
  *
  * Reference inventory: datafusion/functions/src/lib.rs:156 (strings,
  * unicode, regex, math, datetime, crypto/encoding, core) and
  * datafusion/functions-array/src/lib.rs:104-140. Functions that exist 1:1
  * in org.apache.spark.sql.functions (the vast majority — see SURVEY.md
  * §2.9) are not wrapped: users call Spark's own.
  *
  * `registerSql(spark)` additionally exposes the gap functions to SQL via
  * Spark 4 SQL UDFs (CREATE TEMPORARY FUNCTION ... RETURN expr), which the
  * planner inlines — still codegen-friendly.
  */
object GraftFunctions {

  // ── datetime ───────────────────────────────────────────────────────────
  /** DataFusion `date_bin(stride, source, origin)`
    * (functions/src/datetime/date_bin.rs): floor `source` into
    * `strideMicros`-wide buckets aligned at `origin`. */
  def date_bin(strideMicros: Long, source: Column, origin: Column): Column = {
    val src = unix_micros(source)
    val org = unix_micros(origin)
    timestamp_micros(
      ((src - org) - pmod(src - org, lit(strideMicros))) + org)
  }

  /** date_bin with an interval string stride, e.g. "15 minutes". */
  def date_bin(stride: String, source: Column, origin: Column): Column =
    date_bin(intervalMicros(stride), source, origin)

  private[graft] def intervalMicros(stride: String): Long = {
    val Array(n, unit) = stride.trim.split("\\s+", 2)
    val base = unit.toLowerCase.stripSuffix("s") match {
      case "microsecond"        => 1L
      case "millisecond"        => 1000L
      case "second"             => 1000000L
      case "minute"             => 60L * 1000000
      case "hour"               => 3600L * 1000000
      case "day"                => 86400L * 1000000
      case "week"               => 7L * 86400 * 1000000
      case u => throw new IllegalArgumentException(s"bad stride unit: $u")
    }
    n.toLong * base
  }

  /** to_timestamp_{seconds,millis,micros,nanos} over numeric input
    * (functions/src/datetime/to_timestamp.rs). */
  def to_timestamp_seconds(c: Column): Column = timestamp_seconds(c)
  def to_timestamp_millis(c: Column): Column  = timestamp_millis(c)
  def to_timestamp_micros(c: Column): Column  = timestamp_micros(c)
  def to_timestamp_nanos(c: Column): Column   = timestamp_micros((c / 1000).cast("long"))

  /** to_unixtime (functions/src/datetime/to_unixtime.rs) — epoch seconds. */
  def to_unixtime(c: Column): Column = unix_timestamp(c)

  // ── core / conditional ────────────────────────────────────────────────
  /** nvl2(test, ifNotNull, ifNull) (functions/src/core/nvl2.rs). */
  def nvl2(test: Column, ifNotNull: Column, ifNull: Column): Column =
    when(test.isNotNull, ifNotNull).otherwise(ifNull)

  /** iszero (functions/src/math/iszero.rs). */
  def iszero(c: Column): Column = c === lit(0.0)

  /** Numeric trunc-toward-zero with scale (functions/src/math/trunc.rs;
    * Spark's trunc is date-only). */
  def trunc_num(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    when(c >= 0, floor(c * p) / p).otherwise(ceil(c * p) / p)
  }

  /** digest(data, algorithm) (functions/src/crypto/digest.rs). */
  def digest(c: Column, algorithm: String): Column =
    algorithm.toLowerCase match {
      case "md5"    => md5(c)
      case "sha224" => sha2(c, 224)
      case "sha256" => sha2(c, 256)
      case "sha384" => sha2(c, 384)
      case "sha512" => sha2(c, 512)
      case a => throw new IllegalArgumentException(s"bad algorithm: $a")
    }

  /** arrow_typeof (functions/src/core/arrow_typeof.rs) — the engine's
    * type-introspection function, mapped to Spark's `typeof`. */
  def arrow_typeof(c: Column): Column = call_function("typeof", c)

  /** arrow_cast(value, 'ArrowType') (functions/src/core/arrow_cast.rs):
    * cast by Arrow type NAME, translated per the SURVEY §1 mapping
    * policy (unsigned ints widen, Utf8 family → string, Timestamp* →
    * µs timestamp). */
  def arrow_cast(c: Column, arrowType: String): Column = {
    val t = arrowType.trim match {
      case "Int8"  => "tinyint"
      case "Int16" => "smallint"
      case "Int32" => "int"
      case "Int64" => "bigint"
      case "UInt8"  => "smallint" // no unsigned in Spark: widen
      case "UInt16" => "int"
      case "UInt32" => "bigint"
      case "UInt64" => "decimal(20,0)"
      case "Float16" | "Float32" => "float"
      case "Float64" => "double"
      case "Utf8" | "LargeUtf8" | "Utf8View" => "string"
      case "Boolean" => "boolean"
      case "Date32" | "Date64" => "date"
      case "Binary" | "LargeBinary" | "BinaryView" | "FixedSizeBinary" =>
        "binary"
      case s if s.startsWith("Timestamp") => "timestamp"
      case s if s.startsWith("Decimal128") =>
        s.replaceAll("Decimal128\\((\\d+),\\s*(\\d+)\\)", "decimal($1,$2)")
      case other =>
        throw new IllegalArgumentException(s"arrow_cast: unsupported $other")
    }
    c.cast(t)
  }

  // ── regex ─────────────────────────────────────────────────────────────
  /** regexp_match (functions/src/regex/regexpmatch.rs): list of matches of
    * the first occurrence, NULL when no match. */
  def regexp_match(c: Column, pattern: String): Column =
    when(c.rlike(pattern), array(regexp_extract(c, pattern, 0)))

  // ── array (functions-array gaps) ──────────────────────────────────────
  /** array_pop_front / array_pop_back (functions-array/src/array_pop.rs —
    * v39 kernels live under functions-array/src/). */
  def array_pop_front(a: Column): Column = slice(a, lit(2), greatest(size(a) - 1, lit(0)))
  def array_pop_back(a: Column): Column  = slice(a, lit(1), greatest(size(a) - 1, lit(0)))

  /** array_resize(a, n, fill) (functions-array resize kernel): truncate or
    * right-pad with `fill` to exactly n elements. */
  def array_resize(a: Column, n: Column, fill: Column): Column =
    when(size(a) >= n, slice(a, lit(1), n.cast("int")))
      .otherwise(concat(a, array_repeat(fill, (n - size(a)).cast("int"))))

  /** array_replace: first occurrence of `from` → `to`. */
  def array_replace(a: Column, from: Column, to: Column): Column = {
    val pos = array_position(a, from)
    when(pos > 0,
      concat(slice(a, lit(1), (pos - 1).cast("int")), array(to),
        // slice(a,1,0) = empty array of a's element type
        when(size(a) > pos,
          slice(a, (pos + 1).cast("int"), (size(a) - pos).cast("int")))
          .otherwise(slice(a, lit(1), lit(0)))))
      .otherwise(a)
  }

  /** array_replace_all: every occurrence of `from` → `to`. */
  def array_replace_all(a: Column, from: Column, to: Column): Column =
    transform(a, x => when(x === from, to).otherwise(x))

  /** array_has_all / array_has_any (functions-array/src/array_has.rs). */
  def array_has_all(a: Column, b: Column): Column = size(array_except(b, a)) === 0
  def array_has_any(a: Column, b: Column): Column = arrays_overlap(a, b)

  /** array_empty / cardinality-style helpers. */
  def array_empty(a: Column): Column = size(a) === 0

  /** array_dims (functions-array/src/dims kernel) for a 1-D array. */
  def array_dims(a: Column): Column = array(size(a))

  /** string_to_array / array_to_string (DataFusion names). */
  def string_to_array(c: Column, delim: String): Column = split(c, delim)
  def array_to_string(a: Column, delim: String): Column = array_join(a, delim)

  /** generate_series(start, stop, step) → Spark sequence. */
  def generate_series(start: Column, stop: Column, step: Column): Column =
    sequence(start, stop, step)

  // ── SQL registration (Spark 4 SQL UDFs, planner-inlined) ──────────────
  def registerSql(spark: SparkSession): Unit = Seq(
    "date_bin" -> """CREATE OR REPLACE TEMPORARY FUNCTION date_bin(
      stride_us BIGINT, src TIMESTAMP, origin TIMESTAMP) RETURNS TIMESTAMP
      RETURN timestamp_micros(unix_micros(src) - unix_micros(origin)
        - pmod(unix_micros(src) - unix_micros(origin), stride_us)
        + unix_micros(origin))""",
    "nvl2_" -> """CREATE OR REPLACE TEMPORARY FUNCTION nvl2_(
      t STRING, a STRING, b STRING) RETURNS STRING
      RETURN CASE WHEN t IS NOT NULL THEN a ELSE b END""",
    "iszero" -> """CREATE OR REPLACE TEMPORARY FUNCTION iszero(x DOUBLE)
      RETURNS BOOLEAN RETURN x = 0.0d""",
    "array_pop_front" -> """CREATE OR REPLACE TEMPORARY FUNCTION array_pop_front(
      a ARRAY<BIGINT>) RETURNS ARRAY<BIGINT>
      RETURN slice(a, 2, greatest(size(a) - 1, 0))""",
    "to_unixtime" -> """CREATE OR REPLACE TEMPORARY FUNCTION to_unixtime(
      t TIMESTAMP) RETURNS BIGINT RETURN unix_timestamp(t)""")
    .foreach { case (name, ddl) =>
      // once per session registry: replacing an existing function only
      // logs Spark's re-registration WARN
      if (!spark.sessionState.functionRegistry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name))) spark.sql(ddl)
    }
}
