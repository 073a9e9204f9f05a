package graft

import graft.plans.{TopKAgg, TopKAggregationRule}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused TopK plan against its unfused reference: the same query
  * built and run with TopKAggregationRule excluded, so the reference
  * goes through Spark's own Aggregate + TakeOrderedAndProject. */
object TopKAggSpec {
  private lazy val spark = SparkTestSession.spark

  /** Rows of `df` and whether its executed plan holds the fused node. */
  def collectFused[T](df: DataFrame)(row: Row => T): (Seq[T], Boolean) = {
    val rows = df.collect().toSeq.map(row)
    (rows, df.queryExecution.executedPlan.toString.contains("TopKAgg"))
  }

  /** Build and run `df` with the fusion rule excluded. A Dataset plans
    * once, under the conf of its first action, so both happen inside. */
  def unfused[T](df: => DataFrame)(row: Row => T): (Seq[T], Boolean) = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, TopKAggregationRule.ruleName)
    try collectFused(df)(row)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

class TopKAggSpec extends AnyFunSuite {
  import TopKAggSpec.{collectFused, unfused}

  private val sf = "/root/testdata/sf0.01"
  private lazy val spark = SparkTestSession.spark

  /** Runs `df` fused and `reference` unfused; asserts which plan fused
    * and returns both row lists. */
  private def fusedVsReference[T](df: DataFrame, reference: => DataFrame)(
      row: Row => T): (Seq[T], Seq[T]) = {
    val (got, fused) = collectFused(df)(row)
    assert(fused, df.queryExecution.executedPlan.toString)
    val (exp, refFused) = unfused(reference)(row)
    assert(!refFused, "the reference plan fused")
    (got, exp)
  }

  private def check[T](df: DataFrame, reference: => DataFrame)(
      row: Row => T): Seq[T] = {
    val (got, exp) = fusedVsReference(df, reference)(row)
    assert(got == exp)
    got
  }

  private val longDouble = (r: Row) => (r.getLong(0), r.getDouble(1))
  // doubles as strings: -0.0 and 0.0 differ, every NaN payload reads "NaN"
  private val doubleKey = (r: Row) => (r.getDouble(0).toString, r.getDouble(1))

  test("topKGroupsByMax == groupBy + orderBy + limit (ranked rows)") {
    val li = Engine.table(spark, sf, "lineitem")
    check(TopKAgg.topKGroupsByMax(li, Seq("l_partkey"),
        "l_extendedprice", 25, "m"),
      li.groupBy(col("l_partkey"))
        .agg(max(col("l_extendedprice")).as("m"))
        .orderBy(col("m").desc_nulls_last, col("l_partkey"))
        .limit(25))(longDouble)
  }

  test("bounded state survives tiny k and ties across partitions") {
    import spark.implicits._
    // many duplicate values → boundary ties decided by group asc
    val df = (1 to 1000).map(i => (i.toLong, (i % 7).toDouble))
      .toDF("g", "v").repartition(13)
    check(TopKAgg.topKGroupsByMax(df, Seq("g"), "v", 5, "m"),
      df.groupBy(col("g")).agg(max(col("v")).as("m"))
        .orderBy(col("m").desc_nulls_last, col("g")).limit(5))(longDouble)
  }

  test("null aggregate values rank last and merge correctly") {
    import spark.implicits._
    val df = Seq[(Long, Option[Double])](
      (1L, None), (1L, Some(5.0)), (2L, None), (3L, Some(1.0)),
      (4L, Some(9.0)), (4L, None)).toDF("g", "v").repartition(3)
    val got = check(TopKAgg.topKGroupsByMax(df, Seq("g"), "v", 4, "m"),
      df.groupBy(col("g")).agg(max(col("v")).as("m"))
        .orderBy(col("m").desc_nulls_last, col("g")).limit(4))(
      r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(got == Seq(4L -> Some(9.0), 1L -> Some(5.0), 3L -> Some(1.0),
      2L -> None))
  }

  test("fusion rule rewrites limit-sort-aggregate into TopKAggExec") {
    Engine.registerAll(spark, sf)
    def q = spark.sql("""
      SELECT l_partkey, max(l_extendedprice) AS m
      FROM lineitem GROUP BY l_partkey
      ORDER BY m DESC NULLS LAST, l_partkey LIMIT 10""")
    check(q, q)(longDouble)
  }

  test("topKGroupsByMin == groupBy + orderBy-asc + limit, and rule fires") {
    Engine.registerAll(spark, sf)
    val li = Engine.table(spark, sf, "lineitem")
    check(TopKAgg.topKGroupsByMin(li, Seq("l_partkey"),
        "l_extendedprice", 25, "m"),
      li.groupBy(col("l_partkey"))
        .agg(min(col("l_extendedprice")).as("m"))
        .orderBy(col("m").asc_nulls_last, col("l_partkey"))
        .limit(25))(longDouble)
    def q = spark.sql("""
      SELECT l_partkey, min(l_extendedprice) AS m
      FROM lineitem GROUP BY l_partkey
      ORDER BY m ASC NULLS LAST, l_partkey LIMIT 10""")
    check(q, q)(longDouble)
  }

  test("fusion preserves interleaved output column order (agg first)") {
    Engine.registerAll(spark, sf)
    def q = spark.sql("""
      SELECT max(l_extendedprice) AS m, l_partkey
      FROM lineitem GROUP BY l_partkey
      ORDER BY m DESC NULLS LAST, l_partkey LIMIT 10""")
    val df = q
    check(df, q)(r => (r.getDouble(0), r.getLong(1)))
    assert(df.columns.toSeq == Seq("m", "l_partkey"))
  }

  test("fusion handles SELECT order differing from GROUP BY order") {
    import spark.implicits._
    val df = (1 to 300).map(i => (i % 5, i % 11, i.toDouble))
      .toDF("a", "b", "v").repartition(7)
    df.createOrReplaceTempView("swap_t")
    def q = spark.sql("""
      SELECT b, a, max(v) AS m FROM swap_t GROUP BY a, b
      ORDER BY m DESC NULLS LAST LIMIT 6""")
    val fusedQ = q
    val row = (r: Row) => (r.getInt(0), r.getInt(1), r.getDouble(2))
    val (got, exp) = fusedVsReference(fusedQ, q)(row)
    assert(fusedQ.columns.toSeq == Seq("b", "a", "m"))
    // boundary ties are nondeterministic without full tiebreaks; the max
    // values must agree and every (b,a,m) row must be a valid top row
    assert(got.map(_._3).sorted == exp.map(_._3).sorted)
    val all = spark.sql(
      "SELECT b, a, max(v) AS m FROM swap_t GROUP BY a, b")
      .collect().map(row).toSet
    assert(got.toSet.subsetOf(all))
  }

  test("fusion accepts aliased grouping attributes") {
    Engine.registerAll(spark, sf)
    def q = spark.sql("""
      SELECT l_partkey AS pk, max(l_extendedprice) AS m
      FROM lineitem GROUP BY l_partkey
      ORDER BY m DESC NULLS LAST, pk LIMIT 10""")
    check(q, q)(longDouble)
  }

  test("direct API normalizes -0.0/0.0 and NaN-payload group keys") {
    import spark.implicits._
    val weirdNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    // 4 groups once normalized (0.0, NaN, 5.0, 6.0), 6 byte-distinct keys
    val df = Seq((-0.0, 9.0), (0.0, 1.0), (Double.NaN, 8.0), (weirdNaN, 7.0),
      (5.0, 6.0), (6.0, 2.0)).toDF("g", "v").repartition(3)
    val got = check(TopKAgg.topKGroupsByMax(df, Seq("g"), "v", 3, "m"),
      df.groupBy(col("g")).agg(max(col("v")).as("m"))
        .orderBy(col("m").desc_nulls_last, col("g")).limit(3))(doubleKey)
    assert(got == Seq(("0.0", 9.0), ("NaN", 8.0), ("5.0", 6.0)))
  }

  test("fused SQL path merges -0.0 and 0.0 group keys") {
    import spark.implicits._
    Seq((-0.0, 9.0), (0.0, 8.0), (1.0, 3.0), (2.0, 2.0), (3.0, 1.0))
      .toDF("g", "v").repartition(3).createOrReplaceTempView("zero_keys")
    def q = spark.sql("""
      SELECT g, max(v) AS m FROM zero_keys GROUP BY g
      ORDER BY m DESC NULLS LAST, g LIMIT 2""")
    assert(check(q, q)(doubleKey) == Seq(("0.0", 9.0), ("1.0", 3.0)))
  }

  test("fused SQL path merges NaN payloads into one group") {
    import spark.implicits._
    val weirdNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    Seq((-0.0, 1.0), (0.0, 2.0), (Double.NaN, 3.0), (weirdNaN, 4.0),
      (5.0, 5.0)).toDF("g", "v").repartition(3)
      .createOrReplaceTempView("nan_keys")
    def q = spark.sql("""
      SELECT g, max(v) AS m FROM nan_keys GROUP BY g
      ORDER BY m DESC NULLS LAST, g LIMIT 3""")
    assert(check(q, q)(doubleKey) ==
      Seq(("5.0", 5.0), ("NaN", 4.0), ("0.0", 2.0)))
  }

  test("rule does NOT fire on unsupported patterns") {
    Engine.registerAll(spark, sf)
    // ascending order on a MAX → not the top-k pattern
    val df = spark.sql("""
      SELECT l_partkey, max(l_extendedprice) AS m
      FROM lineitem GROUP BY l_partkey ORDER BY m ASC LIMIT 10""")
    df.collect()
    assert(!df.queryExecution.executedPlan.toString.contains("TopKAgg"))
    // non-min/max aggregate → unsupported
    val df2 = spark.sql("""
      SELECT l_partkey, avg(l_extendedprice) AS m
      FROM lineitem GROUP BY l_partkey ORDER BY m DESC NULLS LAST LIMIT 10""")
    df2.collect()
    assert(!df2.queryExecution.executedPlan.toString.contains("TopKAgg"))
    // a nested key holding a double: the rule normalizes only top-level
    // float/double keys, so it must leave this one to the Aggregate
    import spark.implicits._
    Seq((-0.0, 9.0), (0.0, 8.0), (1.0, 3.0)).toDF("x", "v")
      .select(struct(col("x")).as("s"), col("v")).repartition(3)
      .createOrReplaceTempView("struct_keys")
    def q = spark.sql("""
      SELECT s, max(v) AS m FROM struct_keys GROUP BY s
      ORDER BY m DESC NULLS LAST, s LIMIT 2""")
    val row = (r: Row) => (r.getStruct(0).getDouble(0).toString, r.getDouble(1))
    val (got, fused) = collectFused(q)(row)
    assert(!fused)
    assert(got == Seq(("0.0", 9.0), ("1.0", 3.0)))
    assert(got == unfused(q)(row)._1)
    // a collated string key: 'A' and 'a' are one UTF8_LCASE group
    Seq(("A", 9.0), ("a", 8.0), ("b", 3.0), ("c", 2.0)).toDF("s", "v")
      .repartition(3).createOrReplaceTempView("collated_keys")
    def q2 = spark.sql("""
      SELECT k, max(v) AS m
      FROM (SELECT s COLLATE UTF8_LCASE AS k, v FROM collated_keys)
      GROUP BY k ORDER BY m DESC NULLS LAST, k LIMIT 2""")
    val row2 = (r: Row) => (r.getString(0).toLowerCase, r.getDouble(1))
    val (got2, fused2) = collectFused(q2)(row2)
    assert(!fused2)
    assert(got2 == Seq(("a", 9.0), ("b", 3.0)))
  }
}
