package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — the classic time-series "most recent right row at or
  * before each left row" join. The reference has no such operator
  * (SURVEY.md §2.3: documented gap/extension; its interval analysis in
  * SymmetricHashJoinExec is unrelated); DuckDB's native ASOF JOIN serves
  * as the oracle.
  *
  * Spark-first implementation: NOT a range join (which Spark would plan
  * as a nested-loop over the time predicate). Instead the union+window
  * trick: tag both sides, union, and take `last_value(right payload,
  * ignoreNulls) OVER (PARTITION BY keys ORDER BY ts, side)` — one shuffle
  * on the partition keys, linear state, no quadratic candidate set. This
  * is the formulation that survives 100 TB: cost = one sort-shuffle of
  * left+right, identical to a window aggregate.
  */
object AsOfJoin {

  /** For each left row, attach the latest right row with
    * rightTs <= leftTs within the same partition keys (backward as-of).
    * Right rows at exactly leftTs DO match. `rightPayload` columns come
    * back null when no prior right row exists (left-outer semantics).
    *
    * @param left/right inputs
    * @param keys equi-partition column names present on both sides
    * @param leftTs/rightTs event-time columns
    * @param rightPayload right columns to attach (renamed as given)
    */
  def backward(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String,
      rightPayload: Seq[(String, String)]): DataFrame = {
    val keyCols = keys.map(col)
    val lCols = left.columns.toSeq
    // side: right=0 sorts before left=1 at equal ts → equality matches
    val r = right.select(
      keyCols ++ Seq(col(rightTs).as("__ts"), lit(0).as("__side"),
        struct(rightPayload.map { case (c, a) => col(c).as(a) }: _*)
          .as("__payload")): _*)
    val l = left.select(
      keyCols ++ Seq(col(leftTs).as("__ts"), lit(1).as("__side"),
        lit(null).cast(r.schema("__payload").dataType).as("__payload")) ++
        lCols.filterNot(keys.contains).map(col): _*)
    val rAligned = r.select(l.columns.toIndexedSeq.map(c =>
      if (r.columns.contains(c)) col(c)
      else lit(null).cast(l.schema(c).dataType).as(c)): _*)
    // __payload as the final sort key makes the pick among right rows
    // tied on (keys, ts) deterministic (struct comparison is
    // lexicographic); left rows carry null payloads, which sort first
    // and never affect their own position relative to side.
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col("__ts"), col("__side"), col("__payload"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(rAligned)
      .withColumn("__matched", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(lCols.map(col) ++
        rightPayload.map { case (_, a) => col("__matched").getField(a).as(a) }: _*)
  }

  /** Forward as-of: for each left row, attach the EARLIEST right row with
    * rightTs >= leftTs within the same partition keys (right rows at
    * exactly leftTs DO match; payload null when no later right row —
    * left-outer semantics). Same union+window shape as `backward`, with
    * the frame flipped to [current row, unbounded following] and the
    * side tags swapped so a right row at equal ts sorts after its left
    * row and lands inside the frame. Among right rows tied on
    * (keys, ts) the minimal payload struct wins (first() over the
    * payload-ascending order) — deterministic. */
  def forward(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String,
      rightPayload: Seq[(String, String)]): DataFrame = {
    val keyCols = keys.map(col)
    val lCols = left.columns.toSeq
    // side: left=0 sorts before right=1 at equal ts → equality matches
    val r = right.select(
      keyCols ++ Seq(col(rightTs).as("__ts"), lit(1).as("__side"),
        struct(rightPayload.map { case (c, a) => col(c).as(a) }: _*)
          .as("__payload")): _*)
    val l = left.select(
      keyCols ++ Seq(col(leftTs).as("__ts"), lit(0).as("__side"),
        lit(null).cast(r.schema("__payload").dataType).as("__payload")) ++
        lCols.filterNot(keys.contains).map(col): _*)
    val rAligned = r.select(l.columns.toIndexedSeq.map(c =>
      if (r.columns.contains(c)) col(c)
      else lit(null).cast(l.schema(c).dataType).as(c)): _*)
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col("__ts"), col("__side"), col("__payload"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    l.unionByName(rAligned)
      .withColumn("__matched",
        first(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 0)
      .select(lCols.map(col) ++
        rightPayload.map { case (_, a) => col("__matched").getField(a).as(a) }: _*)
  }
}
