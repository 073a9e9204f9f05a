package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{
  Add, AggregateWindowFunction, And, ArrayMax, ArrayMin, AttributeReference,
  Cast, Concat, CreateArray, CurrentRow, ElementAt, EqualNullSafe, EqualTo,
  Expression, Greatest, GreaterThan, If, IsNull, Least, Literal, Multiply,
  Not, Or, RangeFrame, Size, Slice, SpecifiedWindowFrame, Subtract,
  UnboundedPreceding, WindowFrame}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{
  ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType}

/** UDWF surface (reference: WindowUDFImpl + PartitionEvaluator,
  * datafusion/expr/src/udwf.rs:251, partition_evaluator.rs:89). Spark has
  * no public user-defined-window-function API, so the Spark-first
  * equivalent is a custom Catalyst AggregateWindowFunction: a declarative
  * running-state aggregate evaluated per row over the window frame —
  * exactly the role of the reference's stateful PartitionEvaluator.
  *
  * Ewma(x, alpha): exponentially weighted moving average with the
  * recurrence e_1 = x_1, e_i = alpha*x_i + (1-alpha)*e_{i-1}. This is NOT
  * expressible with built-in window aggregates (the state is a fold, not
  * a frame-decomposable sum), which is what makes it the canonical UDWF
  * demo. Null inputs carry the previous state forward.
  *
  * Scale: evaluated by Spark's WindowExec with running-frame streaming
  * state — one buffered row per partition position, O(1) state per row,
  * shuffle only on the window partition keys (same cost envelope as
  * row_number).
  */
case class Ewma(child: Expression, alphaExpr: Expression)
    extends AggregateWindowFunction {

  override def children: Seq[Expression] = Seq(child, alphaExpr)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ewma"

  // alpha must be a foldable literal (enforced by eval at plan time)
  private lazy val alpha = Literal(
    alphaExpr.eval() match {
      case d: java.lang.Double => d.doubleValue()
      case f: java.lang.Float => f.doubleValue()
      case n: java.lang.Number => n.doubleValue()
      case d: Decimal => d.toDouble
      case other => other.toString.toDouble
    }, DoubleType)
  private type Decimal = org.apache.spark.sql.types.Decimal

  private lazy val state =
    AttributeReference("ewma", DoubleType, nullable = true)()

  override def aggBufferAttributes: Seq[AttributeReference] = Seq(state)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, DoubleType))
  override lazy val updateExpressions: Seq[Expression] = {
    val x = Cast(child, DoubleType)
    // (1-alpha) computed at runtime in IEEE double so an external oracle
    // evaluating the same recurrence reproduces bit-identical results
    Seq(If(IsNull(x), state,
      If(IsNull(state), x,
        Add(Multiply(alpha, x),
          Multiply(Subtract(Literal(1.0), alpha), state)))))
  }
  override lazy val evaluateExpression: Expression = state

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), alphaExpr = newChildren(1))
}

/** Shared pieces of the GROUPS-frame window functions: the foldable-k
  * validation and the trailing-(k+1)-slot ring maintenance expressions
  * (the Slice bounds are the subtle part — keep them in ONE place). */
private[functions] object GroupsRing {
  /** The preceding-group count: a foldable non-negative int literal. */
  def foldableK(prettyName: String, kExpr: Expression): Int = {
    val ok = kExpr.foldable && kExpr.dataType == IntegerType
    val v = if (ok) kExpr.eval() else null
    if (v == null || v.asInstanceOf[Int] < 0)
      throw new IllegalArgumentException(
        s"$prettyName: k must be a non-negative int literal")
    v.asInstanceOf[Int]
  }

  /** New peer group: keep the last k entries, append `seed`. */
  def push(arr: Expression, k: Int, seed: Expression): Expression =
    Concat(Seq(
      Slice(arr, Greatest(Seq(Subtract(Size(arr), Subtract(Literal(k),
        Literal(1))), Literal(1))), Literal(k)),
      CreateArray(Seq(seed))))

  /** Same peer group: replace the last entry with `folded`. */
  def bumpLast(arr: Expression, folded: Expression): Expression =
    Concat(Seq(
      Slice(arr, Literal(1), Subtract(Size(arr), Literal(1))),
      CreateArray(Seq(folded))))
}

/** Native GROUPS window frame: `sum(value) OVER (... GROUPS BETWEEN k
  * PRECEDING AND CURRENT ROW)` — the reference frame mode Spark's
  * planner lacks entirely (reference: expr/src/window_frame.rs:418-432;
  * Spark has only RowFrame/RangeFrame and no GROUPS parser token).
  *
  * How it becomes expressible as a single window function: the frame is
  * fixed to RANGE UNBOUNDED PRECEDING..CURRENT ROW, the one running
  * frame that INCLUDES ALL PEERS of the current row before emitting
  * (the same trick cume_dist uses). By the time a row is evaluated the
  * state has folded every row up to the last peer of the current row;
  * bucketing that stream into peer groups (detected by `key`, which
  * must be the window's ORDER BY expression) and keeping a ring of the
  * trailing k+1 per-group subtotals yields exactly the GROUPS frame
  * [group(current)-k .. group(current)] — including the whole current
  * peer group, as the SQL standard's GROUPS CURRENT ROW bound demands.
  *
  * Arithmetic is exact: values cast to BIGINT, so the running
  * total-minus-evicted-group maintenance cannot drift (and the DuckDB
  * oracle's native GROUPS sum matches bit-for-bit). Sum-over-no-values
  * is NULL via a parallel non-null count. State is O(k) per partition
  * position — same streaming cost envelope as Ewma.
  */
case class GroupsSum(valueExpr: Expression, keyExpr: Expression,
    kExpr: Expression) extends AggregateWindowFunction {

  override def children: Seq[Expression] = Seq(valueExpr, keyExpr, kExpr)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_groups_sum"

  override val frame: WindowFrame =
    SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow)

  private lazy val k: Int = GroupsRing.foldableK(prettyName, kExpr)

  private lazy val subs = AttributeReference("groups_subs",
    ArrayType(LongType, containsNull = false), nullable = false)()
  private lazy val cnts = AttributeReference("groups_cnts",
    ArrayType(LongType, containsNull = false), nullable = false)()
  private lazy val total =
    AttributeReference("groups_total", LongType, nullable = false)()
  private lazy val cntTotal =
    AttributeReference("groups_cnt_total", LongType, nullable = false)()
  private lazy val lastKey = AttributeReference("groups_last_key",
    keyExpr.dataType, nullable = true)()
  private lazy val started =
    AttributeReference("groups_started", BooleanType, nullable = false)()

  override def aggBufferAttributes: Seq[AttributeReference] =
    Seq(subs, cnts, total, cntTotal, lastKey, started)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal.create(Array.empty[Long], ArrayType(LongType, false)),
    Literal.create(Array.empty[Long], ArrayType(LongType, false)),
    Literal(0L), Literal(0L),
    Literal.create(null, keyExpr.dataType), Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val x = Cast(valueExpr, LongType)
    val xv = If(IsNull(x), Literal(0L), x)
    val xc = If(IsNull(x), Literal(0L), Literal(1L))
    val isNew = Or(Not(started), Not(EqualNullSafe(keyExpr, lastKey)))
    val kLit = Literal(k)
    // ring maintenance on a NEW group: evict the oldest subtotal once
    // k+1 groups are held, then append a fresh one seeded with this row
    def evicted(arr: Expression): Expression =
      If(GreaterThan(Size(arr), kLit), ElementAt(arr, Literal(1)),
        Literal(0L))
    def pushed(arr: Expression, seed: Expression): Expression =
      GroupsRing.push(arr, k, seed)
    // same group: fold this row into the LAST subtotal in place
    def bumped(arr: Expression, delta: Expression): Expression =
      GroupsRing.bumpLast(arr, Add(ElementAt(arr, Literal(-1)), delta))
    Seq(
      If(isNew, pushed(subs, xv), bumped(subs, xv)),
      If(isNew, pushed(cnts, xc), bumped(cnts, xc)),
      If(isNew, Add(Subtract(total, evicted(subs)), xv), Add(total, xv)),
      If(isNew, Add(Subtract(cntTotal, evicted(cnts)), xc),
        Add(cntTotal, xc)),
      keyExpr,
      Literal(true))
  }

  override lazy val evaluateExpression: Expression =
    If(EqualTo(cntTotal, Literal(0L)), Literal.create(null, LongType), total)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(valueExpr = newChildren(0), keyExpr = newChildren(1),
      kExpr = newChildren(2))
}

/** `min(value)` / `max(value)` over `GROUPS BETWEEN k PRECEDING AND
  * CURRENT ROW` — the same peers-inclusive RANGE trick and peer-group
  * ring as [[GroupsSum]], but the ring holds each trailing group's
  * EXTREMUM (nullable: a group whose values are all NULL contributes a
  * NULL slot) and evaluation reduces the ring with array_min/array_max,
  * which skip NULL slots — so the result is NULL exactly when the frame
  * holds no non-null values. Extrema need no subtraction on eviction
  * (unlike sums), so the ring IS the full state: O(k) per partition
  * position, values compared in BIGINT. */
case class GroupsExtremum(valueExpr: Expression, keyExpr: Expression,
    kExpr: Expression, isMin: Boolean) extends AggregateWindowFunction {

  override def children: Seq[Expression] = Seq(valueExpr, keyExpr, kExpr)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String =
    if (isMin) "graft_groups_min" else "graft_groups_max"

  override val frame: WindowFrame =
    SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow)

  private lazy val k: Int = GroupsRing.foldableK(prettyName, kExpr)

  private lazy val ring = AttributeReference("groups_ext_ring",
    ArrayType(LongType, containsNull = true), nullable = false)()
  private lazy val lastKey = AttributeReference("groups_ext_last_key",
    keyExpr.dataType, nullable = true)()
  private lazy val started =
    AttributeReference("groups_ext_started", BooleanType, nullable = false)()

  override def aggBufferAttributes: Seq[AttributeReference] =
    Seq(ring, lastKey, started)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal.create(Array.empty[Long], ArrayType(LongType, true)),
    Literal.create(null, keyExpr.dataType), Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val x = Cast(valueExpr, LongType)
    val isNew = Or(Not(started), Not(EqualNullSafe(keyExpr, lastKey)))
    // new group: keep the last k entries, append this row's value
    val pushed = GroupsRing.push(ring, k, x)
    // same group: fold this row into the last slot (NULLs don't beat a
    // present extremum, and a NULL slot takes any non-null value)
    val last = ElementAt(ring, Literal(-1))
    val folded = If(IsNull(last), x,
      If(IsNull(x), last,
        if (isMin) Least(Seq(last, x)) else Greatest(Seq(last, x))))
    Seq(If(isNew, pushed, GroupsRing.bumpLast(ring, folded)),
      keyExpr, Literal(true))
  }

  override lazy val evaluateExpression: Expression =
    if (isMin) ArrayMin(ring) else ArrayMax(ring)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(valueExpr = newChildren(0), keyExpr = newChildren(1),
      kExpr = newChildren(2))
}

/** `first_value(value)` / `last_value(value)` over `GROUPS BETWEEN k
  * PRECEDING AND CURRENT ROW` — the generic-fold tier of the GroupsRing
  * family (reference allows ANY aggregate over a GROUPS frame,
  * expr/src/window_frame.rs:41-47): unlike [[GroupsSum]]/
  * [[GroupsExtremum]] the ring holds the value's OWN type (no BIGINT
  * cast), so this works over strings/timestamps/decimals too. Each ring
  * slot carries one trailing group's edge value: the FIRST row's value
  * (set on push, never bumped — respect-nulls semantics) or the LAST
  * row's (bumped on every row of the group). Evaluation reads the
  * oldest slot (first_value: the frame starts at group(current)-k,
  * clipped to the partition start by the ring being shorter) or the
  * newest (last_value: the frame ends with the whole current peer
  * group, which the peers-inclusive RANGE trick has already folded). */
case class GroupsEdge(valueExpr: Expression, keyExpr: Expression,
    kExpr: Expression, isFirst: Boolean) extends AggregateWindowFunction {

  override def children: Seq[Expression] = Seq(valueExpr, keyExpr, kExpr)
  override def dataType: DataType = valueExpr.dataType
  override def nullable: Boolean = true
  override def prettyName: String =
    if (isFirst) "graft_groups_first" else "graft_groups_last"

  override val frame: WindowFrame =
    SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow)

  private lazy val k: Int = GroupsRing.foldableK(prettyName, kExpr)

  private lazy val ring = AttributeReference("groups_edge_ring",
    ArrayType(valueExpr.dataType, containsNull = true), nullable = false)()
  private lazy val lastKey = AttributeReference("groups_edge_last_key",
    keyExpr.dataType, nullable = true)()
  private lazy val started =
    AttributeReference("groups_edge_started", BooleanType, nullable = false)()

  override def aggBufferAttributes: Seq[AttributeReference] =
    Seq(ring, lastKey, started)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal.create(Seq.empty,
      ArrayType(valueExpr.dataType, containsNull = true)),
    Literal.create(null, keyExpr.dataType), Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val isNew = Or(Not(started), Not(EqualNullSafe(keyExpr, lastKey)))
    val pushed = GroupsRing.push(ring, k, valueExpr)
    // same group: first_value keeps the slot as seeded; last_value
    // tracks the group's most recent row
    val bumped =
      if (isFirst) ring else GroupsRing.bumpLast(ring, valueExpr)
    Seq(If(isNew, pushed, bumped), keyExpr, Literal(true))
  }

  override lazy val evaluateExpression: Expression =
    ElementAt(ring, Literal(if (isFirst) 1 else -1))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(valueExpr = newChildren(0), keyExpr = newChildren(1),
      kExpr = newChildren(2))
}

object GraftWindowFunctions {
  /** Resolves through GraftExtensions; use as
    * `GraftWindowFunctions.ewma(col, 0.3).over(windowSpec)` with a
    * running ROWS frame (the function fixes its own frame). */
  def ewma(x: Column, alpha: Double): Column =
    call_function("graft_ewma", x, org.apache.spark.sql.functions.lit(alpha))

  /** `sum(x) OVER (... GROUPS BETWEEN k PRECEDING AND CURRENT ROW)`.
    * `key` MUST be the window's ORDER BY expression (peer groups are
    * detected from it); use over a spec WITHOUT an explicit frame (the
    * function fixes its own peers-inclusive range frame). */
  def groupsSum(x: Column, key: Column, k: Int): Column =
    call_function("graft_groups_sum", x, key,
      org.apache.spark.sql.functions.lit(k))

  /** `count(*) OVER (... GROUPS BETWEEN k PRECEDING AND CURRENT ROW)` —
    * sum of 1 per row over the same GROUPS frame. */
  def groupsCount(key: Column, k: Int): Column =
    groupsSum(org.apache.spark.sql.functions.lit(1L), key, k)

  /** `sum(x) OVER (... GROUPS BETWEEN a PRECEDING AND b FOLLOWING)` —
    * the two-sided GROUPS frame, composed from two single-direction
    * streaming passes over opposite sort orders plus the current peer
    * group: sum[g-a, g+b] = asc(a) + desc(b) - group(0). Each pass is
    * the same O(k)-state running evaluation as [[groupsSum]]; the result
    * is NULL exactly when the whole two-sided span holds no non-null
    * values (both directional sums include the current group, so they
    * are null together iff the span is empty). NULL order keys form one
    * peer group ordered first in both directions (ASC NULLS FIRST /
    * DESC NULLS LAST reverse consistently). */
  def groupsSumBetween(x: Column, key: Column, aPrec: Int, bFoll: Int,
      partitionBy: Seq[Column], orderBy: Column): Column = {
    import org.apache.spark.sql.functions.{coalesce, lit, when}
    val W = org.apache.spark.sql.expressions.Window
    val asc = W.partitionBy(partitionBy: _*).orderBy(orderBy.asc)
    val desc = W.partitionBy(partitionBy: _*).orderBy(orderBy.desc)
    val up = groupsSum(x, key, aPrec).over(asc)
    val down = groupsSum(x, key, bFoll).over(desc)
    val cur = groupsSum(x, key, 0).over(asc)
    when(up.isNull.and(down.isNull), lit(null).cast("long"))
      .otherwise(coalesce(up, lit(0L)).plus(coalesce(down, lit(0L)))
        .minus(coalesce(cur, lit(0L))))
  }

  /** `first_value(x)` / `last_value(x)` over the same one-sided GROUPS
    * frame — any value type (respect-nulls semantics, like the SQL
    * default). */
  def groupsFirst(x: Column, key: Column, k: Int): Column =
    call_function("graft_groups_first", x, key,
      org.apache.spark.sql.functions.lit(k))

  def groupsLast(x: Column, key: Column, k: Int): Column =
    call_function("graft_groups_last", x, key,
      org.apache.spark.sql.functions.lit(k))

  /** `min(x)` / `max(x)` over the same one-sided GROUPS frame. */
  def groupsMin(x: Column, key: Column, k: Int): Column =
    call_function("graft_groups_min", x, key,
      org.apache.spark.sql.functions.lit(k))

  def groupsMax(x: Column, key: Column, k: Int): Column =
    call_function("graft_groups_max", x, key,
      org.apache.spark.sql.functions.lit(k))

  /** `avg(x)` over the GROUPS frame: sum / count of non-null values in
    * DOUBLE (NULL when the frame holds none — groupsSum is NULL there).
    * Takes the window spec because it composes TWO windowed passes. */
  def groupsAvg(x: Column, key: Column, k: Int,
      w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    import org.apache.spark.sql.functions.when
    val s = groupsSum(x, key, k).over(w)
    val n = groupsSum(when(x.isNotNull, 1L), key, k).over(w)
    s.cast("double").divide(n.cast("double"))
  }

  /** (name, impl class, builder): GraftExtensions injects these. */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_ewma", classOf[Ewma].getName,
      Theta.arity("graft_ewma", 2)(e => Ewma(e(0), e(1)))),
    ("graft_groups_sum", classOf[GroupsSum].getName,
      Theta.arity("graft_groups_sum", 3)(e => GroupsSum(e(0), e(1), e(2)))),
    ("graft_groups_min", classOf[GroupsExtremum].getName,
      Theta.arity("graft_groups_min", 3)(e =>
        GroupsExtremum(e(0), e(1), e(2), isMin = true))),
    ("graft_groups_max", classOf[GroupsExtremum].getName,
      Theta.arity("graft_groups_max", 3)(e =>
        GroupsExtremum(e(0), e(1), e(2), isMin = false))),
    ("graft_groups_first", classOf[GroupsEdge].getName,
      Theta.arity("graft_groups_first", 3)(e =>
        GroupsEdge(e(0), e(1), e(2), isFirst = true))),
    ("graft_groups_last", classOf[GroupsEdge].getName,
      Theta.arity("graft_groups_last", 3)(e =>
        GroupsEdge(e(0), e(1), e(2), isFirst = false))))
}
