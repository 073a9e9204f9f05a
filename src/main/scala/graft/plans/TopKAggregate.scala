package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, Attribute, BindReferences, Descending, Expression,
  NamedExpression, NullsFirst, NullsLast, SortOrder, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Complete, Max, Min}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{TypeUtils, UnsafeRowUtils}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  AllTuples, Distribution, Partitioning, SinglePartition,
  UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{
  ArrayType, DataType, DoubleType, FloatType, StructType}

/** TopK aggregation fusion (reference: DataFusion's TopKAggregation
  * physical rule + priority-map aggregate —
  * datafusion/core/src/physical_optimizer/topk_aggregation.rs:40,
  * physical-plan/src/aggregates/topk/{heap,hash_table,priority_map}.rs).
  *
  * `SELECT g, max(v) FROM t GROUP BY g ORDER BY max(v) DESC LIMIT k`
  * normally hash-aggregates EVERY group and then sorts; when only the k
  * best groups are wanted, per-partition state can be bounded at k
  * entries (prune-safety: the true i-th best group's defining row makes
  * it at least i-th best within its own partition, so the k-entry
  * partial state never discards a global top-k group).
  *
  * Spark-first shape: custom LogicalPlan node + planner Strategy + two
  * custom SparkPlans (partial per-partition priority map → AllTuples
  * exchange of ≤ k·P slim rows → final priority map), plus a
  * Rule[LogicalPlan] that pattern-matches Limit(Sort(Aggregate)) and
  * fuses — the full custom-operator tier of the architecture, wired via
  * SparkSessionExtensions (GraftExtensions). The rule is the only code
  * that builds the node.
  *
  * Ordering semantics: value descending, NULLS LAST; ties broken by the
  * group columns ascending (NULLS FIRST) — i.e. `ORDER BY m DESC, g`.
  * Null aggregate values rank last, which keeps the bounded-state
  * pruning safe (a null-valued entry can never evict a real candidate).
  *
  * Scale: state is O(k) per task instead of O(#groups); the exchange
  * ships ≤ k rows per partition instead of every group — the difference
  * between a 100 TB cardinality-10^9 group-by and a k-row shuffle.
  */
case class TopKAggregate(
    groupCols: Seq[Attribute],
    valueCol: Attribute,
    outGroup: Seq[Attribute],
    outValue: Attribute,
    k: Int,
    desc: Boolean,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = outGroup :+ outValue
  // only attrs NOT consumed from the child (outValue; outGroup normally
  // reuses child exprIds): including child attrs here would subtract
  // them from `references` and let ColumnPruning drop the group columns
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output) --
      child.outputSet
  override def maxRows: Option[Long] = Some(k.toLong)
  override protected def withNewChildInternal(c: LogicalPlan): TopKAggregate =
    copy(child = c)
}

object TopKAggExec {
  /** Comparator over (aggValue, groupFields): value DESC (or ASC when
    * desc=false) NULLS LAST, then group fields ASC NULLS FIRST.
    * "Less" = ranks earlier. */
  private[plans] final class EntryOrdering(
      valueOrd: Ordering[Any], groupOrds: Seq[Ordering[Any]],
      groupTypes: Seq[org.apache.spark.sql.types.DataType],
      desc: Boolean)
      extends Ordering[(Any, UnsafeRow)] {
    override def compare(a: (Any, UnsafeRow), b: (Any, UnsafeRow)): Int = {
      val c = (a._1, b._1) match {
        case (null, null) => 0
        case (null, _) => 1 // nulls last
        case (_, null) => -1
        case (x, y) =>
          val c0 = valueOrd.compare(x, y)
          if (desc) -c0 else c0
      }
      if (c != 0) return c
      var i = 0
      while (i < groupOrds.length) {
        val x = a._2.get(i, groupTypes(i))
        val y = b._2.get(i, groupTypes(i))
        val gc = (x, y) match {
          case (null, null) => 0
          case (null, _) => -1 // nulls first
          case (_, null) => 1
          case _ => groupOrds(i).compare(x, y)
        }
        if (gc != 0) return gc
        i += 1
      }
      // Ordering-equal but byte-distinct group keys: fall back to the
      // UnsafeRow bytes so this ordering agrees with the HashMap's byte
      // equality — otherwise the TreeSet collapses two live map entries
      // and a group is silently dropped.
      val ar = a._2; val br = b._2
      if (ar.equals(br)) 0
      else {
        val ab = ar.getBytes; val bb = br.getBytes
        val lim = math.min(ab.length, bb.length)
        var j = 0
        while (j < lim) {
          val d = (ab(j) & 0xff) - (bb(j) & 0xff)
          if (d != 0) return d
          j += 1
        }
        ab.length - bb.length
      }
    }
  }
}

/** One phase of the bounded top-k group aggregate. Partial runs
  * per-partition; the final phase requires AllTuples and emits the k
  * best (group, max) rows in rank order. */
case class TopKAggExec(
    groupCols: Seq[Attribute],
    valueCol: Attribute,
    output: Seq[Attribute],
    k: Int,
    desc: Boolean,
    finalPhase: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def requiredChildDistribution: Seq[Distribution] =
    if (finalPhase) AllTuples :: Nil else UnspecifiedDistribution :: Nil

  override def outputPartitioning: Partitioning =
    if (finalPhase) SinglePartition else child.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    if (finalPhase)
      SortOrder(output.last, if (desc) Descending else Ascending,
        NullsLast, Seq.empty) +:
        output.dropRight(1).map(a => SortOrder(a, Ascending, NullsFirst, Seq.empty))
    else Nil

  protected override def doExecute(): RDD[InternalRow] = {
    val groupTypes = groupCols.map(_.dataType)
    val valueType = valueCol.dataType
    val kk = k
    val descFlag = desc
    val boundGroup = groupCols.map(a =>
      BindReferences.bindReference(a: Expression, child.output))
    val boundValue =
      BindReferences.bindReference(valueCol: Expression, child.output)
    val outTypes = output.map(_.dataType)
    child.execute().mapPartitions { iter =>
      val valueOrd =
        TypeUtils.getInterpretedOrdering(valueType).asInstanceOf[Ordering[Any]]
      val groupOrds = groupTypes.map(t =>
        TypeUtils.getInterpretedOrdering(t).asInstanceOf[Ordering[Any]])
      val ord = new TopKAggExec.EntryOrdering(valueOrd, groupOrds,
        groupTypes, descFlag)
      val groupProj = UnsafeProjection.create(boundGroup)
      val tree = mutable.TreeSet.empty[(Any, UnsafeRow)](ord)
      val best = mutable.HashMap.empty[UnsafeRow, (Any, UnsafeRow)]
      iter.foreach { row =>
        // copyValue: non-primitive results (UTF8String etc.) may be
        // views into the current row's buffer — unsafe to retain
        val v = InternalRow.copyValue(boundValue.eval(row))
        val gKey = groupProj(row)
        best.get(gKey) match {
          case Some(e @ (old, g)) =>
            // max/min semantics: null state absorbs any value
            val cmpVal = if (old == null || v == null) 0
              else valueOrd.compare(v, old)
            val better = old == null ||
              (v != null && (if (descFlag) cmpVal > 0 else cmpVal < 0))
            if (better) {
              tree.remove(e)
              val e2 = (v, g)
              tree.add(e2)
              best.update(g, e2)
            }
          case None =>
            val g = gKey.copy()
            val e = (v, g)
            if (best.size < kk) {
              best.put(g, e); tree.add(e)
            } else {
              val worst = tree.last
              if (ord.compare(e, worst) < 0) {
                tree.remove(worst); best.remove(worst._2)
                best.put(g, e); tree.add(e)
              }
            }
        }
      }
      val toRow = UnsafeProjection.create(outTypes.toArray)
      val outRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        outTypes.length)
      tree.iterator.map { case (v, g) =>
        var i = 0
        while (i < groupTypes.length) {
          outRow.update(i, g.get(i, groupTypes(i))); i += 1
        }
        outRow.update(groupTypes.length, v)
        toRow(outRow).copy(): InternalRow
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKAggExec =
    copy(child = c)
}

/** Plans TopKAggregate as partial → (exchange via EnsureRequirements) →
  * final. */
object TopKAggStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKAggregate =>
      val partial = TopKAggExec(t.groupCols, t.valueCol, t.output, t.k,
        t.desc, finalPhase = false, planLater(t.child))
      TopKAggExec(t.outGroup, t.outValue, t.output, t.k,
        t.desc, finalPhase = true, partial) :: Nil
    case _ => Nil
  }
}

/** Fuses `GlobalLimit(n, LocalLimit(n, Sort(max_attr DESC NULLS LAST
  * [, group ASC...], Aggregate(groups, groups :+ max(v)))))` into the
  * bounded TopKAggregate (the Sort/Limit stay on top — over ≤ n rows
  * they are free — so downstream attribute ids are untouched). Fires
  * only on the null-safe pattern: a single non-distinct MAX over an
  * attribute, attribute-only grouping (bare or aliased in the result
  * list), descending NULLS LAST primary sort on the max, and optional
  * ascending group-attr tiebreaks. The fused node always lays out
  * `groups :+ value`; when the original result list interleaves (agg
  * before/between group columns) a Project restores the aggregate's
  * exact output order, so positional consumers (UNION, insertInto,
  * root schema) are unaffected.
  *
  * The exec groups by raw UnsafeRow bytes, and NormalizeFloatingNumbers
  * (which runs after this rule) only normalizes an Aggregate's keys, so
  * the rule normalizes float/double keys itself (NaN payloads, -0.0 vs
  * 0.0) in a Project under the node. It declines any other key whose
  * equality is not byte equality: nested keys that hold floats, and
  * collated strings ('A' and 'a' are one UTF8_LCASE group). */
object TopKAggregationRule extends Rule[LogicalPlan] {
  private val MaxK = 100000

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case gl @ GlobalLimit(Literal(n: Int, _),
        ll @ LocalLimit(Literal(n2: Int, _),
        sort @ Sort(orders, true, agg: Aggregate, _)))
        if n == n2 && n > 0 && n <= MaxK =>
      fuse(n, orders, agg) match {
        case Some(topk) =>
          GlobalLimit(Literal(n), LocalLimit(Literal(n),
            Sort(orders, global = true, topk)))
        case None => gl
      }
  }

  private def fuse(n: Int, orders: Seq[SortOrder],
      agg: Aggregate): Option[LogicalPlan] = {
    // attribute-only grouping
    val groupAttrs = agg.groupingExpressions.map {
      case a: Attribute => a
      case _ => return None
    }
    // Each result is (an alias of) a grouping attribute, or the single
    // min/max aggregate. Collect (childAttr, outAttr) pairs in RESULT
    // order: the exec writes rows positionally as groups :+ value, so
    // the node's groupCols must follow the result list, not GROUP BY
    // order (SELECT b, a, max(v) ... GROUP BY a, b).
    var aggResult: Option[(Alias, Attribute, Boolean)] = None
    val pairs = mutable.ArrayBuffer.empty[(Attribute, Attribute)]
    agg.aggregateExpressions.foreach {
      case a: Attribute if groupAttrs.exists(_.exprId == a.exprId) =>
        pairs += ((a, a))
      case al @ Alias(a: Attribute, _)
          if groupAttrs.exists(_.exprId == a.exprId) =>
        pairs += ((a, al.toAttribute))
      case al @ Alias(AggregateExpression(
          Max(v: Attribute), Complete, false, None, _), _) =>
        if (aggResult.isDefined) return None
        aggResult = Some((al, v, true))
      case al @ Alias(AggregateExpression(
          Min(v: Attribute), Complete, false, None, _), _) =>
        if (aggResult.isDefined) return None
        aggResult = Some((al, v, false))
      case _ => return None
    }
    if (pairs.length != groupAttrs.length ||
        pairs.map(_._1.exprId).distinct.length != groupAttrs.length)
      return None
    val (aggAlias, aggInput, desc) = aggResult match {
      case Some(t) => t
      case None => return None
    }
    val outGroup = pairs.map(_._2).toSeq
    val outValue = aggAlias.toAttribute
    // primary sort: the agg value — max DESC NULLS LAST or min ASC NULLS
    // LAST (nulls-last is what keeps the bounded-state pruning safe)
    orders.headOption match {
      case Some(SortOrder(a: Attribute, Descending, NullsLast, _))
          if desc && a.exprId == outValue.exprId => ()
      case Some(SortOrder(a: Attribute, Ascending, NullsLast, _))
          if !desc && a.exprId == outValue.exprId => ()
      case _ => return None
    }
    // optional tiebreaks: ascending nulls-first group attrs, in order
    val ties = orders.tail
    val tieAttrs = ties.map {
      case SortOrder(a: Attribute, Ascending, NullsFirst, _) => a
      case _ => return None
    }
    if (!tieAttrs.map(_.exprId).sameElements(
        outGroup.take(tieAttrs.length).map(_.exprId))) return None
    // without full tiebreaks the boundary pick is one valid choice among
    // the tied groups — allowed for a nondeterministic ORDER BY prefix
    val groupCols: Seq[NamedExpression] = pairs.toSeq.map { case (a, _) =>
      a.dataType match {
        case DoubleType | FloatType =>
          Alias(NormalizeNaNAndZero(a), a.name)()
        case t if floating(t) || !UnsafeRowUtils.isBinaryStable(t) =>
          return None
        case _ => a
      }
    }
    val child =
      if (groupCols.forall(_.isInstanceOf[Attribute])) agg.child
      else Project((groupCols :+ aggInput).distinct, agg.child)
    val topk = TopKAggregate(groupCols.map(_.toAttribute), aggInput,
      outGroup, outValue, n, desc, child)
    // preserve the aggregate's exact output column order for positional
    // consumers (the fused layout is always groups :+ value)
    if (topk.output.map(_.exprId) == agg.output.map(_.exprId)) Some(topk)
    else Some(Project(agg.output, topk))
  }

  private def floating(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => floating(e)
    case s: StructType => s.fields.exists(f => floating(f.dataType))
    case _ => false
  }
}

/** Direct API: the plain `groupBy/agg/orderBy/limit` plan, which
  * TopKAggregationRule (injected by GraftExtensions) fuses. */
object TopKAgg {
  /** The k groups with the largest max(valueCol), ranked
    * (max DESC NULLS LAST, groups ASC). Output: groupCols :+ aggAlias. */
  def topKGroupsByMax(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int, aggAlias: String = "max_value"): DataFrame =
    topKGroups(df, groupCols, max(col(valueCol)).as(aggAlias),
      col(aggAlias).desc_nulls_last, k)

  /** The k groups with the smallest min(valueCol), ranked
    * (min ASC NULLS LAST, groups ASC). */
  def topKGroupsByMin(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int, aggAlias: String = "min_value"): DataFrame =
    topKGroups(df, groupCols, min(col(valueCol)).as(aggAlias),
      col(aggAlias).asc_nulls_last, k)

  private def topKGroups(df: DataFrame, groupCols: Seq[String], agg: Column,
      order: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    df.groupBy(groupCols.map(col): _*).agg(agg)
      .orderBy(order +: groupCols.map(col): _*).limit(k)
  }
}
