package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{
  ENSURE_REQUIREMENTS, ShuffleExchangeExec}

/** Sort small inputs in one task (reference: DataFusion sorts globally
  * with no sampling pass — `SortExec` per partition, then
  * `SortPreservingMergeExec`, physical-plan/src/sorts/
  * sort_preserving_merge.rs:67).
  *
  * A global ORDER BY in Spark requires `OrderedDistribution`, which
  * EnsureRequirements meets with a range-partitioning shuffle. Its
  * `RangePartitioner` runs a sampling job that recomputes the whole
  * input, a map stage computes it again and shuffles it, and only then
  * does a result stage sort. For an input small enough to gather in one
  * place that is three passes of fixed per-job cost for a few rows.
  *
  * This rule replaces such an exchange by `CoalesceExec(1, child)`: a
  * narrow dependency, so no sampling job, no shuffle and no extra stage.
  * `CoalesceExec(1)` outputs `SinglePartition`, which satisfies the
  * sort's `OrderedDistribution`; one sorted partition is a global order.
  *
  *  - "Small" is Spark's own bound for gathering a side in one place,
  *    `spark.sql.autoBroadcastJoinThreshold`, read off the exchange
  *    child's logical statistics; `-1` turns the rule off, as it does
  *    broadcasts. Larger inputs keep the range path at any scale.
  *  - Only compiler-inserted exchanges (`ENSURE_REQUIREMENTS` origin)
  *    are touched: an explicit `repartitionByRange(n, …)` keeps its n
  *    partitions.
  *  - It is an AQE query-stage preparation rule. AQE applies those to
  *    the initial plan and again at every re-optimization, after
  *    EnsureRequirements, so once a stage below finishes the rule sees
  *    its runtime size: a sort above an aggregate qualifies even when
  *    the static estimate is large. With AQE off, and in streaming
  *    plans (which never run under AQE), the range path runs unchanged.
  */
object SmallSort extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    val threshold = conf.autoBroadcastJoinThreshold
    if (threshold < 0) plan
    else plan.transformUp {
      case ShuffleExchangeExec(RangePartitioning(_, n), child, ENSURE_REQUIREMENTS, _)
          if n > 1 && child.logicalLink.exists(_.stats.sizeInBytes <= threshold) =>
        CoalesceExec(1, child)
    }
  }
}
