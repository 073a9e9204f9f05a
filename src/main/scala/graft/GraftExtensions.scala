package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{GraftWindowFunctions, NumberTheory, Sketches}
import graft.plans.{SmallSort, TopKAggregationRule, TopKAggStrategy}

/** Library entry point for `spark.sql.extensions=graft.GraftExtensions`
  * (reference analogue: SessionContext::register_udf* —
  * datafusion/core/src/execution/context/mod.rs:979-1002), and the only
  * way graft functions and plan rules enter a session. Injects the
  * custom Catalyst expressions from each family's `builders` table, the
  * TopK aggregation fusion (optimizer rule + planner strategy) and
  * SmallSort, an AQE query-stage preparation rule that sorts inputs
  * under autoBroadcastJoinThreshold in one task instead of
  * range-shuffling them (it runs only with AQE on). The SQL-UDF parity
  * layer (GraftFunctions.registerSql, which GraftContext runs) is the
  * one session-scoped addition; it has no injected twin. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // gcd/lcm, the codegen'd sketch/pipeline kernels, the sketch-aggregate
    // tier (binary-state TypedImperativeAggregates + their scalar
    // companions) and the UDWF tier (ewma fold, GROUPS frame); argument
    // validation lives in each family's builders table.
    (NumberTheory.builders ++ Sketches.scalarBuilders ++
      Sketches.aggregateBuilders ++ GraftWindowFunctions.builders).foreach {
      case (name, clazz, builder) =>
        e.injectFunction((FunctionIdentifier(name),
          new ExpressionInfo(clazz, name), builder))
    }
    // TopK aggregation fusion: limit-sort-aggregate → bounded top-k
    // operator (custom LogicalPlan + Strategy + SparkPlan, plans/
    // TopKAggregate.scala)
    e.injectOptimizerRule(_ => TopKAggregationRule)
    e.injectPlannerStrategy(_ => TopKAggStrategy)
    // small global sorts: a compiler-inserted range shuffle over an input
    // under autoBroadcastJoinThreshold becomes a one-partition coalesce
    // (AQE query-stage preparation rule, plans/SmallSort.scala)
    e.injectQueryStagePrepRule(_ => SmallSort)
  }
}
