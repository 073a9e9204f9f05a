package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{GraftWindowFunctions, NumberTheory, Sketches}
import graft.plans.{SmallSort, TopKAggregationRule, TopKAggStrategy}

/** Library entry point for `spark.sql.extensions=graft.GraftExtensions`
  * (reference analogue: SessionContext::register_udf* —
  * datafusion/core/src/execution/context/mod.rs:979-1002). Injects the
  * custom Catalyst expressions into every session built with these
  * extensions; the SQL-UDF parity layer (GraftFunctions.registerSql) is
  * session-scoped and complements this. Also injects the engine's plan
  * rules: the TopK aggregation fusion (optimizer rule + planner
  * strategy) and SmallSort, an AQE query-stage preparation rule that
  * sorts inputs under autoBroadcastJoinThreshold in one task instead of
  * range-shuffling them (it runs only with AQE on). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // gcd/lcm, the codegen'd sketch/pipeline kernels, the sketch-aggregate
    // tier (binary-state TypedImperativeAggregates + their scalar
    // companions) and the UDWF tier (ewma fold, GROUPS frame). The tables
    // are shared with each object's register(), so extension-built
    // sessions get the same SQL surface as GraftFunctionsRegistry.
    // registerAll ones and argument validation stays in one place.
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
