package org.apache.spark.sql

/** Minimal bridge into `private[sql]`/`private[spark]` Spark internals,
  * in the org.apache.spark.sql package solely for access; contains no
  * logic.
  * Custom plan nodes do not come through here: the rules that
  * GraftExtensions injects build them inside the optimizer.
  */
object GraftSqlShim {
  /** Release the block-manager storage behind a localCheckpoint'd
    * Dataset (Dataset.unpersist only covers CacheManager entries, not
    * checkpoint RDD blocks). Matches the ROOT plan only, so passing a
    * plan that merely contains checkpointed children is a no-op — never
    * unpersist blocks a live plan still references. */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Block until the listener bus has delivered every event posted so
    * far. The bus is asynchronous: a listener's counts (a stage's
    * shuffle bytes, a job's start) are complete only after this.
    * `listenerBus` is `private[spark]`, hence the shim. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
