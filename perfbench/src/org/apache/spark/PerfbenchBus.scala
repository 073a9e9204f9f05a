package org.apache.spark

/** Access to the `private[spark]` listener bus: the benchmark drains it
  * between queries so that listener-side counters are complete before
  * they are read. Lives in the org.apache.spark package solely for
  * access; contains no logic. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
