package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-metrics accumulator for PipeScale's shuffle and spill
  * accounting (one listener for every stage that measures bytes).
  * Attach with addSparkListener, detach BEFORE
  * running any of the caller's own bookkeeping aggregations (they
  * would otherwise contaminate the very bytes being measured), and
  * remember the listener bus is async — sleep or drain before reading. */
class ShuffleMeter extends SparkListener {
  val write = new AtomicLong
  val read = new AtomicLong
  val spilledDisk = new AtomicLong

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val m = s.stageInfo.taskMetrics
    if (m != null) {
      write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spilledDisk.addAndGet(m.diskBytesSpilled)
    }
  }

  def reset(): Unit = { write.set(0); read.set(0); spilledDisk.set(0) }
}
