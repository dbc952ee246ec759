package org.apache.spark.graftnative

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerTaskEnd}

/** Run-wide task-metric accumulator for the scaling harness: sums
  * shuffle read/write bytes and spill across every task that ends
  * between `reset()` and `snapshot()`. Wall-time slopes alone can hide
  * a shuffle-volume blow-up behind a fast local disk (local[32] reads
  * shuffle files from page cache; a real cluster pays the network), so
  * SCALING.md pairs each wall exponent with the measured shuffle-bytes
  * exponent — the number that actually predicts 100-TB behavior.
  *
  * Lives under `org.apache.spark` for one reason: the listener bus is
  * asynchronous, and reading the adders right after an action races
  * late task-end events; `SparkContext.listenerBus.waitUntilEmpty()`
  * (private[spark]) is the only exact drain. Everything else uses the
  * public listener API.
  */
final class TaskMetricsProbe private () extends SparkListener {
  private val shuffleRead = new LongAdder
  private val shuffleWrite = new LongAdder
  private val diskSpill = new LongAdder
  private val memSpill = new LongAdder

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      diskSpill.add(m.diskBytesSpilled)
      memSpill.add(m.memoryBytesSpilled)
    }
  }

  @volatile private var storedRddBlock = false

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) storedRddBlock = true
  }

  def reset(): Unit = {
    shuffleRead.reset(); shuffleWrite.reset()
    diskSpill.reset(); memSpill.reset()
    storedRddBlock = false
  }

  /** Whether an RDD block was stored since the last reset, i.e. the run
    * persisted (cached or checkpointed) an RDD. Call only after
    * [[TaskMetricsProbe.drain]]. */
  def persistedRdd: Boolean = storedRddBlock

  /** (shuffle read bytes, shuffle write bytes, disk spill bytes,
    * in-memory spill bytes) since the last reset. Call only after
    * [[TaskMetricsProbe.drain]] — the bus is async. */
  def snapshot(): (Long, Long, Long, Long) =
    (shuffleRead.sum(), shuffleWrite.sum(), diskSpill.sum(), memSpill.sum())
}

object TaskMetricsProbe {
  def install(sc: SparkContext): TaskMetricsProbe = {
    val p = new TaskMetricsProbe
    sc.addSparkListener(p)
    p
  }

  /** Block until every queued listener event has been delivered, so a
    * snapshot taken after a completed action reflects ALL of its tasks. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
