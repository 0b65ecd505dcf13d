package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** Reaches `private[spark]` state the benchmark reads. */
object SparkInternals {

  /** Waits until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** On-heap bytes Spark's memory manager has handed out right now:
    * execution (sort, aggregation and join buffers) plus storage (cached
    * and checkpointed blocks, broadcasts).
    */
  def managedOnHeap(): Long = {
    val mm = SparkEnv.get.memoryManager
    mm.onHeapExecutionMemoryUsed + mm.onHeapStorageMemoryUsed
  }
}
