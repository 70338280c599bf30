package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** Access to `private[spark]` parts of a running context. */
object ListenerBus {

  /** Block until every event posted so far has reached every listener,
    * so counters read afterwards are complete (no fixed sleeps). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes of blocks (pinned RDDs, broadcasts) held in storage memory. */
  def storageMemoryUsed(): Long = SparkEnv.get.memoryManager.storageMemoryUsed
}
