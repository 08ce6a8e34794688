package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId}

/** The Spark internals the harness reads. They are package-private to
  * Spark, hence this package.
  */
object Internals {
  /** Waits until the listener bus has delivered every queued event, so
    * listener state read afterwards is complete.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private def blocks() =
    SparkEnv.get.blockManager.master.getStorageStatus.toSeq.flatMap(_.blocks)

  /** The newest broadcast still held in storage, or -1. */
  def newestBroadcast(): Long =
    (-1L +: blocks().collect { case (b: BroadcastBlockId, _) => b.broadcastId }).max

  /** Bytes in storage held by cached RDD blocks and by the blocks of
    * broadcasts newer than `after`: what the current operation holds, as
    * broadcast ids only grow and no cached RDD outlives an operation.
    */
  def storageSince(after: Long): Long =
    blocks().collect {
      case (_: RDDBlockId, s) => s.memSize + s.diskSize
      case (b: BroadcastBlockId, s) if b.broadcastId > after => s.memSize + s.diskSize
    }.sum
}
