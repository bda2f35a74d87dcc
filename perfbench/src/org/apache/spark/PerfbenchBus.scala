package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** The calls the benchmark's tracer needs and Spark keeps
  * package-private: posting its own marker events on the listener bus in
  * order with Spark's, waiting until every queued event has been
  * delivered, and reading the cached RDD blocks from the block manager. */
object PerfbenchBus {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit =
    sc.listenerBus.post(event)

  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Every cached RDD block as "<executor>/<block name>" -> bytes. */
  def rddBlocks(sc: SparkContext): Map[String, Long] =
    sc.env.blockManager.master.getStorageStatus.iterator.flatMap { st =>
      st.rddBlocks.map { case (id, b) =>
        s"${st.blockManagerId.executorId}/${id.name}" -> (b.memSize + b.diskSize)
      }
    }.toMap
}
