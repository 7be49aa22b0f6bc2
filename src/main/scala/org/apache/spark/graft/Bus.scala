package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * listener's totals are complete when read. Streaming-query and
  * query-execution events travel through the same bus. Lives in Spark's
  * package because the bus is `private[spark]`. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
