package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; counters read from it are final only
  * once every posted event has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
