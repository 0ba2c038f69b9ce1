package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; counters read right
  * after a call returns must first wait for the bus to catch up. The
  * wait is `private[spark]`, hence this one-line bridge. */
object BusAccess {
  def awaitListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
