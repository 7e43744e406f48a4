package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so
  * a listener's view of a call is complete when the call returns.
  * Lives in an org.apache.spark package because the bus is
  * spark-private.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
