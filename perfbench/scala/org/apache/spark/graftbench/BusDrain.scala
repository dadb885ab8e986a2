package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Shim into the `private[spark]` listener bus: the trace collector must see
  * every event of an op before it is written out, and the bus delivers them
  * asynchronously. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
