package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the driver's listener bus: returns once every event
  * posted so far has reached every listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
