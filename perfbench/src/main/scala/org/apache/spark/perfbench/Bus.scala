package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives under org.apache.spark only to reach the listener bus: the tracer
  * reads a pass's counters after every event of that pass is delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
