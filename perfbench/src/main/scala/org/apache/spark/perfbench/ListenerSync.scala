package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; per-layer numbers are read only after
  * every posted event has reached the benchmark's listener. */
object ListenerSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
