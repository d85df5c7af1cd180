package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the benchmark reads its
  * listener's counters only after every posted event has been handled.
  * The bus is package-private to Spark, hence this file's package. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
