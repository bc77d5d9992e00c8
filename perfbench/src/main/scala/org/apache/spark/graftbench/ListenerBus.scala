package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; this shim lets the benchmark wait
  * until every posted event has reached its listeners before it reads a
  * counter. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
