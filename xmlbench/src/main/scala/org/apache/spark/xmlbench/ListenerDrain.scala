package org.apache.spark.xmlbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this shim lets the benchmark wait
 *  until every queued event has reached its listeners before reading them. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
