package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access for the harness (the bus is `private[spark]`). */
object Bus {
  /** Block until every queued listener event has been delivered, so
    * counters read afterwards include all finished jobs. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
