package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private. */
object Bus {
  /** Block until every posted event has reached every listener, so a
    * trace read afterwards holds all events of the work before the call. */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
