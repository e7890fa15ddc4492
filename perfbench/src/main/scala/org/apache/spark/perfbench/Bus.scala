package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Block until every posted event has reached the listeners, so a
    * recorder read afterwards has seen all jobs of the run. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
