package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so
  * counters read after a measured window include its last tasks. The
  * bus is package-private to Spark, hence this file's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
