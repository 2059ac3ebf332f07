package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * The listener bus is private to Spark, hence this package; counters read
  * after a drain are complete, where a fixed sleep could miss late events. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
