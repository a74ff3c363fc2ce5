package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so a call's events are all counted before the next call. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
