package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every queued event, so a
  * traced run's job counters are complete before they are written. The bus
  * is private to Spark; this object lives in Spark's package to reach it.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
