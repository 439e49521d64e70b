package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; the benchmark drains it
  * so that task metrics are complete before it reads them. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
