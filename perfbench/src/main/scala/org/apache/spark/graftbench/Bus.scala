package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the harness waits for the
  * bus to drain before it reads its listener, so no job of a measured window
  * is missed. (The bus is package-private to Spark, hence this package.) */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
