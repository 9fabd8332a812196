package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains the listener bus, so every event of the actions that already
  * returned has reached the registered listeners. The bus is internal to
  * Spark, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
