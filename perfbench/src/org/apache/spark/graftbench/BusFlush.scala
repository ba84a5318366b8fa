package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event; the bus
  * is package-private to Spark, hence this file's package.
  */
object BusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
