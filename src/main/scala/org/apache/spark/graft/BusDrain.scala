package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until Spark's listener bus has delivered every event posted so
  * far; the bus is private to Spark's packages, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
