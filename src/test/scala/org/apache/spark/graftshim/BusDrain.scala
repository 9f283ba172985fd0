package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * spec's SparkListener has seen all jobs before it asserts on them.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
