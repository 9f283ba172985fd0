package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously. The traced run
  * closes a span only after every event the span caused has reached
  * the benchmark's listeners; the drain call is Spark-private, hence
  * this shim in Spark's package.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
