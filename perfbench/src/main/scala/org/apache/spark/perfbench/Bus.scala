package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own thread; the harness waits
  * for them at pass and op boundaries so every event is attributed to
  * the work that caused it. The bus is internal to Spark, hence this
  * package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
