package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered. Spark
  * keeps the listener bus package-private, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
