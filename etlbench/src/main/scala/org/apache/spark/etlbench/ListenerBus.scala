package org.apache.spark.etlbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a span's counts are complete
  * only once the bus has delivered everything posted before the span
  * ended. The bus is private to Spark, hence this package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
