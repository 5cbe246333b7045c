package org.apache.spark

/** Blocks until every posted listener event has been delivered, so the
  * benchmark reads complete counts. The bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
