package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so engine counters read after a pass are complete. The
  * listener bus is package-private to Spark, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
