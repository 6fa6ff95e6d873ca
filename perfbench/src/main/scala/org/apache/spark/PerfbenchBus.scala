package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listener has seen all jobs of a traced run before its
  * totals are read. `listenerBus` is Spark-private, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
