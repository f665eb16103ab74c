package org.apache.spark

/** Listener events are delivered asynchronously; per-op engine metrics are
  * read only after the bus has delivered everything the op posted.
  * `waitUntilEmpty` is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
