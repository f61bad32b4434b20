package org.apache.spark

/** The listener bus is asynchronous; a trace is read only after every
  * event posted so far has been delivered. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
