package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus: counts
  * read from its own listeners are complete only once every event posted so
  * far has been delivered. The bus is package-private to Spark, hence this
  * one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
