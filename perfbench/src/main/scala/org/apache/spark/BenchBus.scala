package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * trace can close a span knowing all of its task and query events have
  * arrived. The bus is package-private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
