package org.apache.spark

/** Drains the listener bus so that every listener event of a finished
  * operation has been delivered before the trace attributes it. The bus
  * is private to Spark, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
