package org.apache.spark

/** Waits for the listener bus to deliver every posted event, so counts
  * read after an operation include all of its jobs and tasks. The bus's
  * drain call is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
