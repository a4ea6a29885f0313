package org.apache.spark

/** Waits for the listener bus to deliver every posted event, so counts
  * read after an interval include all of its jobs, tasks and micro-batch
  * progress. The bus's drain call is package-private to Spark, hence
  * this package. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
