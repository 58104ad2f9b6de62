package org.apache.spark

/** Drains Spark's asynchronous listener bus, so that the traced run can
  * attribute every job, task and query-execution event of an operation
  * to that operation before the next one starts. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
