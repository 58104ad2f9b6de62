package org.apache.spark

/** Drains Spark's asynchronous listener bus, so a spec's listener has
  * seen every event of the work before it asserts on it.
  * `waitUntilEmpty` is package-private to Spark, hence this bridge. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
