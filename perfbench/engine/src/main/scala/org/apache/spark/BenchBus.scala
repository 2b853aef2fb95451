package org.apache.spark

/** Lets the benchmark wait for the listener bus to deliver every queued
  * event, so counter reads after an action see all of its tasks. The bus
  * is private to the `org.apache.spark` package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
