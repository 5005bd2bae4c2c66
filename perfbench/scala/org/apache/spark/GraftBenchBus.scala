package org.apache.spark

/** Drains Spark's listener bus so the harness reads complete counters:
  * listener events are delivered asynchronously, and the drain method is
  * only visible inside the `org.apache.spark` package. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
