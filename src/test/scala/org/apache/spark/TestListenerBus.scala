package org.apache.spark

/** Drains Spark's listener bus so a test's listener has seen every event
  * of the actions it just ran: events are delivered asynchronously, and
  * the drain method is only visible inside the `org.apache.spark`
  * package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
