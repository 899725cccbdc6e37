package org.apache.spark

/** Listener-bus access the public API does not offer: block until every
  * posted event has reached the listeners, so a span's stage records are
  * complete before the span is read. */
object PerfBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
