package org.apache.spark

/** Drains Spark's asynchronous listener bus, so a test listener has seen
  * every event of the actions that already returned. `listenerBus` is
  * package-private to `org.apache.spark`, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
