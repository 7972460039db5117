package org.apache.spark

/** Drains Spark's asynchronous listener bus. Listener events arrive after
  * the action that caused them has returned, so the benchmark waits here
  * before it reads its per-layer counters. `listenerBus` is
  * package-private to `org.apache.spark`, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
