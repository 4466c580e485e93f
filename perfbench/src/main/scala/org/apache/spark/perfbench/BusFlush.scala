package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains the live listener bus so every event posted so far has
  * reached the benchmark's listener. `SparkContext.listenerBus` is
  * `private[spark]`, which is why this one helper lives under the
  * `org.apache.spark` package. */
object BusFlush {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
