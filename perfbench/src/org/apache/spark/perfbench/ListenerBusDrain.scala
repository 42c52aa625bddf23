package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the trace recorder
  * drains it before reading a span's engine counters, so every job, stage
  * and query of the span has been counted. `waitUntilEmpty` is
  * `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
