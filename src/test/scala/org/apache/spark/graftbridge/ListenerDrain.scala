package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached the listeners, so a
  * spec can read what a `SparkListener` saw of a job that just returned.
  * `listenerBus` is private[spark], hence this bridge.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
