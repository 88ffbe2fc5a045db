package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is `private[spark]`: the traced run
  * drains it before reading its listeners, so no event is still in
  * flight when the counters are taken. */
object BusBridge {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
