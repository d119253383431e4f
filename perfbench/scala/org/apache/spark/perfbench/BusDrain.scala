package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener.
  * Listener delivery is asynchronous, so the per-layer counts are read
  * only after this returns. Lives in Spark's package because the
  * listener bus is `private[spark]`. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
