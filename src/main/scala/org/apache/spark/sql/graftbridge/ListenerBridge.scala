package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; this re-exposes the
  * one call a profiler needs: block until every posted event has been
  * delivered to every listener (throws TimeoutException past
  * `timeoutMs` instead of returning with events still queued). */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
