package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Re-exports the listener bus drain. `SparkContext.listenerBus` is
  * `private[spark]`; this object lives under `org.apache.spark` only to
  * reach it (the same technique as `sql.graftbridge.CatalystBridge`).
  */
object ListenerBusBridge {
  /** Block until every event posted so far has been delivered to every
    * listener; throws `TimeoutException` past `timeoutMs`.
    */
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
