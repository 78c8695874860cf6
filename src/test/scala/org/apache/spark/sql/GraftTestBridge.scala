package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Test-scope access to `private[spark]` internals, the same one-file shim
  * pattern as `GraftBridge`: listener-based counts wait on the listener bus
  * itself instead of on a fixed sleep.
  */
object GraftTestBridge {
  /** Block until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
