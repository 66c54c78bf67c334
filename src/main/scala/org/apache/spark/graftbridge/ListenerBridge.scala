package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`, so the deterministic
  * drain (`waitUntilEmpty`) that Spark's own tests use to make listener
  * metrics attribution exact needs a one-liner inside the spark namespace —
  * same technique as [[org.apache.spark.sql.graftbridge.ColumnBridge]].
  * Used by the perfbench harness and `PlanShapeSpec`; the library itself
  * registers no listeners.
  */
object ListenerBridge {
  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
