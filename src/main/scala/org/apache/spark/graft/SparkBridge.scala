package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Minimal visibility shim (same pattern as
  * org.apache.spark.sql.graft.ColumnBridge): `SparkContext.listenerBus` is
  * `private[spark]`, but reading what a listener collected (task metrics,
  * job starts) right after a job finishes requires draining the
  * asynchronous listener queue first.
  */
object SparkBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
