package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; this shim lives under the
  * org.apache.spark package to reach it, beside [[ColumnBridge]]. */
object ListenerBridge {

  /** Block until the listener bus has delivered every event posted so
    * far. Job and stage events are posted before the action that ran
    * them returns, so after `drain` a listener's counts for that
    * action are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
