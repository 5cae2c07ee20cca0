package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so a
  * pass's task metrics are complete before they are read. The bus is
  * package-private to Spark, hence this file's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
