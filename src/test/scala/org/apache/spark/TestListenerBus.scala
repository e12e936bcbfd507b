package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * a spec's listeners have seen everything its calls caused before the
  * spec reads them. The bus is package-private. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
