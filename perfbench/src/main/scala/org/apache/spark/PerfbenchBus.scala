package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the benchmark's listeners have seen a pass completely before it is
  * read or the listeners are detached. The bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
