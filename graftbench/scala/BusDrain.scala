package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced pass is closed only after its own job and stage events arrived.
  * Lives in this package because `listenerBus` is Spark-private. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
