package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * test's listener has seen every job started before the call. Lives in
  * this package because `listenerBus` is Spark-private. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
