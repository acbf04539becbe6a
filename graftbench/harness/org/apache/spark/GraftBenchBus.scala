package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The benchmark waits for queued listener events before it reads its
  * counters or detaches its listeners, so no event lands in the wrong
  * pass. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
