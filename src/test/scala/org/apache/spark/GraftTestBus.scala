package org.apache.spark

/** Test hook into the `private[spark]` listener bus: blocks until every
  * event posted so far has reached the listeners, so a spec can count
  * the jobs an action ran right after it returns. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
