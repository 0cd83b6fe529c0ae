package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * spec can count the jobs an action started; the listener bus is private
  * to this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
