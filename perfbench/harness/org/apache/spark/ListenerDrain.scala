package org.apache.spark

/** Waits until every event posted so far has reached the registered
  * listeners. The benchmark reads its listener totals right after a
  * measured window closes; without the drain the last jobs' task
  * metrics could still be in flight on the listener bus.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
