package org.apache.spark

/** Blocks until every event posted so far reached every listener — so
  * a spec can count the jobs an action ran right after it returns. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
