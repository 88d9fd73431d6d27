package org.apache.spark

/** The listener bus delivers events asynchronously; a traced step waits
  * for it to drain so every event of the step lands in that step. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
