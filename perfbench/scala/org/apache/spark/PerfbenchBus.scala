package org.apache.spark

/** The listener bus delivers events asynchronously; a traced pass waits
  * for it to drain so every task of the pass is counted before the next
  * pass starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
