package org.apache.spark

/** The listener bus delivers events asynchronously; span counters are read
  * only after it has drained, which needs the package-private handle.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
