package org.apache.spark

/** Package bridge: `SparkContext.listenerBus` is `private[spark]`. The
  * traced cycle must see every job and task event its spans caused before
  * the records are read, so the benchmark drains the bus first. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
