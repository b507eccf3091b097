package org.apache.spark

/** Access to the `private[spark]` listener bus: the benchmark drains it
  * before reading its listeners' counters, so every event of a finished
  * unit has been delivered. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
