package org.apache.spark

/** Lives in Spark's package only to reach the listener bus, which is
  * `private[spark]`: the benchmark drains it before reading counters,
  * because listener events are delivered asynchronously. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
