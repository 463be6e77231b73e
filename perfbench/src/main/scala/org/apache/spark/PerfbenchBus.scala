package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: a
  * traced op waits for every event it posted before the next op starts,
  * so events are attributed to the op that caused them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
