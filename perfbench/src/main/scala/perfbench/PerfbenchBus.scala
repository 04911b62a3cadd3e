package org.apache.spark

/** Access to the listener bus, so a traced run can wait until every
  * posted event has reached the benchmark's listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
