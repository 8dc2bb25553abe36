package org.apache.spark

/** The one private-API touchpoint of the benchmark: wait until the
  * listener bus has delivered every queued event, so the counts a
  * traced operation produced are attributed before the next one starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
