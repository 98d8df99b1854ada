package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * a traced run reads its counters only after every posted event has
  * reached the listeners.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
