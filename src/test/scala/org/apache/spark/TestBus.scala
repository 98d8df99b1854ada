package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * a spec reads listener-collected task metrics only after every posted
  * event has reached the listeners.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
