package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: a
  * measurement window must close only after every event of its jobs
  * has reached the listener. */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
