package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the tracer reads its tables only after every event has arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
