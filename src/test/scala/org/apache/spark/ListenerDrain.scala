package org.apache.spark

/** Test-only access to the listener bus, which Spark keeps package
  * private: blocks until every event posted so far has reached the
  * listeners, so job counts taken from a listener are exact instead
  * of racing the asynchronous bus.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
