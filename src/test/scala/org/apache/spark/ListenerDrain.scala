package org.apache.spark

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test-only access to the listener bus, which Spark keeps package
  * private: blocks until every event posted so far has reached the
  * listeners, so job counts taken from a listener are exact instead
  * of racing the asynchronous bus.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the local properties (job group,
    * description, pool, …) of every Spark job it started; the bus is
    * drained on both sides, so the list is exact.
    */
  def jobsOf[T](sc: SparkContext)(body: => T): (T, Seq[Properties]) = {
    apply(sc)
    val seen = new ConcurrentLinkedQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        seen.add(Option(js.properties).getOrElse(new Properties()))
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      apply(sc)
      (r, seen.toArray(Array.empty[Properties]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
