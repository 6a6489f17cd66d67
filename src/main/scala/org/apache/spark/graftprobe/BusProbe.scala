package org.apache.spark.graftprobe

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Access to the listener bus, which Spark keeps package-private: a
  * listener's counts are final only once the bus has delivered every event
  * posted before the moment of interest. */
object BusProbe {

  /** Waits until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Posts `event` behind every event already queued: a listener that sees
    * it has seen everything posted before it. */
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)
}

/** A marker for [[BusProbe.post]]; never written to the event log. */
final case class BusMarker(key: String) extends SparkListenerEvent {
  override protected[spark] def logEvent: Boolean = false
}
