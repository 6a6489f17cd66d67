package org.apache.spark.perfbenchprobe

import org.apache.spark.SparkContext

/** Reaches the listener bus, which Spark keeps package-private. */
object BusProbe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
