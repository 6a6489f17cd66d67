package org.apache.spark.graftprobe

import org.apache.spark.SparkContext

/** Test access to the listener bus, which Spark keeps package-private:
  * a listener's counts are final only once the bus has drained. */
object BusProbe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
