package org.apache.spark.graftprobe

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** Test access to the driver's block manager, which Spark keeps
  * package-private: which broadcast variables still hold blocks. */
object BlockProbe {
  def broadcastIds: Set[Long] =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case BroadcastBlockId(id, _) => id }.toSet
}
