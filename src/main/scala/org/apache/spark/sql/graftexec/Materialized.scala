package org.apache.spark.sql.graftexec

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** A frame over rows already computed from `origin`, planned as a leaf
  * (the plan's lineage stops at `rows`) that keeps `origin`'s statistics,
  * as `Dataset.localCheckpoint` does. `createDataFrame(rdd, schema)` gives
  * the same leaf without statistics, so the optimizer sizes it at
  * `spark.sql.defaultSizeInBytes` and no join over it broadcasts.
  *
  * Lives under `org.apache.spark.sql` because `LogicalRDD.fromDataset` and
  * `Dataset.ofRows` are `private[sql]`. */
object Materialized {
  def apply(origin: DataFrame, rows: RDD[InternalRow]): DataFrame = {
    val ds = origin.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rows, ds, isStreaming = false))
  }
}
