package graft

import org.apache.spark.SparkConf

/** Session-level tuning shared by every entry point (bench, verify,
  * server): Kryo serialization. DataFrame exchanges move UnsafeRows and
  * are unaffected; what this changes is the RDD layer the graph rounds
  * ride (tuple and primitive-array shuffles, persisted round state) plus
  * broadcast values, where Java serialization writes the full class
  * descriptor per object graph. Spark's KryoSerializer installs chill's
  * AllScalaRegistrar, so the Scala tuples and collections the rounds
  * shuffle serialize without per-class registration. Results are
  * byte-identical — serialization format never reaches query semantics.
  */
object SparkTuning {
  /** A SparkConf carrying the serializer settings, for
    * `SparkSession.builder().config(...)`. */
  def kryoConf(): SparkConf = new SparkConf()
    .set("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
}
