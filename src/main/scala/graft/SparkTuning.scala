package graft

import org.apache.spark.SparkConf

/** Session-level settings shared by every entry point (server, bench,
  * verify, the perfbench harness and the test suite), which build their
  * sessions from [[kryoConf]]:
  *
  *  - **Kryo serialization.** DataFrame exchanges move UnsafeRows and are
  *    unaffected; what this changes is the RDD layer the graph rounds ride
  *    (tuple and primitive-array shuffles, persisted round state) plus
  *    broadcast values, where Java serialization writes the full class
  *    descriptor per object graph. Spark's KryoSerializer installs chill's
  *    AllScalaRegistrar, so the Scala tuples and collections the rounds
  *    shuffle serialize without per-class registration. Results are
  *    byte-identical — serialization format never reaches query semantics.
  *  - **graft's session extension** ([[graft.functions.GraftExtensions]]):
  *    the vector functions as built-ins and two physical rules over the
  *    thread's Cypher statement ([[graft.exec.Statement]]): one reads
  *    bound `$param` values through references ([[graft.exec.ParamRefs]]),
  *    the other serves value-free broadcast join sides from the session's
  *    held store ([[graft.exec.HeldBroadcasts]]).
  *  - **Codegen cache size.** See [[CodegenCacheEntries]].
  */
object SparkTuning {

  /** `spark.sql.codegen.cache.maxEntries`: how many generated classes
    * Spark keeps compiled (LRU; Spark's default is 100). Spark reads it
    * once per JVM, when its code generator first initialises, so it must
    * be on the conf the first session is built from.
    *
    * Sized from the measured working set (DESIGN §17): the 12 `cypher_read`
    * templates use about 170 classes, so at 100 every request recompiled
    * all of its classes even for a repeated value; one pass over the 211
    * gate entries compiles 2,087. A/B with only this size changed
    * (`JAVA_TOOL_OPTIONS` on a server built without it, 10 alternating
    * pairs): `cypher_read` `pass_p50_ms` 0.716×, 10 of 10 wins, peak RSS
    * within the runs' spread. */
  val CodegenCacheEntries = 4000

  /** The shared session conf, for `SparkSession.builder().config(...)`.
    * A `-Dspark.sql.codegen.cache.maxEntries` system property wins over
    * [[CodegenCacheEntries]]. The name predates the extension and cache
    * settings. */
  def kryoConf(): SparkConf = new SparkConf()
    .set("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    .set("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
    .setIfMissing("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
}
