package graft.fixtures

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence fixture generator: replicates an sf-dir `factor`× with
  * key-space offsets, so the bench can demonstrate the scale-up CURVE
  * (sub-linear wall-clock growth ⇒ the plans parallelize instead of
  * serializing). Dimensions (region, nation) keep their size — exactly how
  * TPC-H scales — so broadcast-vs-shuffle join choices stay realistic.
  *
  * Key domains are offset by copy·STRIDE consistently on both sides of
  * every foreign key; `documents` texts get a per-copy suffix token so the
  * near-dup structure grows linearly (each doc gains cross-copy near-dups)
  * rather than collapsing into one giant exact-dup bucket.
  *
  * Usage: `runMain graft.fixtures.ScaleUp <srcSfDir> <outDir> <factor>`
  */
object ScaleUp {

  val Stride = 100000000L

  /** The documents replication used for scale fixtures: copy k offsets
    * doc_id by k·[[Stride]] and appends one suffix token, so each copy
    * is a NEAR duplicate of copy 0 (one shingle-window of difference) —
    * dedup work grows linearly instead of collapsing into one giant
    * exact-dup bucket. */
  def scaledDocuments(docs: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      val off = docs.withColumn("doc_id", col("doc_id") + lit(k * Stride))
      if (k == 0) off
      else off.withColumn("text", concat(col("text"), lit(s" copyvariant$k")))
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def copies(df: DataFrame, keyCols: Seq[String], f: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { k =>
        val off = keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * Stride)))
        f(off, k)
      }.reduce(_ unionAll _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")

    // dimensions: unchanged (TPC-H scaling semantics)
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(copies(read("customer"), Seq("c_custkey")), "customer")
    write(copies(read("supplier"), Seq("s_suppkey")), "supplier")
    write(copies(read("part"), Seq("p_partkey")), "part")
    write(copies(read("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    write(copies(read("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(copies(read("events"), Seq("event_id", "user_id")), "events")
    write(copies(read("embeddings"), Seq("vec_id")), "embeddings")
    // per-copy suffix token: copy k of a doc is a NEAR duplicate of copy 0
    // (one shingle-window of difference), preserving realistic dedup work
    write(scaledDocuments(read("documents"), factor), "documents")
    spark.stop()
  }
}
