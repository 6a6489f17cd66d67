package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole test JVM (Test / fork := true),
  * built from the production conf ([[SparkTuning.kryoConf]]): the specs run
  * the serializer, the codegen cache size and the parameter-reference rule
  * the server runs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config(SparkTuning.kryoConf())
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val tempDirs = new ConcurrentLinkedQueue[java.io.File]()
  sys.addShutdownHook {
    tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
  }

  /** A fresh temporary directory, deleted with everything under it when
    * the test JVM exits. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d.toString
  }

  def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)

  def longs(df: DataFrame): Set[Long] =
    df.collect().toSet[org.apache.spark.sql.Row].map(_.getLong(0))

  /** Driver-side xxhash64 of a string — the SAME primitive the SQL
    * `xxhash64(col)` function uses (seed 42), evaluated directly. Used by
    * reference reimplementations of hash-based operators (simhash,
    * winnowing) so specs assert exact outputs, not just properties. */
  def xxhash64Ref(s: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    XxHash64(Seq(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType)), 42L).eval(null).asInstanceOf[Long]
  }
}
