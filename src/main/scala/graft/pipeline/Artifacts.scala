package graft.pipeline

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Build-once / read-many artifacts under ONE staleness fence: the MinHash
  * signatures, mined pairs and span starts ([[Dedup]]), the IVF index
  * ([[Similarity]]) and the BPE vocabulary ([[Bpe]]). Hadoop FS API, so
  * artifact paths work on any filesystem a real cluster mounts (local,
  * HDFS, object storage).
  *
  * The fence contract, for an artifact rooted at `path`:
  *  - **Key.** A JSON object of every build parameter plus the input's
  *    [[graft.catalog.Snapshot.fingerprint]]. Keys compare by parsed
  *    equality — field order and number spelling do not matter, and no
  *    value can false-match a prefix of another.
  *  - **Meta.** `path/_meta.json` is `{"dir": <version>, "key": {...}}`,
  *    and it is written LAST: a build that dies midway leaves the previous
  *    meta (or none), so the next call rebuilds instead of serving a
  *    half-written version.
  *  - **Version directory.** Every build writes into a fresh
  *    `path/v-<uuid>` and never over the live version, so a reader — or an
  *    incremental merge reading the previous version while it writes the
  *    next — keeps its files.
  *  - **Sweep.** Once the meta names the new version, every other entry
  *    under `path` is deleted: superseded versions, strays of interrupted
  *    builds and the retired per-builder `_*_meta.json` files. Only the
  *    live directory, the meta and a stream's [[BatchMarker]] stay.
  *  - **Single writer.** One builder per path at a time. The sweep spares
  *    whatever the meta names when it runs, but two concurrent builders
  *    can still delete each other's unpublished version.
  *
  * Re-obtain an artifact's frame through its builder after a refresh
  * rather than holding one across it: the sweep deletes what it read. */
object Artifacts {

  /** A build's identity: field name → parsed JSON value. */
  type Key = Map[String, JsonNode]

  /** The live version of a fenced artifact: its data directory (absolute)
    * and the key it was built under. */
  final case class Version(dir: String, key: Key)

  private val MetaFile = "_meta.json"

  /** The last fully applied micro-batch id of a stream that maintains the
    * artifact in place ([[Similarity.streamToIvfIndex]]). It outlives a
    * rebuild: a restarted stream must still skip the batches it applied. */
  val BatchMarker = "_stream_batch"
  private val mapper = new ObjectMapper()

  /** A key from (field, value) pairs — strings, numbers, booleans. The
    * values round-trip through JSON text, so a key built here equals the
    * same key parsed back from a meta. */
  def key(fields: (String, Any)*): Key =
    fieldsOf(mapper.readTree(mapper.writeValueAsString(
      fields.toMap.map { case (k, v) => k -> v.asInstanceOf[AnyRef] }.asJava)))

  /** Fields present in one key but not the other, or valued differently. */
  def differing(a: Key, b: Key): Seq[String] =
    (a.keySet ++ b.keySet).filter(f => a.get(f) != b.get(f)).toSeq.sorted

  /** The artifact at `path` built under `key`: the live version's directory
    * when its key is equal, otherwise a rebuild — one `ARTIFACT REBUILD`
    * line naming why, then [[publish]]. `build(dir, previous)` writes the
    * data under `dir`; `previous` is the stale live version, if one is
    * readable, for a builder that merges incrementally. */
  def fenced(spark: SparkSession, path: String, key: Key)(
      build: (String, Option[Version]) => Unit): String =
    read(spark, path) match {
      case Right(live) if live.key == key => live.dir
      case stale =>
        logRebuild(path, stale.fold(identity,
          live => "key fields differ: " + differing(live.key, key).mkString(", ")))
        publish(spark, path, key)(build(_, stale.toOption))
    }

  /** The unconditional half of [[fenced]]: build into a fresh version
    * directory, write the meta naming it, sweep the rest. Returns the new
    * version's directory. */
  def publish(spark: SparkSession, path: String, key: Key)(
      build: String => Unit): String = {
    val dir = s"$path/v-${java.util.UUID.randomUUID()}"
    build(dir)
    rekey(spark, path, Version(dir, key))
    // keyed off a re-read of the meta, not off `dir`: a directory the
    // meta names is never swept
    val live = read(spark, path).toOption.fold(dir)(_.dir)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a checksumming filesystem lists no `.crc` files and deletes a file's
    // checksum with it
    val kept = Set(new Path(live).getName, MetaFile, BatchMarker)
    for (st <- fs.listStatus(root) if !kept(st.getPath.getName))
      fs.delete(st.getPath, true)
    dir
  }

  /** The live version at `path`, if its meta is readable and its
    * directory exists. */
  def live(spark: SparkSession, path: String): Option[Version] =
    read(spark, path).toOption

  /** Rewrite the meta so `version.dir` is live under `version.key` — for a
    * maintainer that appends to the live version in place and then records
    * the input it now covers (see [[Similarity.appendToIvfIndex]]). */
  def rekey(spark: SparkSession, path: String, version: Version): Unit = {
    val meta = mapper.createObjectNode()
    meta.put("dir", new Path(version.dir).getName)
    meta.putObject("key").setAll[JsonNode](version.key.asJava)
    writeString(spark, s"$path/$MetaFile", mapper.writeValueAsString(meta))
  }

  /** The live version, or why there is none. Never throws on a malformed
    * meta: an unreadable fence is a stale one. */
  private def read(spark: SparkSession, path: String): Either[String, Version] =
    for {
      text <- readStringIfExists(spark, s"$path/$MetaFile").toRight("no meta")
      root <- scala.util.Try(mapper.readTree(text)).toEither.left.map(e =>
        "unparseable meta: " +
          String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(""))
      live <- (Option(root.get("dir")).filter(_.isTextual),
          Option(root.get("key")).filter(_.isObject)) match {
        case (Some(d), Some(k)) => Right(Version(s"$path/${d.asText}", fieldsOf(k)))
        case _ => Left("meta names no version directory and key")
      }
      _ <- Either.cond(exists(spark, live.dir), (),
        s"live directory ${new Path(live.dir).getName} missing")
    } yield live

  private def fieldsOf(node: JsonNode): Key =
    node.properties().asScala.map(e => e.getKey -> e.getValue).toMap

  /** One loud stderr line per rebuild, with the path and WHY it was
    * stale: silent artifact churn once charged full re-mines to timed
    * iterations with nothing in the output saying a rebuild happened. */
  private def logRebuild(path: String, reason: String): Unit = {
    val line = mapper.createObjectNode().put("path", path).put("reason", reason)
    System.err.println(s"ARTIFACT REBUILD ${mapper.writeValueAsString(line)}")
  }

  def writeString(spark: SparkSession, path: String, s: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  def readStringIfExists(spark: SparkSession, path: String): Option[String] =
    if (!exists(spark, path)) None
    else {
      val p = new Path(path)
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
