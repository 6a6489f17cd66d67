package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.JsonUtil.quote

/** One timed interval. `req` groups the spans of one request or call;
  * `parent` is the id of the span that caused this one (0 = root). Times
  * are epoch microseconds. */
final case class Span(id: Long, parent: Long, name: String, req: String,
    startUs: Long, endUs: Long)

/** In-memory span recorder; spans are written out once, at the end. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
  def newId(): Long = ids.incrementAndGet()

  def add(name: String, parent: Long, req: String, startUs: Long, endUs: Long): Long = {
    val id = newId()
    spans.add(Span(id, parent, name, req, startUs, endUs))
    id
  }

  /** Times `body`; the body receives its own span id so it can parent
    * children recorded while it runs. */
  def span[T](name: String, parent: Long, req: String)(body: Long => T): T = {
    val id = newId()
    val s = nowUs
    try body(id)
    finally spans.add(Span(id, parent, name, req, s, nowUs))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startUs).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":${quote(s.name)},""" +
        s""""req":${quote(s.req)},"start_us":${s.startUs},"end_us":${s.endUs}}""" + "\n"
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Task-level totals for the jobs that carried one tag. */
final class TagTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L
  val jobTimes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes Spark jobs to the harness's job tags (`pb:` prefix) and sums
  * their stage and task metrics per tag. */
final class JobListener extends SparkListener {
  private val jobTag = new ConcurrentHashMap[Int, String]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, TagTotals]()

  private def tot(tag: String): TagTotals = totals.computeIfAbsent(tag, _ => new TagTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")).filter(_.startsWith("pb:"))
    tags.headOption.foreach { tag =>
      jobTag.put(e.jobId, tag)
      jobStartMs.put(e.jobId, e.time)
      e.stageIds.foreach(stageTag.put(_, tag))
      val t = tot(tag)
      t.synchronized { t.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobTag.get(e.jobId)).foreach { tag =>
      val t = tot(tag)
      t.synchronized { t.jobTimes += ((jobStartMs.get(e.jobId), e.time)) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
      val t = tot(tag)
      t.synchronized { t.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { tag =>
      val t = tot(tag)
      val m = e.taskMetrics
      val info = e.taskInfo
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          t.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        }
      }
    }

  def totalsFor(tag: String): TagTotals = Option(totals.get(tag)).getOrElse(new TagTotals)

  /** Waits until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbenchprobe.BusProbe.drain(spark.sparkContext)
}

/** Helpers shared by the harness mains. */
object Harness {

  /** The session `graft.server.Main` builds, with its environment
    * defaults: `GRAFT_MASTER` (local[*]) and `GRAFT_SHUFFLE_PARTITIONS` (32). */
  def session(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(sys.env.getOrElse("GRAFT_MASTER", sys.props.getOrElse("spark.master", "local[*]")))
      .config(graft.SparkTuning.kryoConf())
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` with a job tag set on this thread. */
  def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  /** Catalyst phase intervals of one query execution, as recorded by its
    * `QueryPlanningTracker`: (span name, start ms, end ms). */
  def catalystPhases(df: org.apache.spark.sql.Dataset[_], phases: Seq[(String, String)]): Seq[(String, Long, Long)] = {
    val recorded = df.queryExecution.tracker.phases
    phases.flatMap { case (phase, name) =>
      recorded.get(phase).map(p => (name, p.startTimeMs, p.endTimeMs))
    }
  }

  /** Records the jobs of `tag` as `spark.job` spans under `parent`. */
  def jobSpans(tr: Tracer, lst: JobListener, tag: String, parent: Long, req: String): Unit =
    lst.totalsFor(tag).jobTimes.foreach { case (s, e) =>
      tr.add("spark.job", parent, req, s * 1000L, e * 1000L)
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def jsonObj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")

  /** Order-independent fingerprint of collected rows; doubles at 6 dp so
    * summation-order noise below the oracle's rounding does not count. */
  def rowsFingerprint(rows: Array[org.apache.spark.sql.Row]): String = {
    def cell(v: Any): String = v match {
      case null => "null"
      case d: Double => f"$d%.6f"
      case f: Float => f"${f.toDouble}%.6f"
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case r: org.apache.spark.sql.Row => r.toSeq.map(cell).mkString("(", ",", ")")
      case a: Array[Byte] => a.mkString("b[", ",", "]")
      case other => other.toString
    }
    val lines = rows.map(r => r.toSeq.map(cell).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.trim.split("\\s+")(1).toLong * 1024 / 1e6).getOrElse(0.0)
    finally src.close()
  }

  /** Total memory size of the RDD blocks currently cached, in MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
}
