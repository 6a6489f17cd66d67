package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.graftprobe.{BusMarker, BusProbe}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.util.JsonUtil.quote

/** Where one unit of work spent its time: a server request, a `PROFILE`
  * statement or one bench iteration. One span tree per unit, keyed by one
  * id, cheap enough to stay always on (Dapper, Sigelman et al. 2010).
  *
  * `GraftSession.cypher` opens the `parse` and `build` spans, the consumer
  * opens `execute`, and each executed `QueryExecution`'s Catalyst phases
  * (`analyze`, `optimize`, `physical`) hang under the span they ran in. A
  * layer is the summed self time of its spans, so layers never overlap and
  * add up to the wall time; `other` is the root's own time. Every job the
  * unit submits carries its job tag, and one process-wide listener sums
  * jobs, stages, tasks, task CPU, scheduler delay, shuffle write and spill
  * per live tag. A job submitted inside `build` ran eagerly while the
  * DataFrame was built (hop-adjacency collect, BPE training, packer
  * collects, graph rounds) and is counted apart, its task CPU too.
  *
  * A profile belongs to the thread that started it. [[end]] stops its
  * clock; [[close]] then waits, bounded, for the listener to catch up and
  * drops the tag's state, so a long-lived server keeps no per-request map.
  */
final class Profile private (val id: String, sc: SparkContext, startUs: Long) {
  import Profile._

  val tag: String = s"graft-profile-$id"

  private final class Span(val name: String, val parent: Int, val start: Long, var end: Long)
  private val spans = ArrayBuffer(new Span("", -1, startUs, -1L))
  private var open = 0
  private val seenPhases = scala.collection.mutable.Set.empty[(AnyRef, String)]
  private var fields: Seq[(String, Double)] = Nil
  private var drained = false

  /** Times `body` as a child of the innermost open span. */
  def span[A](name: String)(body: => A): A = {
    val i = synchronized {
      spans += new Span(name, open, nowUs, -1L)
      open = spans.size - 1
      open
    }
    val outer = sc.getLocalProperty(LayerProperty)
    sc.setLocalProperty(LayerProperty, name)
    try body
    finally {
      sc.setLocalProperty(LayerProperty, outer)
      synchronized { spans(i).end = nowUs; open = spans(i).parent }
    }
  }

  /** Adds an interval timed elsewhere, under the innermost span that
    * contains its midpoint. */
  def record(name: String, fromUs: Long, toUs: Long): Unit = synchronized {
    val mid = (fromUs + toUs) / 2
    val now = nowUs
    val parent = spans.indices.filter { j =>
      val s = spans(j)
      s.start <= mid && mid <= (if (s.end < 0) now else s.end)
    }.maxByOption(spans(_).start).getOrElse(0)
    spans += new Span(name, parent, fromUs, toUs)
  }

  /** Records the Catalyst phases `qe` has run so far (once each). */
  def catalyst(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    for ((phase, layer) <- CatalystLayers; s <- phases.get(phase)
         if synchronized(seenPhases.add((qe.tracker, phase))))
      record(layer, s.startTimeMs * 1000L, s.endTimeMs * 1000L)
  }

  /** Runs `df` to completion — every row computed, nothing collected, as a
    * result write would — inside an `execute` span. */
  def execute(df: DataFrame): Unit = {
    span("execute")(df.queryExecution.toRdd.foreach(_ => ()))
    catalyst(df.queryExecution)
  }

  /** Stops the clock and takes the profile off its thread. Idempotent. */
  def end(): Unit = if (spans(0).end < 0) {
    spans(0).end = nowUs
    sc.removeJobTag(tag)
    stack.set(stack.get.filterNot(_ eq this))
  }

  /** Ends the profile, waits (at most [[DrainMs]]) until the listener has
    * every event of the unit's jobs, drops the tag's listener state and
    * fixes the [[summary]]. Idempotent; call it once the response is out. */
  def close(): Unit = {
    end()
    if (fields.isEmpty) {
      val seen = new CountDownLatch(1)
      Listener.markers.put(tag, seen)
      BusProbe.post(sc, BusMarker(tag))
      drained = seen.await(DrainMs, TimeUnit.MILLISECONDS)
      Listener.markers.remove(tag)
      val t = Option(Listener.live.remove(tag)).getOrElse(new Totals)
      val l = layers
      val cpuMs = (t.cpuNs - t.eagerCpuNs) / 1e6
      val buildCpuMs = t.eagerCpuNs / 1e6
      fields = ("wall_ms" -> wallMs) +: (Layers.map(n => s"${n}_ms" -> l.getOrElse(n, 0.0)) ++
        Seq("task_cpu_ms" -> cpuMs, "wait_ms" -> math.max(0.0, l.getOrElse("execute", 0.0) - cpuMs),
          "build_cpu_ms" -> buildCpuMs,
          "build_wait_ms" -> math.max(0.0, l.getOrElse("build", 0.0) - buildCpuMs)) ++
        Seq("jobs" -> t.jobs, "eager_jobs" -> t.eagerJobs, "stages" -> t.stages,
          "tasks" -> t.tasks, "sched_delay_ms" -> t.schedMs,
          "shuffle_write_bytes" -> t.shuffleWriteBytes, "spill_bytes" -> t.spillBytes)
          .map { case (k, v) => k -> v.toDouble })
    }
  }

  def wallMs: Double = (spans(0).end - spans(0).start) / 1000.0

  /** Self time per span name, in ms; the root's self time is `other`. */
  private def layers: Map[String, Double] = synchronized {
    val childUs = Array.fill(spans.size)(0L)
    for (s <- spans if s.parent >= 0) {
      val p = spans(s.parent)
      childUs(s.parent) += math.max(0L, math.min(s.end, p.end) - math.max(s.start, p.start))
    }
    spans.indices.groupMapReduce(i => if (i == 0) "other" else spans(i).name) { i =>
      math.max(0L, spans(i).end - spans(i).start - childUs(i)) / 1000.0
    }(_ + _)
  }

  /** Wall time, the layers in [[Layers]] order, the execute and build
    * layers each split into task CPU and wait (build's CPU is the eager
    * jobs'), and the job counts: what every consumer reports. */
  def summary: Seq[(String, Double)] = {
    require(fields.nonEmpty, "close() the profile before reading it")
    fields
  }

  /** `{head…, "wall_ms":…, "layers":{…}, "jobs":…, …, "drained":…}`. */
  def toJson(head: (String, String)*): String = {
    def obj(kv: Seq[(String, String)]) =
      kv.map { case (k, v) => quote(k) + ":" + v }.mkString("{", ",", "}")
    val all = summary.map { case (k, v) => k -> num(v) }
    val (layerPart, counts) = all.tail.splitAt(Layers.size + 4)
    obj(head ++ Seq(all.head, "layers" -> obj(layerPart)) ++ counts :+ ("drained" -> drained.toString))
  }
}

object Profile {

  /** Non-overlapping layers, in the order a unit passes through them. */
  val Layers: Seq[String] =
    Seq("parse", "build", "analyze", "optimize", "physical", "execute", "other")

  private val CatalystLayers = Seq(
    "analysis" -> "analyze", "optimization" -> "optimize", "planning" -> "physical")

  /** Job property naming the innermost open span at job submission. */
  private val LayerProperty = "graft.profile.layer"

  /** Bound on the wait in [[Profile.close]] for the listener bus. */
  private val DrainMs = 2000L

  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Profile]](() => Nil)

  /** Wall clock in epoch µs: the clock Catalyst stamps its phases with
    * (in ms), so phases and spans line up however long the JVM runs. */
  def nowUs: Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  /** Starts a profile on the calling thread, its clock running since
    * `sinceUs`, and tags the thread's jobs with it. */
  def start(spark: SparkSession, sinceUs: Long = nowUs): Profile = {
    val sc = spark.sparkContext
    Listener.install(sc)
    val p = new Profile(ids.incrementAndGet().toString, sc, sinceUs)
    Listener.live.put(p.tag, new Totals)
    sc.addJobTag(p.tag)
    stack.set(p :: stack.get)
    p
  }

  /** `body` in a span of the current profile, or just `body`. */
  def span[A](name: String)(body: => A): A = stack.get match {
    case p :: _ => p.span(name)(body)
    case Nil => body
  }

  /** Records `qe`'s Catalyst phases in the current profile, if any. */
  def catalyst(qe: QueryExecution): Unit = stack.get.headOption.foreach(_.catalyst(qe))

  /** True while the listener keeps any state for `tag`. */
  private[graft] def listenerHolds(tag: String): Boolean =
    Listener.live.containsKey(tag) || Listener.markers.containsKey(tag)

  /** Codegen classes compiled in this JVM so far (Spark's own counter). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The operators of an executed plan, depth first, with their depth:
    * adaptive plans and query stages are entered, a reused exchange or a
    * cached relation is not (it runs once, where it is defined). */
  def planNodes(plan: SparkPlan): Seq[(Int, SparkPlan)] = {
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec | _: InMemoryTableScanExec => Nil
      case _ => p.children ++ p.subqueries
    }
    def walk(p: SparkPlan, d: Int): Seq[(Int, SparkPlan)] = (d, p) +: kids(p).flatMap(walk(_, d + 1))
    walk(plan, 0)
  }

  /** Operator name → count over [[planNodes]], most frequent first
    * (whole-stage codegen stages counted under one name). */
  def census(plan: SparkPlan): Seq[(String, Int)] =
    planNodes(plan).map(_._2.nodeName.replaceAll(" \\(\\d+\\)$", "").trim)
      .groupMapReduce(identity)(_ => 1)(_ + _).toSeq.sortBy { case (n, c) => (-c, n) }

  /** The executed plan, one operator per line, with its SQL metric values. */
  def planWithMetrics(plan: SparkPlan): String =
    planNodes(plan).map { case (d, p) =>
      val ms = p.metrics.toSeq.sortBy(_._1).map { case (k, m) => s"$k=${m.value}" }
      "  " * d + p.simpleString(4).take(160) +
        (if (ms.isEmpty) "" else ms.mkString(" [", ", ", "]"))
    }.mkString("\n")

  private def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else String.format(java.util.Locale.ROOT, "%.3f", v)

  private final class Totals {
    var jobs, eagerJobs, stages, tasks = 0L
    var cpuNs, eagerCpuNs, schedMs, shuffleWriteBytes, spillBytes = 0L
  }

  /** The one listener: sums task metrics per live profile tag. Per-job and
    * per-stage entries live from job start to job end; a tag's totals from
    * [[Profile.start]] to [[Profile.close]]. */
  private object Listener extends SparkListener {
    val live = new ConcurrentHashMap[String, Totals]()
    val markers = new ConcurrentHashMap[String, CountDownLatch]()
    private val stageOwners = new ConcurrentHashMap[Int, (Seq[Totals], Boolean)]()
    private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
    private var installedOn: SparkContext = _

    def install(sc: SparkContext): Unit = synchronized {
      if (installedOn ne sc) { sc.addSparkListener(this); installedOn = sc }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).foreach { props =>
        val owners = Option(props.getProperty("spark.job.tags")).toSeq
          .flatMap(_.split(',')).flatMap(t => Option(live.get(t)))
        if (owners.nonEmpty) {
          val eager = props.getProperty(LayerProperty) == "build"
          owners.foreach(t => t.synchronized { t.jobs += 1; if (eager) t.eagerJobs += 1 })
          e.stageIds.foreach(stageOwners.put(_, (owners, eager)))
          jobStages.put(e.jobId, e.stageIds)
        }
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStages.remove(e.jobId)).foreach(_.foreach(stageOwners.remove))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageOwners.get(e.stageInfo.stageId)).foreach(_._1.foreach { t =>
        t.synchronized(t.stages += 1)
      })

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOwners.get(e.stageId)).foreach { case (owners, eager) =>
        val m = e.taskMetrics
        val info = e.taskInfo
        owners.foreach(t => t.synchronized {
          t.tasks += 1
          if (m != null) {
            t.cpuNs += m.executorCpuTime
            if (eager) t.eagerCpuNs += m.executorCpuTime
            t.schedMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
            t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        })
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case BusMarker(key) => Option(markers.remove(key)).foreach(_.countDown())
      case _ =>
    }
  }
}
