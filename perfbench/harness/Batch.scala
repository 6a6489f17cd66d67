package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, round}

import graft.GraftSession
import graft.fixtures.TpchGraph
import graft.graph.GraphAlgorithms

/** Batch caller for the `batch`, `graph_batch` and `pipeline_batch`
  * workloads.
  *
  * {{{
  * perfbench.Batch --data DIR --orders FILE --seconds S --trace 0|1 --out DIR
  * }}}
  *
  * Prints `READY` once the session and fixtures exist. `--orders` holds one
  * pass per line (comma-separated call names, order seeded by the caller).
  * The harness runs passes until `--seconds` have elapsed, at least one:
  * the first pass runs in the freshly started JVM, as a batch job launched
  * on its own would. Every call materializes its full result with
  * `collect()`. The first pass's results are written as parquet under
  * `--out` for the digest check; later passes must reproduce its rows. The
  * last stdout line is `RESULT <json>`.
  */
object Batch {

  /** Graph calls: GraphAlgorithms on the 25-node nation fixtures, with the
    * arguments of the matching gate entries (g_concomp, g_pagerank, …), and
    * on SUPPLIED_BY (part→supplier, ~21k vertices, ~591k edges). */
  def graphCalls(gs: GraftSession): Map[String, () => DataFrame] = {
    val band = Some(col("n_dist") <= 10)
    val even = Some(col("n_dist") % 2 === 0)
    def rounded(df: DataFrame) = df.withColumn("rank", round(col("rank"), 6))
    Map(
      "connectedComponents.small" -> (() => GraphAlgorithms.connectedComponents(gs, "NATION_ADJ")),
      "pageRank.small" -> (() => rounded(GraphAlgorithms.pageRank(gs, "NATION_ADJ"))),
      "kCore.small" -> (() => GraphAlgorithms.kCore(gs, "NATION_ADJ", k = 2, maxRounds = 8,
        edgePred = even)),
      "louvain.small" -> (() => GraphAlgorithms.louvain(gs, "NATION_ADJ", rounds = 4, levels = 2,
        edgePred = band)),
      "stronglyConnectedComponents.small" -> (() =>
        GraphAlgorithms.stronglyConnectedComponents(gs, "NATION_RING")),
      "labelPropagation.small" -> (() => GraphAlgorithms.labelPropagation(gs, "NATION_ADJ",
        iters = 5, edgePred = band)),
      "coreNumbers.small" -> (() => GraphAlgorithms.coreNumbers(gs, "NATION_ADJ", maxK = 4,
        edgePred = even)),
      "connectedComponents.large" -> (() => GraphAlgorithms.connectedComponents(gs, "SUPPLIED_BY")),
      "kCore.large" -> (() => GraphAlgorithms.kCore(gs, "SUPPLIED_BY", k = 30, maxRounds = 8)),
      "labelPropagation.large" -> (() => GraphAlgorithms.labelPropagation(gs, "SUPPLIED_BY",
        iters = 5)),
    )
  }

  /** A call's layer: pipeline gate entries are named `p_…`. */
  def layerOf(name: String): String = if (name.startsWith("p_")) "pipeline" else "graph"

  def main(args: Array[String]): Unit = {
    val dir = Harness.arg(args, "data")
    val spark = Harness.session("perfbench-batch")
    val gs = TpchGraph.session(spark, dir)
    println("READY")

    val seconds = Harness.arg(args, "seconds").toDouble
    val trace = Harness.arg(args, "trace") == "1"
    val out = Paths.get(Harness.arg(args, "out"))
    val orders = Files.readAllLines(Paths.get(Harness.arg(args, "orders"))).asScala
      .map(_.split(",").toSeq).filter(_.nonEmpty).toVector
    // pipeline calls are gate entries, run through SparkEntry.queries
    val graph = graphCalls(gs)
    val calls: Map[String, () => DataFrame] = orders.head.distinct.map { n =>
      val fn =
        if (layerOf(n) == "pipeline") graft.SparkEntry.queries.get(n).map(f => () => f(spark, dir))
        else graph.get(n)
      n -> fn.getOrElse(throw new IllegalArgumentException(s"unknown call: $n"))
    }.toMap

    val tr = new Tracer
    val lst = new JobListener
    if (trace) spark.sparkContext.addSparkListener(lst)
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val firstRows = scala.collection.mutable.LinkedHashMap.empty[String, (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)]
    val fingerprints = scala.collection.mutable.HashMap.empty[String, String]
    val mismatched = scala.collection.mutable.LinkedHashSet.empty[String]
    // (name, seconds, eager seconds, materialize seconds)
    val callTimes = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double, Double)]
    var callSeq = 0
    // (job tag, span id that parents the tag's jobs, request id)
    val jobParents = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]

    def runCall(name: String, keep: Boolean): Boolean = {
      callSeq += 1
      val req = s"$name#$callSeq"
      val tagE = s"pb:$req:eager"; val tagM = s"pb:$req:mat"
      val t0 = System.nanoTime()
      try {
        if (!trace) {
          val df = calls(name)()
          val rows = df.collect()
          val t1 = System.nanoTime()
          record(name, rows, df.schema, keep)
          callTimes += ((name, (t1 - t0) / 1e9, 0.0, 0.0))
        } else {
          val layer = layerOf(name)
          tr.span(s"$layer.$name", 0L, req) { root =>
            val (df, eagerS) = tr.span(s"$layer.eager", root, req) { id =>
              jobParents += ((tagE, id, req))
              val s = System.nanoTime()
              val d = Harness.tagged(spark, tagE)(calls(name)())
              (d, (System.nanoTime() - s) / 1e9)
            }
            val matS = tr.span(s"$layer.materialize", root, req) { id =>
              jobParents += ((tagM, id, req))
              val s = System.nanoTime()
              val rows = Harness.tagged(spark, tagM)(df.collect())
              val e = (System.nanoTime() - s) / 1e9
              Harness.catalystPhases(df, Seq("optimization" -> "catalyst.optimize",
                  "planning" -> "catalyst.physical"))
                .foreach { case (n, s0, e0) => tr.add(n, id, req, s0 * 1000L, e0 * 1000L) }
              record(name, rows, df.schema, keep)
              e
            }
            callTimes += ((name, (System.nanoTime() - t0) / 1e9, eagerS, matS))
          }
        }
        true
      } catch {
        case scala.util.control.NonFatal(e) =>
          errors += s"$name: ${e.toString.take(300)}"
          false
      } finally {
        graft.pipeline.PipelineCaches.clear(blocking = true)
      }
    }

    def record(name: String, rows: Array[org.apache.spark.sql.Row],
        schema: org.apache.spark.sql.types.StructType, keep: Boolean): Unit = {
      val fp = Harness.rowsFingerprint(rows)
      fingerprints.get(name) match {
        case Some(prev) if prev != fp => mismatched += name
        case None => fingerprints(name) = fp
        case _ =>
      }
      if (keep && !firstRows.contains(name))
        firstRows(name) = (rows, schema)
    }

    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
    val t0 = System.nanoTime()
    var p = 0
    while (p == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val order = orders(p % orders.size)
      val ps = System.nanoTime()
      val ok = order.map(n => runCall(n, keep = p == 0)).count(identity)
      passes += (((System.nanoTime() - ps) / 1e9, ok))
      p += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9

    // digest material, written outside the timed window
    firstRows.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(name).toString)
    }

    val layerFields = if (!trace) Seq.empty else {
      lst.drain(spark)
      jobParents.foreach { case (tag, id, req) => Harness.jobSpans(tr, lst, tag, id, req) }
      traceFields(tr, lst, callTimes.toSeq)
    }
    if (trace) tr.write(out.resolve("spans.jsonl"))

    val fields = Seq(
      "window_s" -> Harness.num(windowS),
      "passes" -> passes.map { case (s, ok) => s"""{"s":${Harness.num(s)},"ok":$ok}""" }
        .mkString("[", ",", "]"),
      "calls_per_pass" -> orders.head.size.toString,
      "calls" -> callTimes.map { case (n, s, e, m) =>
        s"""{"name":${graft.util.JsonUtil.quote(n)},"s":${Harness.num(s)},"eager_s":${Harness.num(e)},"mat_s":${Harness.num(m)}}"""
      }.mkString("[", ",", "]"),
      "errors" -> errors.map(graft.util.JsonUtil.quote).mkString("[", ",", "]"),
      "unstable" -> mismatched.map(graft.util.JsonUtil.quote).mkString("[", ",", "]"),
      "rss_mb" -> Harness.num(Harness.peakRssMb()),
      "layers" -> Harness.jsonObj(layerFields),
    )
    println("RESULT " + Harness.jsonObj(fields))
    spark.stop()
  }

  /** Per-layer metrics of a traced batch run; graph and pipeline metrics
    * cover the calls of their own layer. */
  private def traceFields(tr: Tracer, lst: JobListener,
      callTimes: Seq[(String, Double, Double, Double)]): Seq[(String, String)] = {
    val cores = Runtime.getRuntime.availableProcessors()
    val roots = tr.all.filter(_.parent == 0L)
    def tots(reqs: Seq[String]) =
      reqs.flatMap(r => Seq(lst.totalsFor(s"pb:$r:eager"), lst.totalsFor(s"pb:$r:mat")))
    def cpuS(t: Seq[TagTotals]) = t.map(_.cpuNs).sum / 1e9
    def share(t: Seq[TagTotals], wall: Double) =
      Harness.num(if (wall > 0) cpuS(t) / (wall * cores) else 0.0)
    val all = tots(roots.map(_.req))
    val n = math.max(1, roots.size).toDouble
    val wall = callTimes.map(_._2).sum
    def phaseP50(name: String) = Harness.num(Harness.median(
      tr.all.filter(_.name == name).map(s => (s.endUs - s.startUs) / 1000.0)))
    val common = Seq(
      "catalyst.optimize_p50_ms" -> phaseP50("catalyst.optimize"),
      "catalyst.physical_p50_ms" -> phaseP50("catalyst.physical"),
      "spark.execute_p50_ms" -> Harness.num(Harness.median(callTimes.map(_._4 * 1000))),
      "spark.jobs" -> Harness.num(all.map(_.jobs).sum / n),
      "spark.stages" -> Harness.num(all.map(_.stages).sum / n),
      "spark.tasks" -> Harness.num(all.map(_.tasks).sum / n),
      "spark.sched_delay_ms" -> Harness.num(all.map(_.schedMs).sum / n),
      "spark.task_cpu_share" -> share(all, wall),
      "spark.gc_ms" -> Harness.num(all.map(_.gcMs).sum / n),
      "spark.shuffle_write_mb" -> Harness.num(all.map(_.shuffleWriteBytes).sum / 1e6 / n),
      "spark.spill_mb" -> Harness.num(all.map(_.spillBytes).sum / 1e6 / n),
    )
    def layerCalls(layer: String) = callTimes.filter(c => layerOf(c._1) == layer)
    val g = layerCalls("graph")
    val gt = tots(roots.filter(_.name.startsWith("graph.")).map(_.req))
    val p = layerCalls("pipeline")
    val pt = tots(roots.filter(_.name.startsWith("pipeline.")).map(_.req))
    val passes = math.max(1.0, p.size.toDouble / math.max(1, p.map(_._1).distinct.size))
    val layers = Seq(
      "graph.jobs_per_call" -> Harness.num(gt.map(_.jobs).sum / math.max(1, g.size)),
      "graph.task_cpu_share" -> share(gt, g.map(_._2).sum),
      "graph.eager_p50_s" -> Harness.num(Harness.median(g.map(_._3))),
      "pipeline.task_cpu_s" -> Harness.num(cpuS(pt) / passes),
      "pipeline.shuffle_write_mb" -> Harness.num(pt.map(_.shuffleWriteBytes).sum / 1e6 / passes),
      "pipeline.spill_mb" -> Harness.num(pt.map(_.spillBytes).sum / 1e6 / passes),
    )
    val perCall = callTimes.groupBy(_._1).toSeq.sortBy(_._1).map { case (name, xs) =>
      s"${layerOf(name)}.${name}_s" -> Harness.num(Harness.median(xs.map(_._2)))
    }
    common ++ layers ++ perCall
  }
}
