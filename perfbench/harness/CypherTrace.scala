package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.cypher.CypherParser
import graft.util.JsonUtil.quote

/** Traced run of the Cypher workloads (`cypher_read`, `cypher_mixed`).
  *
  * {{{
  * perfbench.CypherTrace --data DIR --requests FILE --warmup N --seconds S --clients N
  *   --out DIR
  * }}}
  *
  * Boots the server in-process through `graft.server.Main.boot`, so the
  * session and server are the ones the untraced run talks to. The first
  * `--warmup` requests warm it up over HTTP, as in the untraced run. Phase A
  * replays the rest of the list in-process from N client threads, with a span
  * around each layer call: the handler's path (parse, `GraftSession.cypher`,
  * JSONEachRow drain, `PipelineCaches.clear`) with job tags for the Spark
  * listener. Phase B replays the same reads over HTTP against the same
  * server without spans; the per-template difference of the two medians is
  * the server's own overhead. Response rows go to `responses.jsonl` for the
  * digest check and spans to `spans.jsonl`; the last stdout line is
  * `RESULT <json>`.
  */
object CypherTrace {

  final case class Req(id: String, template: String, kind: String, query: String,
      params: Map[String, Any], body: String)

  /** JSON parameter → engine binding, as the server binds them. */
  private def param(v: JValue): Any = v match {
    case JString(s) => s
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JBool(b) => b
    case JArray(xs) => xs.map(param)
    case _ => null
  }

  def readRequests(path: String): Vector[Req] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { line =>
      val j = JsonMethods.parse(line)
      val JString(id) = j \ "id"
      val JString(t) = j \ "template"
      val JString(k) = j \ "kind"
      val JString(q) = j \ "query"
      val params = (j \ "params") match {
        case JObject(fs) => fs.map { case (n, v) => n -> param(v) }.toMap
        case _ => Map.empty[String, Any]
      }
      val body = JsonMethods.compact(JObject("query" -> JString(q), "parameters" -> (j \ "params")))
      Req(id, t, k, q, params, body)
    }.toVector

  def main(args: Array[String]): Unit = {
    val dir = Harness.arg(args, "data")
    val reqs = readRequests(Harness.arg(args, "requests"))
    val seconds = Harness.arg(args, "seconds").toDouble
    val clients = Harness.arg(args, "clients").toInt
    val warmup = Harness.arg(args, "warmup").toInt
    val out = Paths.get(Harness.arg(args, "out"))

    val spark = Harness.session("graft-server")
    val env = Map("GRAFT_HOST" -> "127.0.0.1", "GRAFT_PORT" -> "0", "GRAFT_DATA_DIR" -> dir)
    val (srv, gs, port) = graft.server.Main.boot(env.get, spark)
    println("READY")

    val tr = new Tracer
    val lst = new JobListener
    val responses = new ConcurrentLinkedQueue[String]()
    // (template, kind, phase, ms, ok)
    val samples = new ConcurrentLinkedQueue[(String, String, String, Double, Boolean)]()
    val parseMs = new ConcurrentLinkedQueue[Double]()
    val buildMs = new ConcurrentLinkedQueue[Double]()
    val executeMs = new ConcurrentLinkedQueue[Double]()
    val cacheEntries = new ConcurrentLinkedQueue[Int]()
    val acked = new ConcurrentLinkedQueue[Long]()
    val jobParents = new ConcurrentLinkedQueue[(String, Long, String)]()
    val phases = new ConcurrentLinkedQueue[(String, Long, String, Long, Long)]()

    /** The handler's path, in-process, one span per layer call. */
    def inProcess(r: Req, seq: Int): Unit = {
      val req = s"${r.id}#$seq"
      val tagB = s"pb:$req:build"; val tagX = s"pb:$req:exec"
      val t0 = System.nanoTime()
      var ok = false
      val rows = scala.collection.mutable.ArrayBuffer.empty[String]
      tr.span(if (r.kind == "write") "session.write" else "harness.request", 0L, req) { root =>
        try {
          val ps = tr.nowUs
          val pt = System.nanoTime()
          CypherParser.parse(r.query)
          val parse = (System.nanoTime() - pt) / 1e6
          val df = tr.span("exec.cypher", root, req) { id =>
            jobParents.add((tagB, id, req))
            val d = Harness.tagged(spark, tagB)(gs.cypher(r.query, r.params))
            Harness.catalystPhases(d, Seq("analysis" -> "catalyst.analyze"))
              .foreach { case (n, s, e) => phases.add((n, id, req, s * 1000L, e * 1000L)) }
            d
          }
          val built = (System.nanoTime() - pt) / 1e6 - parse
          tr.span("spark.execute", root, req) { id =>
            jobParents.add((tagX, id, req))
            val xs = System.nanoTime()
            val js = df.toJSON
            Harness.tagged(spark, tagX)(js.toLocalIterator().asScala.foreach(rows += _))
            executeMs.add((System.nanoTime() - xs) / 1e6)
            Harness.catalystPhases(js, Seq("optimization" -> "catalyst.optimize",
                "planning" -> "catalyst.physical"))
              .foreach { case (n, s, e) => phases.add((n, id, req, s * 1000L, e * 1000L)) }
          }
          parseMs.add(parse)
          buildMs.add(built)
          // parse runs first inside cypher(); the separately timed parse is
          // placed at the start of that span when the spans are written
          phases.add(("cypher.parse", -1L, req, ps, ps + (parse * 1000).toLong))
          ok = true
          if (r.kind == "write") acked.add(r.params("k").asInstanceOf[Long])
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[trace] ${r.id} failed: $e")
        } finally {
          tr.span("session.clear", root, req) { _ =>
            graft.pipeline.PipelineCaches.clear()
          }
          cacheEntries.add(org.apache.spark.sql.graftprobe.CacheProbe.entryCount(spark))
        }
      }
      samples.add((r.template, r.kind, "inproc", (System.nanoTime() - t0) / 1e6, ok))
      responses.add(s"""{"id":${quote(r.id)},"phase":"inproc","ok":$ok,"rows":""" +
        rows.map(quote).mkString("[", ",", "]") + "}")
    }

    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def overHttp(r: Req): Unit = {
      val t0 = System.nanoTime()
      val resp = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query"))
        .POST(HttpRequest.BodyPublishers.ofString(r.body)).build(),
        HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      val ms = (System.nanoTime() - t0) / 1e6
      val body = resp.body()
      val ok = resp.statusCode() == 200 && !body.contains("__GRAFT_STREAM_ERROR__")
      samples.add((r.template, r.kind, "http", ms, ok))
      responses.add(s"""{"id":${quote(r.id)},"phase":"http","ok":$ok,"rows":""" +
        body.split("\n").filter(_.nonEmpty).map(quote).mkString("[", ",", "]") + "}")
    }

    def loop(list: Vector[Req], secs: Double)(f: (Req, Int) => Unit): Unit = {
      val next = new AtomicInteger()
      val t0 = System.nanoTime()
      val threads = (1 to clients).map { _ =>
        val t = new Thread(() => {
          var i = next.getAndIncrement()
          while (i < list.size && (System.nanoTime() - t0) / 1e9 < secs) {
            f(list(i), i)
            i = next.getAndIncrement()
          }
        })
        t.start(); t
      }
      threads.foreach(_.join())
    }

    val reads = reqs.filter(_.kind == "read")
    // warm-up as in the untraced run: the first block over HTTP from all clients
    loop(reqs.take(warmup), Double.MaxValue)((r, _) => overHttp(r))
    samples.clear(); responses.clear()

    spark.sparkContext.addSparkListener(lst)
    val ta = System.nanoTime()
    loop(reqs.drop(warmup), seconds)(inProcess)
    val windowS = (System.nanoTime() - ta) / 1e9
    lst.drain(spark)
    loop(reads, seconds / 2)((r, _) => overHttp(r))

    // lost acknowledged writes: acknowledged order keys that do not read back
    val ackedKeys = acked.asScala.toSet
    val lost = if (ackedKeys.isEmpty) 0 else {
      val seen = gs.cypher(
        """MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE o.o_orderkey >= $lo
          |RETURN o.o_orderkey AS k""".stripMargin, Map("lo" -> ackedKeys.min))
        .collect().map(_.getLong(0)).toSet
      (ackedKeys -- seen).size
    }
    val storage = Harness.storageMb(spark)

    // spans: jobs per tag, Catalyst phases, and the parse placed at the
    // start of its exec.cypher parent
    val byReqCypher = tr.all.filter(_.name == "exec.cypher").map(s => s.req -> s).toMap
    phases.asScala.foreach {
      case ("cypher.parse", _, req, s, e) =>
        byReqCypher.get(req).foreach(p => tr.add("cypher.parse", p.id, req, p.startUs, p.startUs + (e - s)))
      case (n, parent, req, s, e) => tr.add(n, parent, req, s, e)
    }
    jobParents.asScala.foreach { case (tag, id, req) => Harness.jobSpans(tr, lst, tag, id, req) }
    tr.write(out.resolve("spans.jsonl"))
    Files.write(out.resolve("responses.jsonl"),
      responses.asScala.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

    // per-layer metrics
    val cores = Runtime.getRuntime.availableProcessors()
    val all = samples.asScala.toSeq
    val inproc = all.filter(_._3 == "inproc")
    val httpS = all.filter(_._3 == "http")
    val overhead = reads.map(_.template).distinct.flatMap { t =>
      val h = httpS.filter(_._1 == t).map(_._4)
      val i = inproc.filter(x => x._1 == t && x._2 == "read").map(_._4)
      if (h.nonEmpty && i.nonEmpty) Some(Harness.median(h) - Harness.median(i)) else None
    }
    val reqIds = tr.all.filter(_.parent == 0L).map(_.req).distinct
    def tots(kind: String) = reqIds.map(r => lst.totalsFor(s"pb:$r:$kind"))
    val allTots = tots("build") ++ tots("exec")
    val n = math.max(1, reqIds.size).toDouble
    val cpuS = allTots.map(_.cpuNs).sum / 1e9
    val writeReqs = tr.all.filter(_.name == "session.write")
    val writeJobs = writeReqs.map(s => lst.totalsFor(s"pb:${s.req}:build").jobs +
      lst.totalsFor(s"pb:${s.req}:exec").jobs)
    val readReqs = tr.all.filter(_.name == "harness.request").map(_.req).toSet
    val eager = reqIds.filter(readReqs).map(r => lst.totalsFor(s"pb:$r:build").jobs.toDouble)
    def p50(xs: Iterable[Double]) = Harness.num(Harness.median(xs.toSeq))
    def phaseP50(name: String) = p50(tr.all.filter(_.name == name).map(s => (s.endUs - s.startUs) / 1000.0))
    val layers = Seq(
      "server.overhead_p50_ms" -> p50(overhead),
      "cypher.parse_p50_ms" -> p50(parseMs.asScala),
      "exec.build_p50_ms" -> p50(buildMs.asScala),
      "exec.eager_jobs" -> Harness.num(if (eager.isEmpty) 0.0 else eager.sum / eager.size),
      "catalyst.analyze_p50_ms" -> phaseP50("catalyst.analyze"),
      "catalyst.optimize_p50_ms" -> phaseP50("catalyst.optimize"),
      "catalyst.physical_p50_ms" -> phaseP50("catalyst.physical"),
      "spark.execute_p50_ms" -> p50(executeMs.asScala),
      "spark.jobs" -> Harness.num(allTots.map(_.jobs).sum / n),
      "spark.stages" -> Harness.num(allTots.map(_.stages).sum / n),
      "spark.tasks" -> Harness.num(allTots.map(_.tasks).sum / n),
      "spark.sched_delay_ms" -> Harness.num(allTots.map(_.schedMs).sum / n),
      "spark.task_cpu_share" -> Harness.num(cpuS / (windowS * cores)),
      "spark.gc_ms" -> Harness.num(allTots.map(_.gcMs).sum / n),
      "spark.shuffle_write_mb" -> Harness.num(allTots.map(_.shuffleWriteBytes).sum / 1e6 / n),
      "spark.spill_mb" -> Harness.num(allTots.map(_.spillBytes).sum / 1e6 / n),
      "session.write_p50_ms" -> p50(writeReqs.map(s => (s.endUs - s.startUs) / 1000.0)),
      "session.write_jobs" -> Harness.num(if (writeJobs.isEmpty) 0.0 else writeJobs.sum.toDouble / writeJobs.size),
      "session.lost_writes" -> lost.toString,
      "session.cache_entries" -> Harness.num(
        if (cacheEntries.isEmpty) 0.0 else cacheEntries.asScala.map(_.toDouble).sum / cacheEntries.size),
      "session.storage_mb" -> Harness.num(storage),
    )
    val sampleJson = all.map { case (t, k, ph, ms, ok) =>
      s"""{"template":${quote(t)},"kind":${quote(k)},"phase":${quote(ph)},"ms":${Harness.num(ms)},"ok":$ok}"""
    }.mkString("[", ",", "]")
    println("RESULT " + Harness.jsonObj(Seq(
      "window_s" -> Harness.num(windowS),
      "acked_writes" -> ackedKeys.size.toString,
      "lost_writes" -> lost.toString,
      "samples" -> sampleJson,
      "layers" -> Harness.jsonObj(layers))))
    srv.stop()
    spark.stop()
  }
}
