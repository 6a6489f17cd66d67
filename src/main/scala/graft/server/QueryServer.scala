package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.graftprobe.CacheProbe
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{GraftSession, Profile}
import graft.util.JsonUtil.quote

/** Minimal HTTP query endpoint mirroring the reference's server surface
  * (axum `POST /query` accepting `{"query": "...", "format": "..."}` and
  * streaming rows back — brahmand/src/server/handlers.rs:26-89,
  * models.rs:20-27). Formats: JSONEachRow (default), CSV, CSVWithNames,
  * Pretty, PrettyCompact.
  *
  * Built on the JDK's bundled HttpServer — no extra dependencies; the
  * engine itself stays a library, this is a thin adapter (queries execute
  * on the Spark driver exactly as in the reference, where the planner runs
  * in one process and distribution happens in the execution layer).
  *
  * Every request runs in a [[graft.Profile]]; once its response is closed
  * the server writes the profile as one JSON access-log line through `log`
  * (fields in README). `GET /metrics` serves the Prometheus text format.
  */
final class QueryServer(gs: GraftSession, port: Int = 0,
    host: String = "0.0.0.0", poolSize: Int = 16,
    log: String => Unit = line => System.out.println(line)) {

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  private val byStatus = new ConcurrentHashMap[Int, LongAdder]()
  /** Upper bounds, in seconds, of the latency histogram's buckets. */
  private val LatencyBuckets = Seq(0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0, 30.0, 60.0)
  /** Latency histogram, non-cumulative; the last slot is +Inf. */
  private val latency = Array.fill(LatencyBuckets.size + 1)(new LongAdder)
  private val latencySumUs = new LongAdder
  private val inFlight = new AtomicInteger

  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.createContext("/query", (exchange: HttpExchange) => handle(exchange))
    server.createContext("/metrics", (exchange: HttpExchange) =>
      if (exchange.getRequestMethod == "GET") respond(exchange, 200, metrics())
      else respond(exchange, 405, "GET only"))
    // Fixed daemon pool: requests are handled CONCURRENTLY, like the
    // reference's per-request tokio tasks (handlers.rs:26) — with
    // setExecutor(null) one slow streaming client would serialize every
    // other request behind it on the dispatcher thread. Spark's scheduler
    // is thread-safe; concurrent queries become concurrent jobs.
    val n = new java.util.concurrent.atomic.AtomicInteger()
    pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize, (r: Runnable) => {
      val t = new Thread(r, s"graft-http-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdownNow()
  }

  /** One request in one cache scope: whatever the query persists or
    * broadcasts (a CALL+UNION frame, a filtered var-length hop adjacency,
    * its leases on session-held adjacencies and broadcast join sides, the
    * level RDDs of a large-edge shortestPath past 6 hops, pipeline
    * intermediates) is released when the response ends, and never a
    * concurrent request's caches. The request's profile is counted and
    * logged only after the response is closed: the client never waits on
    * the listener bus. */
  private def handle(ex: HttpExchange): Unit = {
    inFlight.incrementAndGet()
    val p = Profile.start(gs.spark)
    try graft.pipeline.PipelineCaches.scoped(serve(ex))
    finally {
      p.end()
      ex.close()
      val status = ex.getResponseCode
      byStatus.computeIfAbsent(status, _ => new LongAdder).increment()
      val i = LatencyBuckets.indexWhere(p.wallMs <= _ * 1000)
      latency(if (i < 0) latency.length - 1 else i).increment()
      latencySumUs.add((p.wallMs * 1000).toLong)
      inFlight.decrementAndGet()
      p.close()
      log(p.toJson("request" -> quote(p.id), "status" -> status.toString))
    }
  }

  /** Prometheus text exposition: requests by status, the latency
    * histogram, requests in flight, the session's hop adjacencies and
    * broadcast join sides, and — read from Spark — SQL cache entries,
    * persisted RDDs and codegen compiles. */
  private def metrics(): String = {
    val sb = new StringBuilder
    def metric(name: String, kind: String, help: String)(samples: (String, Any)*): Unit = {
      sb ++= s"# HELP $name $help\n# TYPE $name $kind\n"
      samples.foreach { case (suffix, v) => sb ++= s"$name$suffix $v\n" }
    }
    metric("graft_requests_total", "counter", "Query requests answered, by HTTP status.")(
      byStatus.asScala.toSeq.sortBy(_._1).map { case (c, n) => s"""{status="$c"}""" -> n.sum }: _*)
    val cumulative = latency.map(_.sum).scanLeft(0L)(_ + _).tail
    metric("graft_request_duration_seconds", "histogram", "Query request wall time.")(
      (LatencyBuckets.map(_.toString) :+ "+Inf").zip(cumulative)
        .map { case (b, n) => s"""_bucket{le="$b"}""" -> n } ++
        Seq("_sum" -> latencySumUs.sum / 1e6, "_count" -> cumulative.last): _*)
    metric("graft_requests_in_flight", "gauge", "Query requests being served.")("" -> inFlight.get)
    val (heldHops, builtHops) = gs.hopAdjacencies
    metric("graft_hop_adjacencies", "gauge", "Var-length hop adjacencies the session holds.")(
      "" -> heldHops.size)
    metric("graft_hop_adjacency_builds_total", "counter",
      "Var-length hop adjacencies the session has built and held.")("" -> builtHops)
    val (sides, sideBytes, builtSides) = gs.heldBroadcasts
    metric("graft_held_broadcasts", "gauge", "Broadcast join sides the session holds.")(
      "" -> sides)
    metric("graft_held_broadcast_bytes", "gauge",
      "Hashed size of the broadcast join sides the session holds.")("" -> sideBytes)
    metric("graft_held_broadcast_builds_total", "counter",
      "Broadcast join sides the session has built and held.")("" -> builtSides)
    metric("graft_sql_cache_entries", "gauge", "Plans in Spark's SQL cache.")(
      "" -> CacheProbe.entryCount(gs.spark))
    metric("graft_persisted_rdds", "gauge", "RDDs Spark holds persisted.")(
      "" -> gs.spark.sparkContext.getPersistentRDDs.size)
    metric("graft_codegen_compiles_total", "counter", "Classes compiled by Spark codegen.")(
      "" -> Profile.codegenCompiles)
    sb.toString
  }

  private def serve(ex: HttpExchange): Unit = {
    try {
      if (ex.getRequestMethod != "POST") { respond(ex, 405, "POST only"); return }
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val json = JsonMethods.parse(body)
      val query = (json \ "query") match {
        case JString(q) => q
        case _ => respond(ex, 400, "missing 'query'"); return
      }
      val format = (json \ "format") match {
        case JString(f) => f
        case _ => "JSONEachRow"
      }
      // `parameters`: JSON object of $name bindings, bound engine-side
      // (the documented divergence from the reference's verbatim
      // pass-through — SURVEY §8.5). Nested objects are rejected loudly:
      // there is no Cypher value they could bind to.
      val params: Map[String, Any] = (json \ "parameters") match {
        case JObject(fields) => fields.toMap.map { case (k, v) => k -> jsonParam(k, v) }
        case JNothing | JNull => Map.empty
        case _ => respond(ex, 400, "'parameters' must be a JSON object"); return
      }
      val df = gs.cypher(query, params)
      // Row formats stream CHUNKED through GraftSession.drain — the
      // driver never holds more than half the result-size bound plus one
      // partition (reference handlers.rs:145-221 streams the same way).
      // Planning/analysis errors surface before any byte is written (the
      // DataFrame is built above), so they still get a 400. The drain's
      // first job also runs before the header, so its failure gets a 500;
      // a failure fetching a partition past its share later truncates the
      // chunked body, exactly as in the reference.
      Profile.span("execute")(format match {
        case "JSONEachRow"  => respondStream(ex, gs.jsonRowIterator(df))
        case "CSV"          => respondStream(ex, gs.csvRowIterator(df))
        case "CSVWithNames" => respondStream(ex, gs.csvRowIterator(df, header = true))
        case "Pretty"        => respond(ex, 200, gs.toPretty(df) + "\n")
        case "PrettyCompact" => respond(ex, 200, gs.toPrettyCompact(df) + "\n")
        case other => respond(ex, 400, s"unknown format: $other")
      })
    } catch {
      // 400 vs 500 (reference: handlers.rs maps query errors to client
      // status): anything the USER caused — parse, validation, planning,
      // bad parameters, Spark analysis of the built plan — is a 400;
      // a fault while EXECUTING an accepted query (runtime SparkException,
      // engine bugs) is a 500, so clients and monitors can tell "fix
      // your query" from "the engine broke"
      case e: graft.cypher.GraftException =>
        respond(ex, 400, s"error: ${e.getMessage}")
      case e: org.apache.spark.sql.AnalysisException =>
        respond(ex, 400, s"error: ${e.getMessage}")
      case e: Throwable =>
        respond(ex, 500, s"internal error: ${e.getMessage}")
    }
  }

  /** JSON parameter value → engine binding. Integers stay integral
    * (JSON 1 binds as Long, 1.5 as Double); lists convert element-wise
    * for `IN $list` predicates. */
  private def jsonParam(name: String, v: JValue): Any = v match {
    case JString(s)  => s
    case JInt(i)     =>
      // BigInt.toLong truncates silently — a JSON integer past Long range
      // must be a 400, not a wrapped (wrong) binding
      if (!i.isValidLong) throw new graft.cypher.GraftException(
        s"parameter '$name': integer $i exceeds 64-bit range")
      i.toLong
    case JLong(l)    => l
    case JDouble(d)  => d
    case JDecimal(d) => d.toDouble
    case JBool(b)    => b
    case JNull       => null
    case JArray(xs)  => xs.map(jsonParam(name, _))
    case other => throw new graft.cypher.GraftException(
      s"parameter '$name': unsupported JSON value $other " +
        "(scalars and flat lists only)")
  }

  /** Streams rows chunked. Fully owns post-header error handling: once the
    * 200/chunked header is out the status cannot change, and a normal
    * close would emit the terminal chunk — making a PARTIAL body look
    * complete to the client. On mid-stream failure an unmistakable
    * in-band sentinel line is written before closing, so consumers can
    * distinguish "finished" from "died after N rows". */
  private def respondStream(ex: HttpExchange, rows: Iterator[String]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
    ex.sendResponseHeaders(200, 0) // length 0 ⇒ chunked transfer encoding
    val os = new java.io.BufferedOutputStream(ex.getResponseBody, 1 << 16)
    try {
      rows.foreach { r =>
        os.write(r.getBytes(StandardCharsets.UTF_8)); os.write('\n')
      }
      os.close()
    } catch {
      case e: Throwable =>
        try {
          os.write(s"\n__GRAFT_STREAM_ERROR__: ${e.getMessage}\n"
            .getBytes(StandardCharsets.UTF_8))
          os.close()
        } catch {
          case _: Throwable => try ex.close() catch { case _: Throwable => }
        }
    }
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }
}
