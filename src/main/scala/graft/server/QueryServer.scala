package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GraftSession

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
  */
final class QueryServer(gs: GraftSession, port: Int = 0,
    host: String = "0.0.0.0", poolSize: Int = 16) {

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.createContext("/query", (exchange: HttpExchange) => handle(exchange))
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
    * broadcasts (a CALL+UNION frame, a var-length hop adjacency, the
    * level RDDs of a large-edge shortestPath past 6 hops, pipeline
    * intermediates) is released when the response ends, and never a
    * concurrent request's caches. */
  private def handle(ex: HttpExchange): Unit =
    graft.pipeline.PipelineCaches.scoped(serve(ex))

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
      format match {
        case "JSONEachRow"  => respondStream(ex, gs.jsonRowIterator(df))
        case "CSV"          => respondStream(ex, gs.csvRowIterator(df))
        case "CSVWithNames" => respondStream(ex, gs.csvRowIterator(df, header = true))
        case "Pretty"        => respond(ex, 200, gs.toPretty(df) + "\n")
        case "PrettyCompact" => respond(ex, 200, gs.toPrettyCompact(df) + "\n")
        case other => respond(ex, 400, s"unknown format: $other")
      }
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
