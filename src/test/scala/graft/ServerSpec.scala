package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.server.QueryServer

class ServerSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val gs: GraftSession = {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("users", Seq((1L, "u1"), (2L, "u2")).toDF("id", "name"))
    g.registerNode("User", "users", "id")
    g
  }

  private def post(port: Int, body: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("POST /query returns JSONEachRow, CSV, Pretty; errors are 400") {
    val srv = new QueryServer(gs)
    val port = srv.start()
    try {
      val (c1, b1) = post(port,
        """{"query": "MATCH (u:User) RETURN u.id AS id, u.name AS name ORDER BY id;"}""")
      assert(c1 == 200 && b1 == "{\"id\":1,\"name\":\"u1\"}\n{\"id\":2,\"name\":\"u2\"}\n")

      val (c2, b2) = post(port,
        """{"query": "MATCH (u:User) RETURN u.id AS id ORDER BY id;", "format": "CSVWithNames"}""")
      assert(c2 == 200 && b2 == "id\n1\n2\n")

      val (c3, b3) = post(port,
        """{"query": "MATCH (u:User) RETURN u.id AS id LIMIT 1;", "format": "Pretty"}""")
      assert(c3 == 200 && b3.contains("| id"))

      val (c4, _) = post(port, """{"query": "MATCH (x:Nope) RETURN x.id AS i;"}""")
      assert(c4 == 400)

      val (c5, b5) = post(port, """{"query": "MATCH (u:User) DELETE u;"}""")
      assert(c5 == 400 && b5.contains("not supported"))

      // PrettyCompact is a DISTINCT format: no outer frame
      val (c6, b6) = post(port,
        """{"query": "MATCH (u:User) RETURN u.id AS id LIMIT 1;", "format": "PrettyCompact"}""")
      assert(c6 == 200 && b6.contains("id") && !b6.contains("| id"))

      // round-5 surface reaches the HTTP layer: string predicates
      val (c7, b7) = post(port,
        """{"query": "MATCH (u:User) WHERE u.name ENDS WITH '2' RETURN u.id AS id;"}""")
      assert(c7 == 200 && b7 == "{\"id\":2}\n")

      // round-6 surface: UNION and EXPLAIN round-trip over HTTP
      val (c8, b8) = post(port,
        """{"query": "MATCH (u:User {id: 1}) RETURN u.id AS id UNION MATCH (u:User {id: 2}) RETURN u.id AS id;"}""")
      assert(c8 == 200 && b8.linesIterator.toSet ==
        Set("""{"id":1}""", """{"id":2}"""))
      val (c9, b9) = post(port,
        """{"query": "EXPLAIN MATCH (u:User) RETURN u.id AS id;"}""")
      assert(c9 == 200 && b9.contains("Physical Plan"))

      // round-7 surface: engine-side parameter binding over HTTP —
      // scalars, a list for IN, and loud rejections for bad shapes
      val (c10, b10) = post(port,
        """{"query": "MATCH (u:User) WHERE u.id = $uid RETURN u.name AS name;",
          | "parameters": {"uid": 2}}""".stripMargin)
      assert(c10 == 200 && b10 == "{\"name\":\"u2\"}\n", s"c10=$c10 b10=$b10")
      val (c11, b11) = post(port,
        """{"query": "MATCH (u:User) WHERE u.id IN $ids RETURN u.id AS id ORDER BY id;",
          | "parameters": {"ids": [1, 2]}}""".stripMargin)
      assert(c11 == 200 && b11 == "{\"id\":1}\n{\"id\":2}\n")
      val (c12, _) = post(port,
        """{"query": "MATCH (u:User) RETURN u.id AS id;", "parameters": [1]}""")
      assert(c12 == 400)
      val (c13, b13) = post(port,
        """{"query": "MATCH (u:User) WHERE u.id = $uid RETURN u.id AS id;",
          | "parameters": {"uid": {"nested": 1}}}""".stripMargin)
      assert(c13 == 400 && b13.contains("uid"))
    } finally srv.stop()
  }

  test("user errors are 400, engine execution faults are 500") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    val g = new GraftSession(spark)
    g.registerTable("users5", Seq((1L, "u1")).toDF("id", "name"))
    g.registerNode("User5", "users5", "id")
    // a table whose EXECUTION throws: analysis sees a valid Long column,
    // the fault only fires when a task evaluates the row — the shape of
    // an internal engine/storage failure, not a bad query
    val boom = udf((i: Long) =>
      if (i > 0) throw new IllegalStateException("storage fault") else i)
    g.registerTable("faulty", Seq((1L, "f1")).toDF("id", "name")
      .withColumn("id", boom(col("id"))))
    g.registerNode("Faulty", "faulty", "id")
    val srv = new QueryServer(g)
    val port = srv.start()
    try {
      // parse error -> 400
      val (cp, _) = post(port, """{"query": "MATCH ("}""")
      assert(cp == 400)
      // valid parse, unknown label -> 400
      val (cv, _) = post(port, """{"query": "MATCH (x:Nope) RETURN x.id AS i;"}""")
      assert(cv == 400)
      // accepted query that dies mid-execution -> 500 (Pretty collects
      // before the header, so the status can still carry the fault)
      val (ce, be) = post(port,
        """{"query": "MATCH (f:Faulty) RETURN f.id AS id;", "format": "Pretty"}""")
      assert(ce == 500, s"got $ce: $be")
      assert(be.contains("internal error"))
      // the server survives the fault and keeps serving
      val (cok, bok) = post(port,
        """{"query": "MATCH (u:User5) RETURN u.id AS id;"}""")
      assert(cok == 200 && bok == "{\"id\":1}\n")
    } finally srv.stop()
  }

  private def get(port: Int, path: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** `name` (with its label set, if any) in a Prometheus text body. */
  private def sample(metrics: String, name: String): Option[Double] =
    metrics.linesIterator.collectFirst {
      case l if l.startsWith(name + " ") => l.substring(name.length + 1).trim.toDouble
    }

  private def eventually(what: => String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30e9.toLong
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, what)
  }

  test("every request writes one access-log line; /metrics counts them; PROFILE over HTTP") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    val g = new GraftSession(spark)
    g.registerTable("users6", Seq((1L, "u1"), (2L, "u2")).toDF("id", "name"))
    g.registerNode("User6", "users6", "id")
    val boom = udf((i: Long) =>
      if (i > 0) throw new IllegalStateException("storage fault") else i)
    g.registerTable("faulty6", Seq((1L, "f1")).toDF("id", "name")
      .withColumn("id", boom(col("id"))))
    g.registerNode("Faulty6", "faulty6", "id")
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val srv = new QueryServer(g, log = lines.add(_))
    val port = srv.start()
    try {
      assert(post(port, """{"query": "MATCH (u:User6) RETURN u.id AS id;"}""")._1 == 200)
      assert(post(port, """{"query": "MATCH ("}""")._1 == 400)
      assert(post(port,
        """{"query": "MATCH (f:Faulty6) RETURN f.id AS id;", "format": "Pretty"}""")._1 == 500)
      // lines are written once each response is out, so wait for them
      eventually("three access-log lines")(lines.size == 3)
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val logged = lines.toArray(Array.empty[String]).toSeq.map(JsonMethods.parse(_))
      assert(logged.map(j => (j \ "status").asInstanceOf[JInt].num.toInt).sorted == Seq(200, 400, 500))
      assert(logged.map(j => (j \ "request").asInstanceOf[JString].s).distinct.size == 3)
      for (j <- logged) {
        for (f <- Seq("wall_ms", "jobs", "stages", "tasks"))
          assert((j \ f) != JNothing, s"missing $f in ${JsonMethods.compact(j)}")
        for (l <- Profile.Layers)
          assert((j \ "layers" \ s"${l}_ms") != JNothing, s"missing layer $l")
      }
      val ok = logged.find(j => (j \ "status") == JInt(200)).get
      assert((ok \ "jobs").asInstanceOf[JInt].num > 0, JsonMethods.compact(ok))

      var m = ""
      eventually(s"/metrics never settled:\n$m") {
        m = get(port, "/metrics")._2
        sample(m, "graft_requests_in_flight").contains(0.0)
      }
      assert(sample(m, """graft_requests_total{status="200"}""").contains(1.0), m)
      assert(sample(m, """graft_requests_total{status="400"}""").contains(1.0), m)
      assert(sample(m, """graft_requests_total{status="500"}""").contains(1.0), m)
      assert(sample(m, "graft_request_duration_seconds_count").contains(3.0), m)
      assert(sample(m, """graft_request_duration_seconds_bucket{le="+Inf"}""").contains(3.0), m)
      for (gauge <- Seq("graft_sql_cache_entries", "graft_persisted_rdds", "graft_codegen_compiles_total"))
        assert(sample(m, gauge).isDefined, s"$gauge missing:\n$m")

      val (cp, bp) = post(port, """{"query": "PROFILE MATCH (u:User6) RETURN u.id AS id;"}""")
      assert(cp == 200, bp)
      val prof = JsonMethods.parse(bp)
      assert((prof \ "layers" \ "execute_ms") != JNothing, bp)
      assert((prof \ "plan").asInstanceOf[JString].s.contains("numOutputRows="), bp)
      val (cc, bc) = post(port, """{"query": "PROFILE CREATE (:User6 {id: 3});"}""")
      assert(cc == 400 && bc.contains("PROFILE only applies to read queries"), s"$cc $bc")
    } finally srv.stop()
  }

  test("a repeated query with the same parameter value compiles no new class") {
    val srv = new QueryServer(gs, log = _ => ())
    val port = srv.start()
    try {
      def compiles = sample(get(port, "/metrics")._2, "graft_codegen_compiles_total").get
      val body = """{"query": "MATCH (u:User) WHERE u.id = $uid RETURN u.name AS name;",
                   | "parameters": {"uid": 2}}""".stripMargin
      assert(post(port, body) == (200, "{\"name\":\"u2\"}\n"))
      val warm = compiles
      assert(post(port, body) == (200, "{\"name\":\"u2\"}\n"))
      assert(compiles == warm, s"the repeat compiled ${compiles - warm} classes")
    } finally srv.stop()
  }

  test("/metrics: a var-length repeat builds no hop adjacency; a CREATE makes the next read build one") {
    import spark.implicits._
    // on a saved edge table a CREATE appends files; a registered in-memory
    // one is rebuilt with its size estimate. Either way the base stays
    // broadcast-small, so the read after the write takes the hashed form again
    for (saved <- Seq(true, false)) {
      val edges = if (!saved) "hops_mem_e"
        else s"hops_e_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val rows = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("from_HV", "to_HV")
      val g = new GraftSession(spark)
      if (saved) rows.write.saveAsTable(edges) else g.registerTable(edges, rows)
      g.registerTable("hops_v", (1L to 5L).toDF("id"))
      g.registerNode("HV", "hops_v", "id")
      g.registerRel("HOPS_E", edges, "HV", "HV")
      val srv = new QueryServer(g, log = _ => ())
      val port = srv.start()
      spark.conf.set("spark.graft.writes.enabled", "true")
      try {
        def hops = {
          val m = get(port, "/metrics")._2
          (sample(m, "graft_hop_adjacencies").get, sample(m, "graft_hop_adjacency_builds_total").get)
        }
        val read = """{"query": "MATCH (a:HV)-[:HOPS_E*1..4]->(b:HV) WHERE a.id = 1 RETURN b.id AS b;"}"""
        def reached = {
          val (c, b) = post(port, read)
          assert(c == 200, b)
          b.linesIterator.map(_.replaceAll("[^0-9]", "").toLong).toSet
        }
        assert(reached == Set(2L, 3L, 4L))
        assert(hops == ((1.0, 1.0)))
        for (_ <- 1 to 3) assert(reached == Set(2L, 3L, 4L))
        assert(hops == ((1.0, 1.0)), "a repeat built a hop adjacency")
        val (cc, bc) = post(port,
          """{"query": "CREATE (:HV {id: 4})-[:HOPS_E]->(:HV {id: 5});"}""")
        assert(cc == 200, bc)
        assert(hops == ((0.0, 1.0)), "the write left the old adjacency held")
        assert(reached == Set(2L, 3L, 4L, 5L))
        assert(hops == ((1.0, 2.0)), s"saved = $saved: the read after the write left the hashed form")
      } finally {
        spark.conf.set("spark.graft.writes.enabled", "false")
        srv.stop()
        g.close()
        if (saved) spark.sql(s"DROP TABLE IF EXISTS $edges")
      }
    }
  }

  test("/metrics: a join read's repeat builds no broadcast side; a CREATE makes the next read build them") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("hbs_v", (1L to 5L).toDF("id"))
    g.registerTable("hbs_e", Seq((1L, 2L), (2L, 3L)).toDF("from_HBV", "to_HBV"))
    g.registerNode("HBV", "hbs_v", "id")
    g.registerRel("HBS_E", "hbs_e", "HBV", "HBV")
    val srv = new QueryServer(g, log = _ => ())
    val port = srv.start()
    spark.conf.set("spark.graft.writes.enabled", "true")
    try {
      def held = {
        val m = get(port, "/metrics")._2
        (sample(m, "graft_held_broadcasts").get, sample(m, "graft_held_broadcast_bytes").get,
          sample(m, "graft_held_broadcast_builds_total").get)
      }
      val read = """{"query": "MATCH (a:HBV)-[:HBS_E]->(b:HBV) RETURN b.id AS b;"}"""
      def reached = {
        val (c, b) = post(port, read)
        assert(c == 200, b)
        b.linesIterator.map(_.replaceAll("[^0-9]", "").toLong).toSet
      }
      assert(reached == Set(2L, 3L))
      val (sides, bytes, builds) = held
      assert(sides > 0 && bytes > 0 && builds == sides, held)
      for (_ <- 1 to 3) assert(reached == Set(2L, 3L))
      assert(held == ((sides, bytes, builds)), "a repeat built a broadcast side")
      val (cc, bc) = post(port, """{"query": "CREATE (:HBV {id: 3})-[:HBS_E]->(:HBV {id: 4});"}""")
      assert(cc == 200, bc)
      assert(held._1 == 0.0 && held._2 == 0.0, "the write left a broadcast side held")
      assert(reached == Set(2L, 3L, 4L))
      assert(held._1 > 0 && held._3 > builds, held)
    } finally {
      spark.conf.set("spark.graft.writes.enabled", "false")
      srv.stop()
      g.close()
    }
  }

  test("CLI client: scripted REPL round trip against a live server") {
    val srv = new QueryServer(gs)
    val port = srv.start()
    try {
      val script =
        """MATCH (u:User) RETURN u.id AS id ORDER BY id;
          |\format CSV
          |MATCH (u:User)
          |RETURN count(*) AS n;
          |\q
          |""".stripMargin
      val out = new java.io.ByteArrayOutputStream()
      graft.client.GraftCli.run(
        new java.io.BufferedReader(new java.io.StringReader(script)),
        new java.io.PrintStream(out, true, "UTF-8"),
        s"http://localhost:$port", "JSONEachRow")
      val printed = out.toString("UTF-8")
      assert(printed.contains("""{"id":1}"""))
      assert(printed.contains("format set to CSV"))
      assert(printed.contains("-> 2")) // count result after the multi-line continuation prompt
      // errors surface with their status code, REPL keeps going
      val out2 = new java.io.ByteArrayOutputStream()
      graft.client.GraftCli.run(
        new java.io.BufferedReader(new java.io.StringReader(
          "MATCH (x:Nope) RETURN x.id AS i;\n\\q\n")),
        new java.io.PrintStream(out2, true, "UTF-8"),
        s"http://localhost:$port", "JSONEachRow")
      assert(out2.toString("UTF-8").contains("[400]"))
    } finally srv.stop()
  }

  test("row formats stream chunked: large result, no full materialization") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val g = new GraftSession(spark)
    // 200k rows across many partitions; toLocalIterator holds ONE
    // partition at a time on the driver, so the response streams no
    // matter how large the total result is (collect()-based formatting
    // would be bounded by spark.driver.maxResultSize)
    g.registerTable("big",
      spark.range(200000).select(col("id"), concat(lit("name_"), col("id")).as("name")))
    g.registerNode("Big", "big", "id")
    val srv = new QueryServer(g)
    val port = srv.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val req = java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://localhost:$port/query"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          """{"query": "MATCH (b:Big) RETURN b.id AS id, b.name AS name;", "format": "CSV"}"""))
        .build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofLines())
      assert(resp.statusCode() == 200)
      // chunked transfer (no Content-Length) proves the server did not
      // buffer the whole body before responding
      assert(resp.headers().firstValue("content-length").isEmpty)
      assert(resp.body().count() == 200000L)
    } finally srv.stop()
  }

  /** Jobs `body` runs on this thread, counted by job group. */
  private def jobsOf[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "serverspec-drain-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    org.apache.spark.graftprobe.BusProbe.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "row drain census")
      val out = body
      sc.clearJobGroup()
      org.apache.spark.graftprobe.BusProbe.drain(sc)
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("row drain: a 32-partition result comes back in one job") {
    val df = spark.range(0, 3200, 1, 32).selectExpr("id", "concat('r', id) AS s")
    val expected = df.toJSON.collect().toSeq
    val (rows, jobs) = jobsOf(gs.jsonRowIterator(df).toVector)
    assert(rows == expected)
    assert(jobs == 1, s"$jobs jobs for a 32-partition drain")
  }

  test("row drain: partitions past their share come back one by one, in order") {
    val df = spark.range(0, 3200, 1, 32).selectExpr("id", "concat('r', id) AS s")
    val js = df.toJSON
    val expected = js.collect().toSeq
    val (rows, jobs) = jobsOf(
      GraftSession.drain(js, share = 1).map(_.getUTF8String(0).toString).toVector)
    assert(rows == expected)
    assert(jobs == 1 + 32, s"$jobs jobs: one pass plus one per partition expected")
    assert(gs.csvRowIterator(df).toVector ==
      df.collect().toSeq.map(r => s"${r.getLong(0)},\"${r.getString(1)}\""))
  }

  test("concurrent requests interleave: fast query completes while a slow one runs") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("cusers", Seq((1L, "u1"), (2L, "u2")).toDF("id", "name"))
    g.registerNode("CUser", "cusers", "id")
    // one partition that stalls 8 s before yielding rows — occupies a
    // handler thread (and a Spark task) for the whole window; the wide
    // margin keeps the ordering assertion below robust under load
    g.registerTable("slow_t",
      spark.range(0, 2, 1, 1).mapPartitions { it => Thread.sleep(8000); it }.toDF("id"))
    g.registerNode("Slow", "slow_t", "id")
    val srv = new QueryServer(g)
    val port = srv.start()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val slowF = Future {
        val r = post(port, """{"query": "MATCH (s:Slow) RETURN s.id AS id ORDER BY id;"}""")
        (r, System.nanoTime())
      }
      Thread.sleep(500) // the slow request is definitely dispatched first
      val (cq, bq) = post(port, """{"query": "MATCH (u:CUser) RETURN u.id AS id ORDER BY id;"}""")
      val quickDone = System.nanoTime()
      val ((cs, bs), slowDone) = Await.result(slowF, Duration(60, "s"))
      assert(cq == 200 && bq == "{\"id\":1}\n{\"id\":2}\n")
      assert(cs == 200 && bs == "{\"id\":0}\n{\"id\":1}\n")
      // with setExecutor(null) the fast request queued behind the slow one
      // on the single dispatcher thread; with the pool it must finish first
      assert(quickDone < slowDone,
        s"fast request queued behind slow one (${(quickDone - slowDone) / 1e6} ms after)")
    } finally srv.stop()
  }

  test("concurrent requests: a fast request's end keeps a slow CALL+UNION request's cache") {
    import spark.implicits._
    import org.apache.spark.sql.graftprobe.CacheProbe
    val g = new GraftSession(spark)
    g.registerTable("cusers", Seq((1L, "u1"), (2L, "u2")).toDF("id", "name"))
    g.registerNode("CUser", "cusers", "id")
    // the same stalling table as above: B's union parts run for 8 s
    // after its CALL block is persisted and counted
    g.registerTable("slow_t",
      spark.range(0, 2, 1, 1).mapPartitions { it => Thread.sleep(8000); it }.toDF("id"))
    g.registerNode("Slow", "slow_t", "id")
    val srv = new QueryServer(g)
    val port = srv.start()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val before = CacheProbe.entryCount(spark)
      def waitFor(what: String)(cond: => Boolean): Unit = {
        val deadline = System.nanoTime() + 30e9.toLong
        while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
        assert(cond, what)
      }
      val slowF = Future(post(port,
        """{"query": "CALL { MATCH (u:CUser) RETURN max(u.id) AS top } """ +
          """MATCH (s:Slow) RETURN s.id + top AS id """ +
          """UNION MATCH (s:Slow) RETURN s.id AS id;"}"""))
      waitFor("B's CALL block was never cached")(CacheProbe.entryCount(spark) > before)
      val (cq, bq) = post(port, """{"query": "MATCH (u:CUser) RETURN u.id AS id ORDER BY id;"}""")
      assert(cq == 200 && bq == "{\"id\":1}\n{\"id\":2}\n")
      assert(!slowF.isCompleted, "precondition: B still in flight when A ends")
      assert(CacheProbe.entryCount(spark) > before,
        "request A's end released request B's CALL cache")
      val (cs, bs) = Await.result(slowF, Duration(60, "s"))
      assert(cs == 200 && bs.split("\n").toSeq.sorted ==
        Seq("{\"id\":0}", "{\"id\":1}", "{\"id\":2}", "{\"id\":3}"))
      // B's own scope releases its CALL cache once its response ends
      waitFor("B's CALL cache outlived its request")(CacheProbe.entryCount(spark) == before)
    } finally srv.stop()
  }

  test("Main.boot: env-configured boot serves queries, wires catalog poll, shuts down") {
    val dir = TestSpark.tempDir("graft-boot")
    val catPath = s"$dir/catalog.json"
    val env = Map(
      "GRAFT_HOST" -> "127.0.0.1",
      "GRAFT_PORT" -> "0", // ephemeral
      "GRAFT_DATA_DIR" -> "/root/testdata/sf0.001",
      "GRAFT_CATALOG" -> catPath,
      "GRAFT_CATALOG_POLL_MS" -> "100")
    val (srv, gs, port) = graft.server.Main.boot(env.get, spark)
    try {
      // catalog was persisted at boot (fresh path) and the graph serves
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(catPath)))
      val (c, b) = post(port,
        """{"query": "MATCH (r:Region) RETURN count(*) AS n;"}""")
      assert(c == 200 && b == "{\"n\":5}\n")
      // version poll is live: bump the on-disk version, observe the swap
      val bumped = gs.catalog.copy(version = gs.catalog.version + 1)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(catPath), bumped.toJson)
      val deadline = System.nanoTime() + 10e9.toLong
      while (gs.catalog.version != bumped.version && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(gs.catalog.version == bumped.version, "catalog poll never picked up the version bump")
    } finally {
      srv.stop()
      gs.stopCatalogRefresh()
    }
  }
}
