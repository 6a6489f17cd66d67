package graft

import org.apache.spark.sql.graftprobe.CacheProbe
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, PipelineCaches, Sampling, Similarity}

/** Round-7 regression guard: `PipelineCaches.clear()` must release every
  * SQL cache the pipeline operators created, even when the tracked
  * `DataFrame` handles are no longer referenced by anyone else. The old
  * weak-reference registry failed exactly that way — handles were
  * collected before `clear()`, the CacheManager kept the InMemoryRelations
  * alive for the JVM's lifetime, and the 100-query bench accumulated
  * caches until eviction thrashed. These tests pin the strong-ref fix with
  * CacheManager-level assertions, not registry bookkeeping alone.
  *
  * The cache-scope tests pin that a release frees only what its own scope
  * registered: another thread's frames and round RDDs, a frame a
  * concurrent scope persisted under the same plan, and an enclosing
  * scope's frames all survive it.
  *
  * The hop-adjacency tests pin the two lifetimes of a var-length hop's
  * broadcast adjacency: a filtered base's goes with its request scope; an
  * unfiltered base's is held by the session until a write or `close()`,
  * and a read that leased it finishes on it.
  *
  * The held-broadcast tests pin the same lifetime for broadcast join
  * sides that carry no bound value ([[graft.exec.HeldBroadcasts]]), and
  * what keeps the store small: bound values add no entry, and held bytes
  * stay under the cap.
  */
class CacheHygieneSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "entirely different text about spark cache lifecycles")
  ).toDF("doc_id", "text")

  private def embeddings = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("clear() empties the SQL CacheManager after pipeline operators run") {
    spark.catalog.clearCache()
    PipelineCaches.clear()
    assert(CacheProbe.isEmpty(spark))

    // operators that persist internal signature/vector tables
    Dedup.minhashPairs(docs).count()
    Dedup.ngramJaccardPairs(docs).count()
    Similarity.cosinePairs(embeddings).count()
    assert(!CacheProbe.isEmpty(spark),
      "precondition: the operators should have cached intermediates")

    // Drop every external handle and force a GC: under the old weak-ref
    // registry this is what made the entries unreachable before clear().
    System.gc()
    Thread.sleep(50)

    PipelineCaches.clear()
    assert(CacheProbe.isEmpty(spark),
      "SQL caches survived clear() — the round-7 leak is back")
    assert(PipelineCaches.trackedCount == 0)
  }

  test("clear() leaves caches it does not own untouched") {
    spark.catalog.clearCache()
    PipelineCaches.clear()
    val mine = docs.cache()
    mine.count()
    Dedup.minhashPairs(docs).count()
    PipelineCaches.clear()
    assert(CacheProbe.entryCount(spark) == 1,
      "clear() should release only pipeline-tracked caches")
    mine.unpersist(blocking = true)
    assert(CacheProbe.isEmpty(spark))
  }

  test("entryCount tracks cache/uncache") {
    spark.catalog.clearCache()
    val before = CacheProbe.entryCount(spark)
    assert(before == 0)
    val df = docs.cache()
    df.count()
    assert(CacheProbe.entryCount(spark) == 1)
    df.unpersist(blocking = true)
    assert(CacheProbe.entryCount(spark) == 0)
  }

  /** A dedicated thread whose cache scopes persist between calls. */
  private final class ScopeThread {
    private val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    def apply[A](body: => A): A = pool.submit(() => body).get()
    def stop(): Unit = pool.shutdown()
  }

  test("a release on one thread leaves another thread's frames and round RDDs") {
    spark.catalog.clearCache()
    PipelineCaches.clear()
    val t1 = new ScopeThread
    try {
      val (frame, rdd) = t1 {
        val f = docs.select($"doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          .transform(PipelineCaches.track)
        f.count()
        // shaped like a graph round: persisted, localCheckpointed, counted
        val r = spark.sparkContext.parallelize(1 to 100, 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        r.localCheckpoint()
        PipelineCaches.onClear(r)(_.unpersist(blocking = false))
        r.count()
        (f, r)
      }
      PipelineCaches.clear(blocking = true) // T2 = this thread
      assert(CacheProbe.entryCount(spark) == 1,
        "another thread's clear() unpersisted T1's tracked frame")
      assert(frame.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id),
        "another thread's clear() dropped T1's localCheckpointed round RDD")
      // the loop can still read its (unrecomputable) round
      assert(rdd.count() == 100)
      assert(t1(PipelineCaches.trackedCount) == 2)
      t1(PipelineCaches.clear(blocking = true))
      assert(CacheProbe.isEmpty(spark))
      assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    } finally {
      t1(PipelineCaches.clear(blocking = true))
      t1.stop()
    }
  }

  test("plan-identical frames persisted by two threads share one entry until both release") {
    spark.catalog.clearCache()
    val t1 = new ScopeThread
    val t2 = new ScopeThread
    def persistOn(t: ScopeThread): Unit = t {
      // built independently on each thread: equal plans, distinct handles
      val f = spark.range(0, 50).selectExpr("id * 3 AS x")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(PipelineCaches.track)
      f.count()
      ()
    }
    try {
      persistOn(t1)
      persistOn(t2)
      assert(CacheProbe.entryCount(spark) == 1,
        "precondition: CacheManager holds one entry per plan")
      t1(PipelineCaches.clear(blocking = true))
      assert(CacheProbe.entryCount(spark) == 1,
        "releasing the first scope dropped the entry the second still tracks")
      t2(PipelineCaches.clear(blocking = true))
      assert(CacheProbe.entryCount(spark) == 0,
        "releasing the last scope left the shared entry behind")
    } finally {
      Seq(t1, t2).foreach { t => t(PipelineCaches.clear(blocking = true)); t.stop() }
    }
  }

  test("scoped { writeShards } keeps the caller's tracked frame cached") {
    spark.catalog.clearCache()
    PipelineCaches.clear()
    val mine = docs.select($"doc_id", $"text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(PipelineCaches.track)
    mine.count()
    val before = PipelineCaches.trackedCount
    val dir = TestSpark.tempDir("graft_scoped_shards")
    try {
      PipelineCaches.scoped {
        Sampling.writeShards(docs, dir, shards = 2)
        Dedup.minhashPairs(docs).count() // the scope's own persists
      }
      assert(PipelineCaches.trackedCount == before)
      assert(CacheProbe.entryCount(spark) == 1,
        "a nested scope's release (or writeShards) freed the caller's frame")
      assert(mine.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally {
      PipelineCaches.clear(blocking = true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    assert(CacheProbe.isEmpty(spark))
  }

  /** `body` over V nodes 1..7 and an `E` hop graph 1→2→3→1, 3→4→5→6,
    * where `w` is 1 on every edge but 3→4. `saved` edges are a saved table,
    * which a CREATE appends files to. Its file scans broadcast a Hadoop
    * conf that only a GC frees, so block checks on every broadcast of a
    * build read in-memory edges. */
  private def withHopGraph(saved: Boolean)(body: GraftSession => Unit): Unit = {
    val edges = Seq((1L, 2L, 1), (2L, 3L, 1), (3L, 1L, 1), (3L, 4L, 2), (4L, 5L, 1), (5L, 6L, 1))
      .toDF("from_V", "to_V", "w")
    val table = if (saved) s"hop_edges_${java.util.UUID.randomUUID().toString.replace("-", "")}" else "HE"
    val g = new GraftSession(spark)
    try {
      if (saved) edges.write.saveAsTable(table) else g.registerTable(table, edges)
      g.registerTable("hv", (1L to 7L).toDF("id"))
      g.registerNode("V", "hv", "id")
      g.registerRel("E", table, "V", "V")
      body(g)
    } finally {
      g.close()
      if (saved) spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  private val reachFrom1 = "MATCH (a:V)-[:E*1..8]->(b:V) WHERE a.id = 1 RETURN b.id AS b;"

  /** Waits up to 10 s for every broadcast in `ids` to lose its blocks. */
  private def gone(ids: Set[Long]): Boolean = {
    import org.apache.spark.graftprobe.BlockProbe
    val deadline = System.nanoTime() + 10000000000L
    while ((BlockProbe.broadcastIds & ids).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    (BlockProbe.broadcastIds & ids).isEmpty
  }

  /** `q` built and collected in a cache scope of its own: its rows, and
    * the broadcasts the build made. */
  private def scopedRead(g: GraftSession, q: String): (Set[Long], Set[Long]) = {
    import org.apache.spark.graftprobe.BlockProbe
    val before = BlockProbe.broadcastIds
    PipelineCaches.scoped {
      val df = g.cypher(q)
      val built = BlockProbe.broadcastIds -- before
      (TestSpark.longs(df), built)
    }
  }

  /** (broadcast ids of the adjacencies `g` holds, adjacencies it built). */
  private def held(g: GraftSession): (Set[Long], Long) = {
    val (bcs, builds) = g.hopAdjacencies
    (bcs.map(_.id).toSet, builds)
  }

  private def withWrites[A](body: => A): A = {
    spark.conf.set("spark.graft.writes.enabled", "true")
    try body finally spark.conf.set("spark.graft.writes.enabled", "false")
  }

  test("a scoped var-length query leaves no broadcast block or persisted RDD") {
    import org.apache.spark.graftprobe.BlockProbe
    // a per-edge filter keeps the hop base's adjacency request-scoped
    withHopGraph(saved = false) { g =>
      val calls = Seq(
        "var-length" -> "MATCH (a:V)-[:E*1..8 {w: 1}]->(b:V) WHERE a.id = 1 RETURN b.id AS b;",
        "shortestPath" -> """MATCH p = shortestPath((a:V)-[f:E*1..8]->(b:V))
          |WHERE f.w = 1 RETURN a.id AS a, b.id AS b, length(p) AS len;""".stripMargin)
      val sc = spark.sparkContext
      for ((name, q) <- calls) {
        val rddsBefore = sc.getPersistentRDDs.keySet
        val before = BlockProbe.broadcastIds
        // the frame stays referenced past the scope, so only the release,
        // not a GC of the plan, can drop what the build broadcast
        val (df, built) = PipelineCaches.scoped {
          val df = g.cypher(q)
          val built = BlockProbe.broadcastIds -- before
          assert(df.collect().nonEmpty, name)
          (df, built)
        }
        assert(built.nonEmpty, s"$name: precondition: the build broadcasts its hop adjacency")
        assert(gone(built),
          s"$name: broadcast blocks ${BlockProbe.broadcastIds & built} survived its scope")
        assert(sc.getPersistentRDDs.keySet -- rddsBefore == Set.empty,
          s"$name left persisted RDDs after its scope")
        assert(df.columns.nonEmpty)
      }
      assert(held(g) == ((Set.empty, 0L)), "a filtered hop base was held by the session")
    }
  }

  test("a repeat of an unfiltered var-length query builds nothing") {
    import org.apache.spark.graftprobe.BlockProbe
    withHopGraph(saved = false) { g =>
      val (first, built) = scopedRead(g, reachFrom1)
      assert(first == Set(1L, 2L, 3L, 4L, 5L, 6L))
      val (adj, builds) = held(g)
      assert(adj.size == 1 && adj.subsetOf(built) && builds == 1L, s"$adj of $built, $builds")
      val (again, rebuilt) = scopedRead(g, reachFrom1)
      assert(again == first)
      assert(rebuilt.isEmpty, s"the repeat broadcast $rebuilt")
      assert(held(g) == ((adj, 1L)))
      // the session, not the ended scopes, keeps the adjacency
      assert(adj.subsetOf(BlockProbe.broadcastIds))
    }
  }

  test("a write releases the old adjacency, and the next read sees the new edge") {
    withHopGraph(saved = true) { g =>
      val (before, _) = scopedRead(g, reachFrom1)
      assert(!before.contains(7L))
      val (old, _) = held(g)
      assert(old.size == 1)
      withWrites(g.cypher("CREATE (:V {id: 6})-[:E {w: 1}]->(:V {id: 7});").collect())
      assert(gone(old), "the write kept the old adjacency's broadcast")
      assert(held(g) == ((Set.empty, 1L)))
      val (after, _) = scopedRead(g, reachFrom1)
      assert(after == before + 7L)
      val (fresh, builds) = held(g)
      assert(fresh.size == 1 && fresh != old && builds == 2L)
    }
  }

  test("a read in flight across a write returns the old answer; its scope releases the old adjacency") {
    import org.apache.spark.graftprobe.BlockProbe
    withHopGraph(saved = true) { g =>
      val (inFlight, adj) = PipelineCaches.scoped {
        val df = g.cypher(reachFrom1) // built: the adjacency is broadcast and leased
        val (adj, _) = held(g)
        assert(adj.size == 1, "precondition: the read's build publishes its hop adjacency")
        withWrites(g.cypher("CREATE (:V {id: 6})-[:E {w: 1}]->(:V {id: 7});").collect())
        assert(held(g)._1.isEmpty)
        assert(adj.subsetOf(BlockProbe.broadcastIds),
          "the write destroyed an adjacency a running read still leases")
        (TestSpark.longs(df), adj)
      }
      assert(inFlight == Set(1L, 2L, 3L, 4L, 5L, 6L))
      assert(gone(adj), s"broadcast blocks ${BlockProbe.broadcastIds & adj} survived the read's scope")
      assert(scopedRead(g, reachFrom1)._1.contains(7L))
    }
  }

  test("close() destroys every held hop adjacency") {
    withHopGraph(saved = false) { g =>
      scopedRead(g, reachFrom1)
      scopedRead(g,
        "MATCH p = shortestPath((a:V)-[:E*1..8]-(b:V)) WHERE a.id = 6 RETURN b.id AS b;")
      val (adjs, builds) = held(g)
      assert(adjs.size == 2 && builds == 2L, s"$adjs, $builds")
      g.close()
      assert(gone(adjs), "close() left a hop adjacency's broadcast")
      assert(held(g) == ((Set.empty, 2L)))
    }
  }

  test("an in-memory adjacency index follows a replaced edge table; close() unpersists it") {
    import org.apache.spark.storage.StorageLevel
    val g = new GraftSession(spark)
    try {
      g.registerTable("ai_u", (1L to 3L).toDF("id"))
      g.registerNode("AU", "ai_u", "id")
      g.registerTable("ai_f", Seq((1L, 2L)).toDF("from_AU", "to_AU"))
      g.registerRel("AFOLLOWS", "ai_f", "AU", "AU", adjIndex = true)
      def pairs = g.cypher("MATCH (a:AU)-[:AFOLLOWS]->(b:AU) RETURN a.id AS a, b.id AS b;")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L)))
      val old = g.adjIndex("AFOLLOWS", outgoing = true)
      g.registerTable("ai_f", Seq((1L, 2L), (2L, 3L)).toDF("from_AU", "to_AU"))
      assert(pairs == Set((1L, 2L), (2L, 3L)))
      assert(old.storageLevel == StorageLevel.NONE, "the replaced table's index stayed cached")
      val idx = Seq(true, false).map(g.adjIndex("AFOLLOWS", _))
      assert(idx.forall(_.storageLevel != StorageLevel.NONE))
      g.close()
      assert(idx.forall(_.storageLevel == StorageLevel.NONE), "close() left an index cached")
    } finally g.close()
  }

  /** `body` over people P(id, name) and a KNOWS edge table K, both
    * broadcast-small: in memory, or `saved` as tables. */
  private def withPeople(body: GraftSession => Unit): Unit = withPeople(saved = false)(body)

  private def withPeople(saved: Boolean)(body: GraftSession => Unit): Unit = {
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "")
    val tables = Seq(
      "hb_p" -> Seq((1L, "ann"), (2L, "bob"), (3L, "cy"), (4L, "dee")).toDF("id", "name"),
      "hb_k" -> Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("from_P", "to_P"))
      .map { case (n, df) => (if (saved) s"${n}_$suffix" else n, df) }
    val g = new GraftSession(spark)
    try {
      for ((n, df) <- tables) if (saved) df.write.saveAsTable(n) else g.registerTable(n, df)
      g.registerNode("P", tables(0)._1, "id")
      g.registerRel("K", tables(1)._1, "P", "P")
      body(g)
    } finally {
      g.close()
      if (saved) tables.foreach { case (n, _) => spark.sql(s"DROP TABLE IF EXISTS $n") }
    }
  }

  private val knows = "MATCH (a:P)-[:K]->(b:P) RETURN b.id AS b;"

  /** `q` built, run and released in a cache scope of its own: its rows,
    * and the broadcast exchanges of its executed plan. */
  private def scopedRun(g: GraftSession, q: String, params: Map[String, Any] = Map.empty)
      : (Set[Long], Seq[org.apache.spark.sql.execution.exchange.BroadcastExchangeLike]) =
    PipelineCaches.scoped {
      val df = g.cypher(q, params)
      val rows = TestSpark.longs(df)
      (rows, Profile.planNodes(df.queryExecution.executedPlan).map(_._2).collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => b
      })
    }

  /** The broadcast ids of the join sides `g` holds. */
  private def sides(g: GraftSession): Set[Long] =
    g.store.held(graft.exec.HeldBroadcasts.KeyClass)._1
      .map(_.asInstanceOf[graft.exec.HeldBroadcasts.Side].bc.id).toSet

  private def heldExchanges(df: org.apache.spark.sql.DataFrame) =
    Profile.planNodes(df.queryExecution.executedPlan).map(_._2)
      .collect { case h: graft.exec.HeldBroadcastExchangeExec => h }

  test("a repeat of a join read builds no broadcast") {
    withPeople { g =>
      val (first, exchanges) = scopedRun(g, knows)
      assert(first == Set(2L, 3L, 4L))
      assert(exchanges.nonEmpty && exchanges.forall(_.isInstanceOf[graft.exec.HeldBroadcastExchangeExec]),
        exchanges)
      val (n, bytes, builds) = g.heldBroadcasts
      assert(n > 0 && bytes > 0 && builds == n.toLong, g.heldBroadcasts)
      val (again, served) = scopedRun(g, knows)
      assert(again == first)
      assert(served.nonEmpty && served.forall {
        case h: graft.exec.HeldBroadcastExchangeExec => h.served.isDefined
        case _ => false
      }, s"the repeat built a broadcast: $served")
      assert(g.heldBroadcasts == ((n, bytes, builds)))
    }
  }

  test("a CREATE releases the held sides, and the next read sees the new row") {
    withPeople { g =>
      val (before, _) = scopedRun(g, knows)
      val old = sides(g)
      assert(old.nonEmpty)
      withWrites(g.cypher("CREATE (:P {id: 4})-[:K]->(:P {id: 1});").collect())
      assert(gone(old), "the write kept a held side's broadcast")
      assert(g.heldBroadcasts._1 == 0)
      assert(scopedRun(g, knows)._1 == before + 1L)
      assert(sides(g).nonEmpty && (sides(g) & old).isEmpty)
    }
  }

  test("a read planned before a write answers from the old sides; its scope then frees them") {
    import org.apache.spark.graftprobe.BlockProbe
    withPeople { g =>
      val (before, _) = scopedRun(g, knows)
      val old = sides(g)
      val inFlight = PipelineCaches.scoped {
        val df = g.cypher(knows)
        df.queryExecution.executedPlan // planned: the read leases the held sides
        assert(heldExchanges(df).exists(_.served.isDefined),
          "precondition: the read plans with a held side")
        withWrites(g.cypher("CREATE (:P {id: 4})-[:K]->(:P {id: 1});").collect())
        assert(g.heldBroadcasts._1 == 0)
        assert(old.subsetOf(BlockProbe.broadcastIds),
          "the write destroyed a side a planned read still leases")
        TestSpark.longs(df)
      }
      assert(inFlight == before)
      assert(gone(old), s"broadcast blocks ${BlockProbe.broadcastIds & old} survived the read's scope")
      assert(scopedRun(g, knows)._1 == before + 1L)
    }
  }

  test("close() destroys every held broadcast side") {
    withPeople { g =>
      scopedRun(g, knows)
      scopedRun(g, "MATCH (a:P)-[:K]->(b:P) WHERE b.name <> 'bob' RETURN b.id AS b;")
      val held = sides(g)
      assert(held.size >= 2, held)
      g.close()
      assert(gone(held), "close() left a held side's broadcast")
      assert(g.heldBroadcasts._1 == 0)
    }
  }

  test("two different bound values, strings included, add no held side") {
    // saved tables: a bound value reaches the file scan's filters
    withPeople(saved = true) { g =>
      val q = "MATCH (a:P)-[:K]->(b:P) WHERE a.name = $n AND a.id < $i RETURN b.id AS b;"
      assert(scopedRun(g, q, Map("n" -> "ann", "i" -> 10L))._1 == Set(2L))
      val first = g.heldBroadcasts
      assert(first._1 > 0, "precondition: the read holds its value-free sides")
      assert(scopedRun(g, q, Map("n" -> "bob", "i" -> 20L))._1 == Set(3L))
      assert(g.heldBroadcasts == first, "a new bound value added a held side")
    }
  }

  test("distinct inline literals keep the held bytes at or below the cap") {
    withPeople { g =>
      def q(i: Int) = s"MATCH (a:P)-[:K]->(b:P) WHERE a.id <> $i RETURN b.id AS b;"
      scopedRun(g, q(1))
      val (_, one, _) = g.heldBroadcasts
      g.store.capBytes = one
      var evicted = Set.empty[Long]
      for (i <- 2 to 6) {
        val before = sides(g)
        scopedRun(g, q(i))
        val (_, bytes, _) = g.heldBroadcasts
        assert(bytes <= one, s"literal $i: $bytes held bytes over the cap $one")
        evicted ++= before -- sides(g)
      }
      assert(g.heldBroadcasts._3 > 1L && evicted.nonEmpty, g.heldBroadcasts)
      assert(gone(evicted), "an evicted side kept its broadcast")
    }
  }

  private def paramRefs(plan: org.apache.spark.sql.execution.SparkPlan): Seq[graft.exec.ParamRef] =
    Profile.planNodes(plan).flatMap(_._2.expressions)
      .flatMap(_.collect { case r: graft.exec.ParamRef => r })

  test("a thread with no bound statement plans an unchanged BroadcastExchangeExec") {
    withPeople { g =>
      val t = new ScopeThread
      // a batch join whose filter carries the literal 42
      def batch: org.apache.spark.sql.execution.SparkPlan = {
        val df = spark.range(0, 100).where($"id" =!= 42L).join(spark.range(0, 50).toDF("id"), "id")
        assert(df.collect().length == 49)
        df.queryExecution.executedPlan
      }
      def unchanged(input: String, plan: org.apache.spark.sql.execution.SparkPlan): Unit = {
        val nodes = Profile.planNodes(plan).map(_._2.nodeName)
        assert(nodes.contains("BroadcastExchange") && !nodes.exists(_.startsWith("Held")),
          s"$input: $nodes")
        assert(paramRefs(plan).isEmpty, s"$input: $plan")
      }
      try {
        unchanged("a fresh thread", t(batch))
        // a statement's binding, its marks included, ends with its scope
        val reads = Seq("a read" -> (knows, Map.empty[String, Any]),
          "a read bound with $k = 42" ->
            ("MATCH (a:P)-[:K]->(b:P) WHERE b.id <> $k RETURN b.id AS b;", Map[String, Any]("k" -> 42L)))
        for ((input, (q, params)) <- reads) {
          val live = graft.exec.Statement.liveCount
          val during = t {
            PipelineCaches.scoped {
              g.cypher(q, params).collect()
              batch
            }
          }
          if (params.nonEmpty)
            assert(paramRefs(during).map(_.value).toSet == Set(42L),
              s"precondition: $input marks 42 while its scope lasts: $during")
          unchanged(s"after $input", t(batch))
          assert(t(graft.exec.Statement.current(spark.sparkContext)).isEmpty,
            s"after $input the thread still has a live statement")
          assert(graft.exec.Statement.liveCount == live, s"$input left its statement registered")
        }
      } finally {
        t(PipelineCaches.clear(blocking = true))
        t.stop()
      }
    }
  }

  test("a frame built before a write and run after a later statement leaves nothing stale for later reads") {
    /** On one thread: df1 built, a CREATE, df2 built, df1 run, df2 run,
      * then a fresh scoped read; the write adds `added` to `q`'s answer.
      * df1 runs under the thread's latest statement, df2's, so what its
      * first uses publish is built from the tables after the write. */
    def across(g: GraftSession, q: String, create: String, added: Long): Unit = {
      val t = new ScopeThread
      try {
        val before = t(scopedRun(g, q))._1
        assert(!before.contains(added))
        val (renewed, old) = t {
          PipelineCaches.scoped {
            val df1 = g.cypher(q)
            // held before the write: the first read's sides, df1's adjacency
            val old = sides(g) ++ held(g)._1
            withWrites(g.cypher(create).collect())
            val df2 = g.cypher(q)
            TestSpark.longs(df1)
            assert(heldExchanges(df1).nonEmpty, "df1 did not plan under df2's read statement")
            (TestSpark.longs(df2), old)
          }
        }
        assert(old.nonEmpty, "precondition: the session holds sides before the write")
        assert(renewed == before + added, "a frame built after the write misses the new row")
        val (fresh, exchanges) = t(scopedRun(g, q))
        assert(fresh == before + added, "a fresh read misses the new row")
        val reads = held(g)._1 ++ exchanges.collect {
          case h: graft.exec.HeldBroadcastExchangeExec if h.served.isDefined => h.served.get.bc.id
        }
        assert((reads & old).isEmpty, s"the fresh read reads ${reads & old}, held before the write")
      } finally {
        t(PipelineCaches.clear(blocking = true))
        t.stop()
      }
    }
    withHopGraph(saved = true)(across(_, reachFrom1, "CREATE (:V {id: 6})-[:E {w: 1}]->(:V {id: 7});", 7L))
    withPeople(saved = true)(across(_, "MATCH (a:P)-[:K]->(b:P) WHERE a.id > 2 RETURN b.id AS b;",
      "CREATE (:P {id: 4})-[:K]->(:P {id: 1});", 1L))
  }

  test("a warm session-held answer equals a fresh session's, before and after a CREATE") {
    val sf = "/root/testdata/sf0.001"
    val create = ("CREATE (:Order {o_orderkey: $k, o_custkey: $c, o_orderstatus: 'O', " +
      "o_totalprice: $p, o_orderpriority: '1-URGENT'}), " +
      "(:Customer {c_custkey: $c})-[:PLACED]->(:Order {o_orderkey: $k});",
      Map[String, Any]("k" -> 900001L, "c" -> 7L, "p" -> 1.5))
    def multiset(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }
    /** The answer of a session that holds nothing, with the same writes. */
    def fresh(q: String, params: Map[String, Any], writes: Seq[(String, Map[String, Any])]) = {
      val f = graft.fixtures.TpchGraph.build(spark, sf)
      try PipelineCaches.scoped {
        writes.foreach { case (w, p) => f.cypher(w, p).collect() }
        multiset(f.cypher(q, params))
      } finally f.close()
    }
    val warm = graft.fixtures.TpchGraph.build(spark, sf)
    spark.conf.set("spark.graft.writes.enabled", "true")
    try {
      for (writes <- Seq(Nil, Seq(create))) {
        writes.foreach { case (w, p) => PipelineCaches.scoped(warm.cypher(w, p).collect()) }
        var served = 0
        for ((name, q, sets) <- ReadShapes.templates; params <- sets.take(2)) {
          val expected = fresh(q, params, writes)
          for (run <- 1 to 2) PipelineCaches.scoped {
            val df = warm.cypher(q, params)
            assert(multiset(df) == expected, s"$name $params, run $run, after writes $writes")
            served += heldExchanges(df).count(_.served.isDefined)
          }
        }
        assert(served > 0, s"after writes $writes no read was served a held side")
      }
    } finally {
      spark.conf.set("spark.graft.writes.enabled", "false")
      warm.close()
    }
  }

  test("library code never clears the calling thread's whole scope") {
    import scala.jdk.CollectionConverters._
    // only top-level mains (Bench, Verify, tools) and tests may call
    // clear(); an operator or a request handler opens a scope instead
    val base = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(base),
      s"expected the program sources at ${base.toAbsolutePath}")
    val roots = Seq("pipeline", "graph", "exec", "streaming", "server",
      "planner", "cypher").map(base.resolve) :+ base.resolve("GraftSession.scala")
    val found = roots.flatMap { r =>
      java.nio.file.Files.walk(r).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("PipelineCaches.clear(") => s"$p:${i + 1}"
          }
        }
    }
    assert(found.isEmpty, s"library clear() calls: ${found.mkString(", ")}")
  }
}
