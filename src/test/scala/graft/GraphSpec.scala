package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.GraphAlgorithms

class GraphSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val gs: GraftSession = {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("users",
      Seq((1L, "u1"), (2L, "u2"), (3L, "u3"), (4L, "u4"), (5L, "u5")).toDF("id", "name"))
    g.registerTable("Follows",
      Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (2L, 1L))
        .toDF("from_User", "to_User"))
    g.registerNode("User", "users", "id")
    g.registerRel("Follows", "Follows", "User", "User")
    g
  }

  test("connected components: min-id per component, isolated vertex kept") {
    val cc = GraphAlgorithms.connectedComponents(gs, "Follows")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L))
  }

  test("static pagerank: ranks sum to ~numVertices, sinks lowest") {
    val pr = GraphAlgorithms.pageRank(gs, "Follows")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 5.0) < 0.35) // dangling mass tolerance
    assert(pr(5L) < pr(3L)) // isolated vertex below well-connected one
  }

  test("clustering coefficient: hand-checked, direction/dup-insensitive") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val g = new GraftSession(spark)
    g.registerTable("cn", (1L to 6L).map(i => (i, s"v$i")).toDF("id", "name"))
    // triangle 1-2-3 (with a duplicate and a reversed edge that must
    // collapse), pendant 4 off 3, isolated edge 5-6
    g.registerTable("CE", Seq(
        (1L, 2L, 1), (2L, 1L, 1), (2L, 3L, 1), (2L, 3L, 2), (1L, 3L, 1),
        (3L, 4L, 1), (5L, 6L, 1))
      .toDF("from_C", "to_C", "tag"))
    g.registerNode("C", "cn", "id")
    g.registerRel("CE", "CE", "C", "C")
    val got = GraphAlgorithms.clusteringCoefficient(g, "CE")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(2L) == ((2L, 1L, 1.0)))
    // 3 has neighbors {1,2,4}: one closed pair of three ⇒ 1/3
    assert(got(3L) == ((3L, 1L, 0.333333)))
    assert(got(4L) == ((1L, 0L, 0.0))) // degree < 2 ⇒ 0.0
    assert(got(5L) == ((1L, 0L, 0.0)) && got(6L) == ((1L, 0L, 0.0)))
    // edge predicate restricts the subgraph: dropping tag=2 changes
    // nothing here (it was a duplicate), dropping the 1-3 closer kills
    // the triangle
    val noClose = GraphAlgorithms.clusteringCoefficient(g, "CE",
      Some(!(col("from_C") === 1L && col("to_C") === 3L)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(noClose.values.sum == 0L)
    graft.pipeline.PipelineCaches.clear()
  }

  test("link features: hand-checked common/jaccard/adamic-adar") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("kn", (1L to 5L).map(i => (i, s"v$i")).toDF("id", "name"))
    // square 1-2-3-4 with diagonal 1-3; pendant 5 on 1
    g.registerTable("KE", Seq(
        (1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L), (1L, 5L))
      .toDF("from_K", "to_K"))
    g.registerNode("K", "kn", "id")
    g.registerRel("KE", "KE", "K", "K")
    val got = GraphAlgorithms.linkFeatures(g, "KE")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // N(1)={2,3,4,5} N(2)={1,3}: common {3}, union {1,2,3,4,5}\... =
    // |N1∪N2| = 4+2-1 = 5 ⇒ jaccard 0.2; deg(3)=3 ⇒ aa = 1/ln(3)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got((1L, 2L)) == ((1L, 0.2, r6(1.0 / math.log(3.0)))), got.toString)
    // edge 1-3: common {2,4}, jaccard 2/(4+3-2)=0.4, aa = 1/ln2 + 1/ln2
    assert(got((1L, 3L))._1 == 2L && got((1L, 3L))._2 == 0.4)
    assert(got((1L, 3L))._3 == r6(1.0 / math.log(2.0) + 1.0 / math.log(2.0)))
    // pendant edge 1-5: zero overlap
    assert(got((1L, 5L)) == ((0L, 0.0, 0.0)), got.toString)
    graft.pipeline.PipelineCaches.clear()
  }

  test("label propagation: communities converge, min-label ties, deterministic") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val g = new GraftSession(spark)
    g.registerTable("ln", (1L to 8L).map(i => (i, s"v$i")).toDF("id", "name"))
    // two triangles {1,2,3} and {6,7,8} joined by the path 3-4-5-6
    g.registerTable("LE", Seq(
        (1L, 2L), (2L, 3L), (1L, 3L),
        (3L, 4L), (4L, 5L), (5L, 6L),
        (6L, 7L), (7L, 8L), (6L, 8L))
      .toDF("from_L", "to_L"))
    g.registerNode("L", "ln", "id")
    g.registerRel("LE", "LE", "L", "L")
    val got = GraphAlgorithms.labelPropagation(g, "LE", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // triangle {1,2,3} settles on its min label 1; labels reach the bridge
    assert(got.size == 8)
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L, got.toString)
    assert(got(4L) == 1L, got.toString) // bridge adopts the triangle side (min tie)
    // deterministic across runs
    val again = GraphAlgorithms.labelPropagation(g, "LE", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
    // one round: every vertex takes its neighbor mode with min-tie —
    // vertex 2's neighbors {1,3} tie, min label 1 wins
    val one = GraphAlgorithms.labelPropagation(g, "LE", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one(2L) == 1L && one(7L) == 6L)
    // edge predicate restricts the graph
    val cut = GraphAlgorithms.labelPropagation(g, "LE", iters = 5,
      edgePred = Some(col("from_L") =!= 4L && col("to_L") =!= 4L))
    assert(cut.count() == 7) // vertex 4 has no surviving edges
    // untilStable: stops as soon as a round changes nothing — well before
    // the 50-round bound — and lands on the same fixed point
    val stable = GraphAlgorithms.labelPropagation(g, "LE", iters = 50,
        untilStable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(GraphAlgorithms.lastLabelPropRounds.get < 50,
      s"did not converge early: ${GraphAlgorithms.lastLabelPropRounds.get}")
    assert(stable == got, stable.toString)
    graft.pipeline.PipelineCaches.clear()
  }

  test("label-prop message merge: RLE-bounded, mode-exact, amortized tail") {
    import GraphAlgorithms.{lpMergeMsgs, lpMode, lpMsg, lpNormalize, LpRawCap}
    // brute-force mode with the min-label tie, the semantics the hybrid
    // encoding must preserve exactly
    def bruteMode(labels: Seq[Long]): Long = {
      val byCount = labels.groupBy(identity).view.mapValues(_.size).toSeq
      byCount.minBy { case (l, c) => (-c, l) }._1
    }
    val rnd = new scala.util.Random(42)
    // random multisets merged in random tree orders — mode AND exact
    // per-label counts must match the brute answer regardless of the
    // merge shape (combiner trees are arbitrary) and of which merges took
    // the in-place tail path vs the full pair merge
    for (trial <- 1 to 20) {
      val n = 1 + rnd.nextInt(400)
      val labels = Seq.fill(n)(rnd.nextInt(12).toLong)
      var msgs = labels.map(lpMsg).toBuffer
      while (msgs.size > 1) {
        val i = rnd.nextInt(msgs.size - 1)
        val merged = lpMergeMsgs(msgs(i), msgs.remove(i + 1))
        msgs(i) = merged
      }
      assert(lpMode(msgs.head) == bruteMode(labels), s"trial $trial")
      val norm = lpNormalize(msgs.head)
      val pairs = norm.drop(2).grouped(2).map(p => p(0) -> p(1)).toMap
      val want = labels.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(pairs == want, s"trial $trial counts")
    }
    // small merges stay raw (tail append, no compression work)
    val small = lpMergeMsgs(lpMsg(3L), lpMsg(1L))
    assert(small(0) == 0L && small(1) == 2L)
    // the hub shape: 1,000,000 neighbors carrying only 5 distinct labels.
    // A degree-sized multiset would be 10^6 longs; the reduced message
    // must stay bounded by distinct labels + the amortized tail cap —
    // and the fold must not reallocate per message (the in-place append
    // makes this loop linear; a per-merge copy would be quadratic).
    var hub = lpMsg(0L)
    var i = 0
    while (i < 999999) { hub = lpMergeMsgs(hub, lpMsg((i % 5).toLong)); i += 1 }
    assert(hub.length <= 2 + 2 * 5 + 2 * LpRawCap,
      s"hub message is ${hub.length} longs — not bounded by distinct labels")
    assert(lpMode(hub) == 0L) // the seed lpMsg(0) tips label 0 past the rest
    // counts survive exactly: i%5 over i in 0..999998 gives label 0
    // 200000 hits (+1 for the seed), label 4 only reaches i=999994
    val norm = lpNormalize(hub)
    assert(norm(0) == 10L && norm(1) == 0L)
    val counts = norm.drop(2).grouped(2).map(p => p(0) -> p(1)).toMap
    assert(counts(0L) == 200001L && counts(4L) == 199999L, counts.toString)
  }

  test("weighted shortest paths: min total weight beats fewer hops") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("wn", Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "name"))
    g.registerTable("WE", Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 5.0),
        (3L, 4L, 1.0)).toDF("from_W", "to_W", "w"))
    g.registerNode("W", "wn", "id")
    g.registerRel("WE", "WE", "W", "W")
    val got = GraphAlgorithms.weightedShortestPaths(g, "WE", "w", Seq(4L), maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    // 1→2→3→4 (3 hops, weight 3) beats the shorter-hop 1→3→4 (weight 6)
    assert(got == Map(1L -> 3.0, 2L -> 2.0, 3L -> 1.0, 4L -> 0.0))
    // the hop bound is honored: at maxHops=2 vertex 1 only reaches via 1→3→4
    val bounded = GraphAlgorithms.weightedShortestPaths(g, "WE", "w", Seq(4L), maxHops = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(bounded(1L) == 6.0)
    // negative weights are rejected under a bounded hop count
    g.registerTable("WNEG", Seq((1L, 2L, -1.0)).toDF("from_W", "to_W", "w"))
    g.registerRel("WNEG", "WNEG", "W", "W")
    assertThrows[graft.cypher.GraftException](
      GraphAlgorithms.weightedShortestPaths(g, "WNEG", "w", Seq(2L)))
  }

  test("triangle count") {
    val tc = GraphAlgorithms.triangleCount(gs, "Follows")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc(1L) == 1L && tc(2L) == 1L && tc(3L) == 1L && tc(4L) == 0L)
  }

  test("shortest paths to landmarks (hop counts)") {
    val sp = GraphAlgorithms.shortestPaths(gs, "Follows", Seq(4L))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // 3->4 (1 hop); 1->3->4 and 2->3->4 (2 hops); 4 itself 0; 5 unreachable
    assert(sp == Map(4L -> 0L, 3L -> 1L, 1L -> 2L, 2L -> 2L))
  }

  test("degrees from edge list") {
    val d = GraphAlgorithms.degrees(gs, "Follows")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(d.contains((1L, 2L, 1L))) // out {2,3}, in {2->1}
    assert(d.contains((4L, 0L, 1L)))
  }

  test("k-core: hand-checked cascading peel, converges before the bound") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("kn", (1L to 6L).map(i => (i, s"v$i")).toDF("id", "name"))
    // triangle 1-2-3, tail 3-4-5, pendant 5-6: the 2-core peel must
    // cascade (6 falls, exposing 5; 5 falls, exposing 4) — a single
    // degree pass would wrongly keep 4 and 5
    g.registerTable("KE", Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
        (4L, 5L), (5L, 6L)).toDF("from_K", "to_K"))
    g.registerNode("K", "kn", "id")
    g.registerRel("KE", "KE", "K", "K")
    val core = GraphAlgorithms.kCore(g, "KE", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // 3 peel rounds removed vertices, the 4th detected stability — well
    // under the default bound, so the early exit fired
    assert(GraphAlgorithms.lastKCoreRounds.get() == 4)
    // k above the max degree peels everything
    assert(GraphAlgorithms.kCore(g, "KE", k = 4).count() == 0)
  }

  /** The k-core cascade: triangle 1-2-3 with the tail 3-4-5-6 ("KE"),
    * plus a directed 3-cycle 1→2→3→1 bridged one way into 4⇄5 ("KD"). */
  private def cascadeSession(): GraftSession = {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("kn", (1L to 6L).map(i => (i, s"v$i")).toDF("id", "name"))
    g.registerTable("KE", Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
        (4L, 5L), (5L, 6L)).toDF("from_K", "to_K"))
    g.registerTable("KD", Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
        (4L, 5L), (5L, 4L)).toDF("from_K", "to_K"))
    g.registerNode("K", "kn", "id")
    g.registerRel("KE", "KE", "K", "K")
    g.registerRel("KD", "KD", "K", "K")
    g
  }

  test("k-core: stopped before convergence returns the unrolled rounds") {
    val g = cascadeSession()
    def core(maxRounds: Int): Map[Long, Long] =
      GraphAlgorithms.kCore(g, "KE", k = 2, maxRounds = maxRounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1 peels only 6; 5 keeps its edge to 4
    assert(core(1) == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 1L))
    assert(GraphAlgorithms.lastKCoreRounds.get() == 1)
    // round 2 peels 5; 4 keeps its edge to 3
    assert(core(2) == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
    assert(GraphAlgorithms.lastKCoreRounds.get() == 2)
    graft.pipeline.PipelineCaches.clear()
  }

  test("k-core: one Spark job per peel round") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val g = cascadeSession()
    val sc = spark.sparkContext
    val group = "graphspec-kcore-jobs"
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
      sc.setJobGroup(group, "kCore job census")
      GraphAlgorithms.kCore(g, "KE", k = 2).collect()
    } finally {
      sc.clearJobGroup()
      org.apache.spark.graftprobe.BusProbe.drain(sc)
      sc.removeSparkListener(listener)
    }
    val rounds = GraphAlgorithms.lastKCoreRounds.get()
    assert(rounds == 4)
    // outside the rounds: the canonical-edge shuffle, the edge count
    // that sizes the partitioner, and the caller's collect
    assert(jobs.get() <= rounds + 3,
      s"${jobs.get()} jobs for $rounds peel rounds")
    graft.pipeline.PipelineCaches.clear()
  }

  test("graph RDD loops register every persist with PipelineCaches") {
    val g = cascadeSession()
    val sc = spark.sparkContext
    val calls = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "kCore" -> (() => GraphAlgorithms.kCore(g, "KE", k = 2)),
      "louvain" -> (() => GraphAlgorithms.louvain(g, "KE", levels = 2)),
      "coreNumbers" -> (() => GraphAlgorithms.coreNumbers(g, "KE")),
      "stronglyConnectedComponents" ->
        (() => GraphAlgorithms.stronglyConnectedComponents(g, "KD")),
      "betweennessCentrality" ->
        (() => GraphAlgorithms.betweennessCentrality(g, "KE")))
    graft.pipeline.PipelineCaches.clear(blocking = true)
    for ((name, call) <- calls) {
      val before = sc.getPersistentRDDs.keySet
      assert(call().collect().nonEmpty, name)
      graft.pipeline.PipelineCaches.clear(blocking = true)
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$name left persisted RDDs $leaked after clear")
    }
  }

  test("core numbers: hand-checked K4 + tail + pendant") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("con", (1L to 6L).map(i => (i, s"v$i")).toDF("id", "name"))
    // K4 on {1,2,3,4} (coreness 3), tail 4-5 (5: coreness 1), pendant
    // 5-6 (6: coreness 1)
    g.registerTable("COE", Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
        (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("from_CO", "to_CO"))
    g.registerNode("CO", "con", "id")
    g.registerRel("COE", "COE", "CO", "CO")
    val got = GraphAlgorithms.coreNumbers(g, "COE")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 1L))
    // consistency with kCore membership: the 3-core is exactly the
    // coreness->=3 set
    val core3 = GraphAlgorithms.kCore(g, "COE", k = 3)
      .collect().map(_.getLong(0)).toSet
    assert(core3 == got.filter(_._2 >= 3L).keySet)
  }

  test("core numbers: chain cascade converges; cap and budget behave") {
    import spark.implicits._
    val g = new GraftSession(spark)
    // a 30-vertex path welded to a K4 at one end: the path is the
    // worst case for layer-at-a-time refinement (the old per-k peel
    // needed one round per path vertex AT EVERY k and silently
    // mis-assigned past its 50-round cap)
    g.registerTable("ccn", (1L to 34L).map(i => (i, s"v$i")).toDF("id", "name"))
    val path = (1L until 30L).map(i => (i, i + 1))
    val k4 = Seq((30L, 31L), (30L, 32L), (30L, 33L), (31L, 32L),
      (31L, 33L), (32L, 33L))
    g.registerTable("CCE", (path ++ k4).toDF("from_CC", "to_CC"))
    g.registerNode("CC", "ccn", "id")
    g.registerRel("CCE", "CCE", "CC", "CC")
    val got = GraphAlgorithms.coreNumbers(g, "CCE")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4 members (30 sits in the K4 and on the path): coreness 3;
    // every pure path vertex: coreness 1
    assert((30L to 33L).forall(got(_) == 3L))
    assert((1L to 29L).forall(got(_) == 1L))
    // the refinement erodes the path one layer per round from each end:
    // hand-derivable round count is ~|path|/2, well under the budget
    val rounds = GraphAlgorithms.lastCorenessRounds.get()
    assert(rounds > 5 && rounds <= 40, s"unexpected round count $rounds")
    // maxK caps REPORTED coreness without disturbing values below it
    val capped = GraphAlgorithms.coreNumbers(g, "CCE", maxK = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((30L to 33L).forall(capped(_) == 2L))
    assert((1L to 29L).forall(capped(_) == 1L))
    // an insufficient round budget throws instead of returning a
    // partially-refined (wrong) decomposition
    intercept[IllegalStateException] {
      GraphAlgorithms.coreNumbers(g, "CCE", maxRounds = 2)
    }
  }

  test("hits: hubs and authorities on a hand-checked star, dups collapse") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("hn", (1L to 3L).map(i => (i, s"v$i")).toDF("id", "name"))
    // 1→3 and 2→3 (plus a duplicate row that must collapse): 3 is the
    // sole authority, 1 and 2 split the hub mass
    g.registerTable("HE", Seq((1L, 3L), (2L, 3L), (1L, 3L))
      .toDF("from_H", "to_H"))
    g.registerNode("H", "hn", "id")
    g.registerRel("HE", "HE", "H", "H")
    val got = GraphAlgorithms.hits(g, "HE", iters = 5)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    assert(got(1L) == ((0.5, 0.0)))
    assert(got(2L) == ((0.5, 0.0)))
    assert(got(3L) == ((0.0, 1.0)))
  }

  test("personalized pagerank: hand-checked chain decay, sparse zeros") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("pn", (1L to 5L).map(i => (i, s"v$i")).toDF("id", "name"))
    // chain 1→2→3 plus a disconnected edge 4→5: rank mass decays down
    // the chain from source 1; 4 and 5 are unreachable ⇒ exactly 0.0
    g.registerTable("PE", Seq((1L, 2L), (2L, 3L), (4L, 5L))
      .toDF("from_P", "to_P"))
    g.registerNode("P", "pn", "id")
    g.registerRel("PE", "PE", "P", "P")
    val got = GraphAlgorithms.personalizedPageRank(g, "PE", Seq(1L), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // from-the-spec fold: r0 = {1: 1.0}; r_i(v) = .15*s(v) + .85*sum(in)
    var rank = Map(1L -> 1.0)
    val edges = Map(1L -> Seq(2L), 2L -> Seq(3L), 4L -> Seq(5L))
    for (_ <- 1 to 3) {
      val m = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      for ((u, r0) <- rank; vs <- edges.get(u); vv <- vs)
        m(vv) += 0.85 * r0 / vs.size
      rank = ((1L to 5L).flatMap { vv =>
        val x = m(vv) + (if (vv == 1L) 0.15 else 0.0)
        if (x != 0.0) Some(vv -> x) else None
      }).toMap
    }
    for (vv <- 1L to 5L)
      assert(got(vv) ==
        BigDecimal(rank.getOrElse(vv, 0.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"vertex $vv")
    // unreachable component is exactly zero, not epsilon
    assert(got(4L) == 0.0 && got(5L) == 0.0)
  }

  test("biased walks: bit-exact vs a from-the-spec reimplementation") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("bn", (1L to 5L).map(i => (i, s"v$i")).toDF("id", "name"))
    // cycle + chords so return/common/explore weights all occur
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 2L), (4L, 5L), (5L, 3L), (1L, 4L))
    g.registerTable("BE", edges.toDF("from_B", "to_B"))
    g.registerNode("B", "bn", "id")
    g.registerRel("BE", "BE", "B", "B")
    val walkLen = 4; val reps = 2; val seed = 11L
    val p = 2.0; val q = 0.5
    val got = GraphAlgorithms
      .biasedRandomWalks(g, "BE", walkLen, reps, seed, p, q)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    // independent reimplementation straight from the scaladoc contract
    val eset = edges.toSet
    val adj = edges.groupBy(_._1).map { case (f, es) =>
      f -> es.map(_._2).distinct.sorted.toIndexedSeq }
    import GraphAlgorithms.{WalkMixMod, WalkMixNode, WalkMixPrime,
      WalkMixRep, WalkMixStart, WalkMixStep}
    def mix(node: Long, start: Long, rep: Long, step: Long): Long =
      ((node % WalkMixPrime) * WalkMixNode
        + (start % WalkMixPrime) * WalkMixStart
        + rep * WalkMixRep + step * WalkMixStep + seed) % WalkMixMod
    val expected = scala.collection.mutable.Set[(Long, Long, Long, Long)]()
    for (start <- 1L to 5L; rep <- 0L until reps.toLong) {
      var prev = start
      var node = start
      expected += ((start, rep, 0L, node))
      var alive = adj.contains(node)
      if (alive) { // step 1: uniform
        val ns = adj(node)
        val nxt = ns((mix(node, start, rep, 1L) % ns.size).toInt)
        expected += ((start, rep, 1L, nxt)); prev = node; node = nxt
      }
      var step = 2L
      while (alive && step <= walkLen && adj.contains(node)) {
        val ns = adj(node)
        val ws = ns.map { x =>
          if (x == prev) 1.0 / p
          else if (eset((prev, x))) 1.0 else 1.0 / q
        }
        val tot = ws.foldLeft(0.0)(_ + _)
        val thresh = mix(node, start, rep, step).toDouble / 2147483647.0 * tot
        var cum = 0.0; var chosen = -1L
        for ((x, w) <- ns.zip(ws) if chosen < 0) {
          cum += w
          // the engine filters on (cum − w), not the pre-add value —
          // replicate the exact float arithmetic
          if (cum - w <= thresh && thresh < cum) chosen = x
        }
        expected += ((start, rep, step, chosen))
        prev = node; node = chosen; step += 1
      }
    }
    assert(got == expected.toSet)
    // p/q actually bias: a different (p, q) changes at least one step
    val other = GraphAlgorithms
      .biasedRandomWalks(g, "BE", walkLen, reps, seed, p = 0.25, q = 4.0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(other != got)
  }

  test("closeness: hand-checked chain distances to landmarks") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("cln", (1L to 4L).map(i => (i, s"v$i")).toDF("id", "name"))
    // chain 1→2→3→4, landmarks {4, 3}: vertex 1 reaches 4 at d=3 and 3
    // at d=2 ⇒ harmonic = 1/3 + 1/2, closeness = 2/5
    g.registerTable("CLE", Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .toDF("from_CL", "to_CL"))
    g.registerNode("CL", "cln", "id")
    g.registerRel("CLE", "CLE", "CL", "CL")
    val got = GraphAlgorithms.closenessCentrality(g, "CLE", Seq(4L, 3L))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((2L, 0.833333, 0.4)))
    assert(got(2L) == ((2L, 1.5, 0.666667))) // d=2 and d=1
    assert(got(3L) == ((1L, 1.0, 1.0)))      // only landmark 4 at d=1
    assert(!got.contains(4L)) // reaches no landmark at d>0
  }

  test("betweenness: hand-checked path/star/bridge, landmark subset") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("btn", (1L to 7L).map(i => (i, s"v$i")).toDF("id", "name"))
    // path 1-2-3-4 (ordered-pair betweenness of 2 and 3 = 4 each),
    // plus separate star 5-{6,7} (B(5) = 2: the 6↔7 pairs)
    g.registerTable("BTE", Seq((1L, 2L), (2L, 3L), (3L, 4L),
        (5L, 6L), (5L, 7L)).toDF("from_BT", "to_BT"))
    g.registerNode("BT", "btn", "id")
    g.registerRel("BTE", "BTE", "BT", "BT")
    val got = GraphAlgorithms.betweennessCentrality(g, "BTE")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.0, 2L -> 4.0, 3L -> 4.0, 4L -> 0.0,
      5L -> 2.0, 6L -> 0.0, 7L -> 0.0))
    // split shortest paths: a 4-cycle 1-2-4-3-1 has two equal routes per
    // opposite pair, each midpoint carrying 1/2 per ordered pair
    g.registerTable("BTE2", Seq((1L, 2L), (2L, 4L), (3L, 4L), (1L, 3L))
      .toDF("from_BT", "to_BT"))
    g.registerRel("BTE2", "BTE2", "BT", "BT")
    val cyc = GraphAlgorithms.betweennessCentrality(g, "BTE2")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // each vertex sits on exactly one of two shortest routes for the
    // opposite pair, both directions: 2 · 1/2 = 1
    assert(cyc == Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0))
    // landmark subset: sources = {1} accumulates only s=1 dependencies
    // on the path graph: delta_1(2) = 2 (paths to 3 and 4), delta_1(3) = 1
    val lm = GraphAlgorithms.betweennessCentrality(g, "BTE", sources = Seq(1L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(lm(2L) == 2.0 && lm(3L) == 1.0 && lm(1L) == 0.0 && lm(5L) == 0.0)
  }

  test("betweenness default is a bounded landmark sample; exact opts in") {
    import spark.implicits._
    val g = new GraftSession(spark)
    // path 1-2-...-70: more vertices than the 64-landmark default
    g.registerTable("btg", (1L to 70L).map(i => (i, s"v$i")).toDF("id", "name"))
    g.registerTable("BGE", (1L until 70L).map(i => (i, i + 1))
      .toDF("from_BG", "to_BG"))
    g.registerNode("BG", "btg", "id")
    g.registerRel("BGE", "BGE", "BG", "BG")
    val dflt = GraphAlgorithms.betweennessCentrality(g, "BGE", maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // zero-arg call must equal the EXPLICIT 64-lowest-ids landmark run,
    // not an all-vertices schedule
    val explicit = GraphAlgorithms.betweennessCentrality(g, "BGE",
        sources = (1L to 64L), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dflt == explicit)
    // all-vertices is an explicit opt-in and differs here: sources 65-70
    // contribute dependencies the landmark run omits (e.g. s=70 adds
    // delta through 69/68 that no source <= 64 reaches within depth 3)
    val exact = GraphAlgorithms.betweennessCentrality(g, "BGE",
        maxDepth = 3, exact = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(exact != dflt)
    assert(exact(69L) > dflt(69L))
    // exact + explicit sources is contradictory -> loud
    intercept[IllegalArgumentException] {
      GraphAlgorithms.betweennessCentrality(g, "BGE", sources = Seq(1L),
        exact = true)
    }
    // small graphs (V <= 64) are unaffected: default == exact there is
    // pinned by the hand-checked path/star/bridge test above
  }

  test("weighted pagerank: from-the-spec fold, scale-invariant shares") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("wpn", (1L to 3L).map(i => (i, s"v$i")).toDF("id", "name"))
    // 1 splits 3:1 between 2 and 3; 2→3 closes mass toward 3
    val edges = Seq((1L, 2L, 3.0), (1L, 3L, 1.0), (2L, 3L, 2.0))
    g.registerTable("WPE", edges.toDF("from_WP", "to_WP", "wt"))
    g.registerNode("WP", "wpn", "id")
    g.registerRel("WPE", "WPE", "WP", "WP")
    val got = GraphAlgorithms.weightedPageRank(g, "WPE", "wt", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // from-the-spec fold
    val shares = Map((1L, 2L) -> 0.75, (1L, 3L) -> 0.25, (2L, 3L) -> 1.0)
    var rank = Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0)
    for (_ <- 1 to 4) {
      val m = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      for (((u, vv), s) <- shares) m(vv) += rank(u) * s
      rank = (1L to 3L).map(vv => vv -> (0.15 + 0.85 * m(vv))).toMap
    }
    for (vv <- 1L to 3L)
      assert(got(vv) == BigDecimal(rank(vv))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"vertex $vv")
    // shares are scale-invariant: doubling every weight changes nothing
    g.registerTable("WPE2", edges.map { case (a, b, w) => (a, b, w * 2) }
      .toDF("from_WP", "to_WP", "wt"))
    g.registerRel("WPE2", "WPE2", "WP", "WP")
    val scaled = GraphAlgorithms.weightedPageRank(g, "WPE2", "wt", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scaled == got)
    // zero / negative weights are loud
    g.registerTable("WPE3", Seq((1L, 2L, 0.0)).toDF("from_WP", "to_WP", "wt"))
    g.registerRel("WPE3", "WPE3", "WP", "WP")
    assertThrows[graft.cypher.GraftException](
      GraphAlgorithms.weightedPageRank(g, "WPE3", "wt"))
  }

  test("eigenvector centrality: regular graph uniform, star hub dominates") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("en", (1L to 4L).map(i => (i, s"v$i")).toDF("id", "name"))
    // triangle: 2-regular ⇒ exactly uniform 1/3 at any iteration count
    g.registerTable("EE", Seq((1L, 2L), (2L, 3L), (1L, 3L))
      .toDF("from_E", "to_E"))
    g.registerNode("E", "en", "id")
    g.registerRel("EE", "EE", "E", "E")
    val tri = GraphAlgorithms.eigenvectorCentrality(g, "EE", iters = 7)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(tri == Map(1L -> 0.333333, 2L -> 0.333333, 3L -> 0.333333))
    // star 1−{2,3,4}: from-the-spec unnormalized power fold
    g.registerTable("SE2", Seq((1L, 2L), (1L, 3L), (1L, 4L))
      .toDF("from_E", "to_E"))
    g.registerRel("SE2", "SE2", "E", "E")
    // ODD iterations: the star is bipartite, so even rounds oscillate to
    // hub == leaf values — the fold below pins that too, but the
    // dominance check needs an odd round
    val got = GraphAlgorithms.eigenvectorCentrality(g, "SE2", iters = 7)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sym = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L), (4L, 1L))
    var x = Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0)
    for (_ <- 1 to 7)
      x = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => x(e._1)).sum }
    val tot = x.values.sum
    for ((id, v) <- x)
      assert(got(id) ==
        BigDecimal(v / tot).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble, s"vertex $id")
    assert(got(1L) > got(2L)) // the hub dominates
  }

  test("modularity: hand-checked two-community graph") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("mn", (1L to 6L).map(i => (i, s"v$i")).toDF("id", "name"))
    // two triangles joined by one bridge edge: m = 7
    g.registerTable("ME", Seq((1L, 2L), (2L, 3L), (1L, 3L),
        (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("from_M", "to_M"))
    g.registerNode("M", "mn", "id")
    g.registerRel("ME", "ME", "M", "M")
    val comm = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("id", "label")
    val got = GraphAlgorithms.modularity(g, "ME", comm)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // community 1: e_in=3, deg_sum=2+2+3=7 ⇒ 3/7 − (7/14)² = 3/7 − 1/4
    val c1 = 3.0 / 7 - 0.25
    assert(got(1L)._1 == 3L && got(1L)._2 == 7L)
    assert(math.abs(got(1L)._3 - c1) < 1e-6)
    assert(got(4L) == got(1L)) // symmetric structure
    // total Q for the natural split of two bridged triangles
    val q = got.values.map(_._3).sum
    assert(math.abs(q - 2 * c1) < 1e-6)
    // vertices absent from the assignment fall back to singleton
    // communities: dropping 6's row moves it to community 6
    val partial = comm.filter(
      org.apache.spark.sql.functions.col("id") =!= 6L)
    val got2 = GraphAlgorithms.modularity(g, "ME", partial)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got2.contains(6L) && got2(6L) == 2L)
  }

  test("assortativity: perfect on a regular pairing, negative on a star") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("sn", (1L to 5L).map(i => (i, s"v$i")).toDF("id", "name"))
    // star: hub 1 to leaves 2..5 — hubs pair with leaves only ⇒ r = −1
    g.registerTable("SE", Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
      .toDF("from_S", "to_S"))
    g.registerNode("S", "sn", "id")
    g.registerRel("SE", "SE", "S", "S")
    val star = GraphAlgorithms.assortativity(g, "SE").collect().head
    assert(star.getLong(0) == 4L)
    assert(star.getDouble(1) == -1.0)
    // degree-regular graph (a 4-cycle): zero variance ⇒ NULL r
    g.registerTable("CE2", Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("from_S", "to_S"))
    g.registerRel("CE2", "CE2", "S", "S")
    val cyc = GraphAlgorithms.assortativity(g, "CE2").collect().head
    assert(cyc.getLong(0) == 4L && cyc.isNullAt(1))
  }

  test("random walks: bit-exact vs a from-the-spec reimplementation") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("wn2", (1L to 4L).map(i => (i, s"v$i")).toDF("id", "name"))
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    g.registerTable("WE2", edges.toDF("from_W2", "to_W2"))
    g.registerNode("W2", "wn2", "id")
    g.registerRel("WE2", "WE2", "W2", "W2")
    val walkLen = 3; val reps = 2; val seed = 7L
    val got = GraphAlgorithms.randomWalks(g, "WE2", walkLen, reps, seed)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    // independent reimplementation straight from the scaladoc contract
    val adj = edges.groupBy(_._1).map { case (f, es) =>
      f -> es.map(_._2).distinct.sorted.toIndexedSeq }
    import GraphAlgorithms.{WalkMixMod, WalkMixNode, WalkMixPrime,
      WalkMixRep, WalkMixStart, WalkMixStep}
    val expected = scala.collection.mutable.Set[(Long, Long, Long, Long)]()
    for (start <- 1L to 4L; rep <- 0L until reps.toLong) {
      var node = start
      expected += ((start, rep, 0L, node))
      var step = 1L
      var alive = true
      while (alive && step <= walkLen) {
        adj.get(node) match {
          case Some(ns) =>
            val mix = ((node % WalkMixPrime) * WalkMixNode
              + (start % WalkMixPrime) * WalkMixStart
              + rep * WalkMixRep + step * WalkMixStep + seed) % WalkMixMod
            node = ns((mix % ns.size).toInt)
            expected += ((start, rep, step, node))
            step += 1
          case None => alive = false // sink: the walk stops
        }
      }
    }
    assert(got == expected.toSet)
    // sinks emit only their step-0 rows
    assert(got.count { case (s, _, _, _) => s == 4L } == reps)
    // deterministic: a re-run is identical
    val again = GraphAlgorithms.randomWalks(g, "WE2", walkLen, reps, seed)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(again == got)
  }

  test("scc: mutual reachability only, lowest id, isolated kept") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("sn", (1L to 6L).map(i => (i, s"v$i")).toDF("id", "name"))
    // 3-cycle 1→2→3→1, one-way bridge 3→4, 2-cycle 4⇄5, isolated 6
    g.registerTable("SE", Seq(
        (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L))
      .toDF("from_S", "to_S"))
    g.registerNode("S", "sn", "id")
    g.registerRel("SE", "SE", "S", "S")
    val scc = GraphAlgorithms.stronglyConnectedComponents(g, "SE")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L))
    // the one-way bridge merges everything under UNDIRECTED reachability
    val cc = GraphAlgorithms.connectedComponents(g, "SE")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(4L) == 1L && cc(5L) == 1L && scc(4L) == 4L)
    graft.pipeline.PipelineCaches.clear()
  }

  test("scc: condensation chains, DAG trim, converge-or-throw budgets") {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("sn2", (1L to 16L).map(i => (i, s"v$i")).toDF("id", "name"))
    // three 3-cycles chained by one-way bridges (condensation depth 3),
    // then a pure DAG tail 9->10->...->16 (trim-only territory)
    val ring = (base: Long) => Seq((base, base + 1), (base + 1, base + 2),
      (base + 2, base))
    val edges = ring(1L) ++ Seq((3L, 4L)) ++ ring(4L) ++ Seq((6L, 7L)) ++
      ring(7L) ++ Seq((9L, 10L)) ++ (10L until 16L).map(i => (i, i + 1))
    g.registerTable("SE2", edges.toDF("from_S2", "to_S2"))
    g.registerNode("S2", "sn2", "id")
    g.registerRel("SE2", "SE2", "S2", "S2")
    val scc = GraphAlgorithms.stronglyConnectedComponents(g, "SE2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 3L).forall(scc(_) == 1L))
    assert((4L to 6L).forall(scc(_) == 4L))
    assert((7L to 9L).forall(scc(_) == 7L))
    assert((10L to 16L).forall(i => scc(i) == i)) // DAG tail: singletons
    assert(GraphAlgorithms.lastSccRounds.get() > 0)
    // a condensation chain deeper than numIter throws instead of
    // silently returning provisional colors
    intercept[IllegalStateException] {
      GraphAlgorithms.stronglyConnectedComponents(g, "SE2", numIter = 2)
    }
    // ... and so does an exhausted total-round budget
    intercept[IllegalStateException] {
      GraphAlgorithms.stronglyConnectedComponents(g, "SE2", maxRounds = 2)
    }
    graft.pipeline.PipelineCaches.clear()
  }

  private def louvainSession(edges: Seq[(Long, Long)], n: Long): GraftSession = {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("lvn", (1L to n).map(i => (i, s"v$i")).toDF("id", "name"))
    g.registerTable("LVE", edges.toDF("from_LV", "to_LV"))
    g.registerNode("LV", "lvn", "id")
    g.registerRel("LVE", "LVE", "LV", "LV")
    g
  }

  private def louvainMap(g: GraftSession, rounds: Int, levels: Int)
      : Map[Long, Long] =
    GraphAlgorithms.louvain(g, "LVE", rounds = rounds, levels = levels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("louvain: two K5s resolve to the cliques; level 2 stable") {
    val k5a = for { i <- 1L to 5L; j <- (i + 1) to 5L } yield (i, j)
    val k5b = for { i <- 6L to 10L; j <- (i + 1) to 10L } yield (i, j)
    val g = louvainSession(k5a ++ k5b :+ (5L -> 6L), 10)
    val l1 = louvainMap(g, rounds = 4, levels = 1)
    assert(l1 == ((1L to 5L).map(_ -> 1L) ++ (6L to 10L).map(_ -> 7L)).toMap)
    // the partition is already optimal: contraction finds no merge
    assert(louvainMap(g, rounds = 4, levels = 2) == l1)
    graft.pipeline.PipelineCaches.clear()
  }

  test("louvain: contraction completes what short local moving leaves") {
    val k5a = for { i <- 1L to 5L; j <- (i + 1) to 5L } yield (i, j)
    val k5b = for { i <- 6L to 10L; j <- (i + 1) to 10L } yield (i, j)
    val g = louvainSession(k5a ++ k5b :+ (5L -> 6L), 10)
    // 2 rounds strand vertex 3 as a singleton inside clique A...
    val l1 = louvainMap(g, rounds = 2, levels = 1)
    assert(l1.values.toSet.size == 3)
    assert(l1(3L) == 3L && l1(1L) == 1L)
    // ...and the level-2 contraction (weighted super-edges + self-loops)
    // merges the stranded super-node back into its clique
    val l2 = louvainMap(g, rounds = 2, levels = 2)
    assert(l2 == ((1L to 5L).map(_ -> 3L) ++ (6L to 10L).map(_ -> 7L)).toMap)
    graft.pipeline.PipelineCaches.clear()
  }

  test("louvain: bit staggering breaks the 4-cycle oscillation") {
    // duplicate + reversed edges must collapse into the simple square
    val g = louvainSession(
      Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 4L, 4L -> 3L, 1L -> 4L), 4)
    // plain synchronous argmax 2-colors a square forever; staggered
    // rounds settle on the (equal-modularity) opposite-edge split
    assert(louvainMap(g, rounds = 4, levels = 1) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    graft.pipeline.PipelineCaches.clear()
  }

  test("louvain: hexagon level 2 keeps the optimal two-arc split") {
    val g = louvainSession(
      Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L, 1L -> 6L), 6)
    val l2 = louvainMap(g, rounds = 4, levels = 2)
    assert(l2 == Map(1L -> 1L, 2L -> 1L, 6L -> 1L, 3L -> 3L, 4L -> 3L,
      5L -> 3L))
    graft.pipeline.PipelineCaches.clear()
  }
}
