package graft.graph

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.GraftSession

/** Whole-graph analytics over catalog relationships — the complement to
  * the per-query traversal engine (SURVEY.md §1.3: edge-list DataFrames
  * double as RDD input when global algorithms are wanted; the reference
  * has no equivalent — ClickHouse can't iterate).
  *
  * Iterative algorithms run on one of two substrates:
  *  - GraphX Pregel / `aggregateMessages` (components, PageRank variants,
  *    shortest paths, HITS, eigenvector centrality, label propagation).
  *    EdgePartition2D keeps the replication factor at O(sqrt(numParts)).
  *  - RDD rounds (SCC, k-core, core numbers, Brandes betweenness,
  *    Louvain): each round is one join of vertex state with messages plus
  *    one group-by over co-partitioned RDDs (the Pregelix superstep). Every
  *    such loop persists through [[persist]] and sizes its partitions with
  *    [[partitioner]].
  *
  * Single-pass algorithms (clustering coefficient, link features,
  * modularity, assortativity, walks) stay plain DataFrame plans. Vertices
  * come from the node tables where a vertex universe matters, so isolated
  * nodes keep their identity in component/rank outputs.
  */
object GraphAlgorithms {

  /** The simple undirected graph of `relLabel`: `edgePred` applied first,
    * endpoints cast to long, self-loops dropped, each edge once as
    * (a, b) with a < b. */
  private def simpleEdges(gs: GraftSession, relLabel: String,
      edgePred: Option[Column]): DataFrame = {
    val r = gs.catalog.rel(relLabel)
    edgePred.foldLeft(gs.table(r.tableName))(_ filter _)
      .select(col(r.fromColumn).cast("long").as("a"),
        col(r.toColumn).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
  }

  /** Persist one RDD of a round loop: MEMORY_AND_DISK, registered for
    * [[graft.pipeline.PipelineCaches.clear]], and marked for
    * `localCheckpoint`, so the first job that materializes it also cuts
    * its lineage. Without the cut a loop's dependency chain grows round
    * over round even though every hop is cached, and Java task
    * serialization walks that chain — a few hundred rounds die in
    * StackOverflowError at stage submission (observed on coreNumbers over
    * the sf0.01 PLACED probe graph).
    *
    * The trade: once materialized, the RDD cannot be recomputed, so a loop
    * may unpersist it only after everything that reads it is materialized
    * too. MEMORY_AND_DISK keeps a disk copy per executor, and the loops
    * re-run from the query on failure. */
  private def persist[T](x: RDD[T]): RDD[T] = {
    val p = x.persist(StorageLevel.MEMORY_AND_DISK)
    p.localCheckpoint()
    graft.pipeline.PipelineCaches.onClear(p)(_.unpersist(blocking = false))
    p
  }

  /** Partitioner of a round loop, sized from the data: one partition per
    * ~50k edges, at most max(defaultParallelism / 2, 4). Each round
    * schedules tasks per partition over several stages, so a core-derived
    * count (16 partitions under a 25-vertex fixture) paid ~10× pure
    * scheduling overhead per round; the cap is the old core-derived
    * count. */
  private def partitioner(sc: SparkContext, edgeCount: Long): HashPartitioner =
    new HashPartitioner(math.min(math.max(sc.defaultParallelism / 2, 4).toLong,
      edgeCount / 50000L + 1L).toInt)

  /** Edge RDD of a registered relationship (weight 1.0). */
  def edges(gs: GraftSession, relLabel: String): RDD[Edge[Double]] = {
    val r = gs.catalog.rel(relLabel)
    gs.table(r.tableName)
      .select(col(r.fromColumn).cast("long"), col(r.toColumn).cast("long"))
      .rdd.map(row => Edge(row.getLong(0), row.getLong(1), 1.0))
  }

  /** Vertex RDD = union of both endpoint node tables' id columns. */
  def vertices(gs: GraftSession, relLabel: String): RDD[(VertexId, Unit)] = {
    val r = gs.catalog.rel(relLabel)
    val ids = Seq(r.fromLabel, r.toLabel).distinct.map { label =>
      val n = gs.catalog.node(label)
      gs.table(n.tableName).select(col(n.idColumn).cast("long"))
    }.reduce(_ union _).distinct()
    ids.rdd.map(row => (row.getLong(0), ()))
  }

  /** Advance a fixed-iteration `aggregateMessages` loop one round:
    * cache and MATERIALIZE the new graph's vertices AND edges before
    * unpersisting the old one. `outerJoinVertices` derives the new edge
    * partitions from the old graph's, so dropping the old blocks first
    * leaves the new round holding bare lineage — every later action then
    * silently replays all prior rounds (O(iters²) recompute; the same
    * reason Pregel persists the new graph via its checkpointer before
    * `prevG.unpersist`). The extra `edges.count()` per round is the
    * vertex-shipping job the next round's `aggregateMessages` would run
    * anyway — forced here so it lands in cache while its inputs live. */
  private def advance[VD: scala.reflect.ClassTag, ED](
      old: Graph[VD, ED], next: Graph[VD, ED]): Graph[VD, ED] = {
    next.cache()
    next.vertices.count()
    next.edges.count()
    old.unpersistVertices(blocking = false)
    old.edges.unpersist(blocking = false)
    next
  }

  def graph(gs: GraftSession, relLabel: String): Graph[Unit, Double] = {
    // Pregel truncates its per-superstep lineage only when BOTH
    // spark.graphx.pregel.checkpointInterval is set (session builders
    // set 10) AND a checkpoint directory exists — PeriodicCheckpointer
    // silently skips without one, and a high-diameter graph then grows
    // an unbounded chain (see stronglyConnectedComponents). Every GraphX
    // op flows through here, so this is the one place to guarantee it.
    val sc = gs.spark.sparkContext
    if (sc.getCheckpointDir.isEmpty &&
        sc.getConf.getInt("spark.graphx.pregel.checkpointInterval", -1) > 0)
      sc.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
    tracked(Graph(vertices(gs, relLabel), edges(gs, relLabel), (),
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK))
  }

  /** GraphX caches vertex/edge RDDs internally and never frees them on its
    * own; register every graph with the pipeline cache registry so
    * repeated jobs in one JVM (Bench iterations, a long-lived server)
    * don't accumulate dead blocks until live caches get evicted. */
  private def tracked[A <: Graph[_, _]](g: A): A = {
    graft.pipeline.PipelineCaches.onClear(g)(_.unpersist(blocking = false))
    g
  }

  /** Connected components (undirected reachability); component id = the
    * minimum vertex id in the component. Returns (id, component). */
  def connectedComponents(gs: GraftSession, relLabel: String): DataFrame = {
    val spark = gs.spark
    import spark.implicits._
    tracked(graph(gs, relLabel).connectedComponents())
      .vertices.map { case (id, comp) => (id, comp) }
      .toDF("id", "component")
  }

  /** Strongly connected components of the DIRECTED graph; component id
    * = the minimum vertex id in the SCC, so the output convention
    * matches [[connectedComponents]]. `numIter` bounds the outer peel
    * loop — each iteration finalizes every source-SCC of the remaining
    * condensation, so it must cover the condensation's source-chain
    * depth, not the diameter. Isolated vertices (in the node tables but
    * no edges) are their own SCC, as in [[connectedComponents]].
    * Returns (id, component); exhausting either budget THROWS rather
    * than returning an unconverged decomposition.
    *
    * The oracle distinction this must witness: over a graph whose
    * regions are directed rings joined by ONE-WAY bridges, undirected
    * reachability is a single component while SCCs keep one component
    * per ring — mutual reachability only. */
  /** Spark-rounds the last [[stronglyConnectedComponents]] call executed
    * (trim + color + mark rounds summed) — test probe. */
  private[graft] val lastSccRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  def stronglyConnectedComponents(gs: GraftSession, relLabel: String,
      numIter: Int = 10, maxRounds: Int = 4000): DataFrame = {
    require(numIter >= 1, s"numIter must be >= 1, got $numIter")
    // DataFrame in, RDD rounds inside, DataFrame out — the same substrate
    // split the repo settled for HITS/PageRank: an SCC round is CHEAP
    // (one tiny join or two), and a Catalyst round costs ~100 ms of
    // planning/stage overhead regardless of data size, while an RDD
    // round is a plain ~20 ms job. GraphX's own stronglyConnectedComponents
    // is NOT usable: it chains Graph lineage across its hand-rolled trim
    // loop and Pregel runs without truncating, and on a high-diameter
    // graph dies in StackOverflowError at task (de)serialization ~140k
    // stages in (observed on the sf0.1 PLACED probe). Here every loop
    // RDD goes through [[persist]] (lineage cut once materialized) and
    // the predecessor is released — depth costs time, not stack.
    //
    // Algorithm (Orzan-style), per outer iteration:
    //   trim:  drop vertices with no in- or no out-edge to fixpoint —
    //          singleton SCCs (own id via the final fallback join)
    //   color: forward-min to fixpoint; a root (c(v) = v) is the
    //          minimum of its SCC
    //   mark:  backward reach from roots within the root's color =
    //          exactly the root's SCC; assign component = root, remove,
    //          re-trim, repeat. Each outer iteration finalizes every
    //          source-SCC of the remaining condensation, so `numIter`
    //          covers the condensation source-chain depth; `maxRounds`
    //          bounds total rounds. Either budget exhausting THROWS —
    //          never a silent partial decomposition.
    val r = gs.catalog.rel(relLabel)
    val spark = gs.spark
    import spark.implicits._
    var rounds = 0
    def budget(): Unit = {
      rounds += 1
      if (rounds > maxRounds) throw new IllegalStateException(
        s"stronglyConnectedComponents($relLabel) exceeded $maxRounds " +
        "rounds (trim cascade or diameter beyond budget); raise " +
        "maxRounds — refusing to return a partial decomposition")
    }
    def mat[T](x: RDD[T]): (RDD[T], Long) = {
      val p = persist(x)
      (p, p.count())
    }
    // the partitioning job re-reads the count job's distinct shuffle
    // output (same RDD, so its map stage is skipped)
    val e0raw = gs.table(r.tableName)
      .select(col(r.fromColumn).cast("long").as("s"),
        col(r.toColumn).cast("long").as("d"))
      .distinct()
      .as[(Long, Long)].rdd
    val part = partitioner(spark.sparkContext, e0raw.count())
    val parts = part.numPartitions
    var (edges, edgeCount) = mat(e0raw.partitionBy(part))
    def trimToFixpoint(): Unit = {
      var stable = edgeCount == 0
      while (!stable) {
        budget()
        val keep = edges.keys.distinct(parts).map((_, ()))
          .join(edges.values.distinct(parts).map((_, ())), part)
          .mapValues(_ => ())
        // keep = src ∩ dst id sets; vertices outside lose all edges
        val kept = edges.join(keep, part)
          .map { case (s, ((d), _)) => (d, s) }
          .join(keep, part)
          .map { case (d, (s, _)) => (s, d) }
          .partitionBy(part)
        val (p, n) = mat(kept)
        stable = n == edgeCount
        edges.unpersist(blocking = false)
        edges = p; edgeCount = n
      }
    }
    val assigned = scala.collection.mutable.ArrayBuffer[RDD[(Long, Long)]]()
    trimToFixpoint()
    var outer = 0
    while (edgeCount > 0) {
      if (outer >= numIter) throw new IllegalStateException(
        s"stronglyConnectedComponents($relLabel) did not finish within " +
        s"numIter = $numIter outer iterations (condensation chain deeper " +
        "than the budget); raise numIter")
      // ---- forward-min coloring to fixpoint --------------------------
      val verts = persist(edges.flatMap { case (s, d) => Iterator(s, d) }
        .distinct(parts).map(v => (v, v)).partitionBy(part))
      var color = verts
      // the fold below is the materializing action for verts too — a
      // separate count() was one redundant job per outer iteration
      var colorTotal = color.values.fold(0L)(_ + _)
      var stable = false
      while (!stable) {
        budget()
        val msgs = edges.join(color, part)
          .map { case (_, (d, c)) => (d, c) }
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        val next = color.leftOuterJoin(msgs, part)
          .mapValues { case (c, m) => math.min(c, m.getOrElse(c)) }
        // ONE action per color round (was two: a materializing count +
        // this fold — at condensation sizes the round cost IS job
        // latency). The fold both materializes the persisted round and
        // yields the fixpoint detector: colors only ever decrease under
        // the min-fold, so the value sum is stationary iff no color moved.
        val p = persist(next)
        val nextTotal = p.values.fold(0L)(_ + _)
        stable = nextTotal == colorTotal
        colorTotal = nextTotal
        if (!(color eq verts)) color.unpersist(blocking = false)
        color = p
      }
      // ---- backward confirm within color ----------------------------
      // reversed same-color edges: the mark wave cannot cross colors
      val backEdges = persist(edges.join(color, part)
        .map { case (s, (d, cs)) => (d, (s, cs)) }
        .join(color, part)
        .flatMap { case (d, ((s, cs), cd)) =>
          if (cs == cd) Iterator((d, s)) else Iterator.empty }
        .partitionBy(part))
      backEdges.count()
      var marked = persist(color.filter { case (v, c) => v == c })
      var markedCount = marked.count()
      stable = false
      while (!stable) {
        budget()
        val wave = backEdges.join(marked, part)
          .map { case (_, (s, c)) => (s, c) }
        val next = marked.union(wave).reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        val (p, n) = mat(next)
        stable = n == markedCount
        marked.unpersist(blocking = false)
        marked = p; markedCount = n
      }
      assigned += marked
      // remove finalized vertices' edges, re-trim, next outer iteration
      val remaining = edges
        .leftOuterJoin(marked, part)
        .flatMap { case (s, (d, m)) =>
          if (m.isEmpty) Iterator((d, s)) else Iterator.empty }
        .leftOuterJoin(marked, part)
        .flatMap { case (d, (s, m)) =>
          if (m.isEmpty) Iterator((s, d)) else Iterator.empty }
        .partitionBy(part)
      val (p, n) = mat(remaining)
      edges.unpersist(blocking = false)
      edges = p; edgeCount = n
      backEdges.unpersist(blocking = false)
      if (!(color eq verts)) color.unpersist(blocking = false)
      verts.unpersist(blocking = false)
      trimToFixpoint()
      outer += 1
    }
    lastSccRounds.set(rounds)
    // vertex universe = both endpoint node tables (isolated vertices kept,
    // matching the GraphX construction); everything not in a nontrivial
    // SCC — isolated, trimmed, or never on an edge — is its own component
    val allVerts = {
      val ids = Seq(r.fromLabel, r.toLabel).distinct.map { label =>
        val n = gs.catalog.node(label)
        gs.table(n.tableName).select(col(n.idColumn).cast("long").as("id"))
      }
      ids.reduce(_ unionAll _).distinct()
    }
    val nontrivial =
      if (assigned.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("component",
              org.apache.spark.sql.types.LongType, nullable = false))))
      else spark.createDataset(
        assigned.reduce(_ union _))(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
        .toDF("id", "component")
    allVerts
      .join(nontrivial.withColumnRenamed("id", "__aid"),
        col("id") === col("__aid"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** PageRank (fixed iterations for determinism). Returns (id, rank). */
  def pageRank(gs: GraftSession, relLabel: String, iters: Int = 10,
      resetProb: Double = 0.15): DataFrame = {
    val spark = gs.spark
    import spark.implicits._
    tracked(graph(gs, relLabel).staticPageRank(iters, resetProb))
      .vertices.map { case (id, rank) => (id, rank) }
      .toDF("id", "rank")
  }

  /** Per-vertex triangle count (undirected; edges canonicalized). */
  def triangleCount(gs: GraftSession, relLabel: String): DataFrame = {
    val spark = gs.spark
    import spark.implicits._
    // triangleCount requires canonical orientation (src < dst) + dedup
    val canon = edges(gs, relLabel)
      .map(e => if (e.srcId < e.dstId) (e.srcId, e.dstId) else (e.dstId, e.srcId))
      .distinct()
      .map { case (s, d) => Edge(s, d, 1.0) }
    // track every intermediate graph: fromEdges and partitionBy each cache
    // their own vertex/edge RDDs (round-5 review — tracking only the final
    // result re-accumulated exactly the dead blocks this is meant to free)
    val base = tracked(Graph.fromEdges(canon, (),
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK))
    val part = tracked(base.partitionBy(
      org.apache.spark.graphx.PartitionStrategy.EdgePartition2D))
    tracked(part.triangleCount())
      .vertices.map { case (id, n) => (id, n.toLong) }
      .toDF("id", "triangles")
  }

  /** WEIGHTED shortest paths to landmark vertices within a hop bound:
    * min-plus (Bellman-Ford) composition over the edge list — per level,
    * one equi-join extends every known path backwards by one edge and a
    * map-side-combinable min() re-aggregates, so per-level state is
    * bounded by |V|·|landmarks| regardless of path multiplicity. Returns
    * (id, landmark, distance) for every vertex that reaches a landmark in
    * ≤ maxHops hops (landmarks at distance 0.0 from themselves).
    *
    * DataFrame-first by design (unlike the GraphX hop-count variant
    * below): each level is a plain equi-join + partial/final aggregate
    * that Catalyst broadcasts when the frontier is small and AQE
    * re-plans when it isn't — and a bounded level count keeps the
    * semantics oracle-checkable (a recursive SQL mirror terminates).
    * Negative weights are rejected (min-plus with a hop bound would
    * silently depend on the bound). */
  def weightedShortestPaths(gs: GraftSession, relLabel: String,
      weightCol: String, landmarks: Seq[Long], maxHops: Int = 10): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val r = gs.catalog.rel(relLabel)
    val e = gs.table(r.tableName).select(
      col(r.fromColumn).cast("long").as("__f"),
      col(r.toColumn).cast("long").as("__t"),
      col(weightCol).cast("double").as("__w"))
    val spark = gs.spark
    import spark.implicits._
    if (e.filter(col("__w") < 0).limit(1).count() > 0)
      throw new graft.cypher.GraftException(
        s"weightedShortestPaths: negative $weightCol weights are not " +
        "supported under a bounded hop count")

    val lm = landmarks.toDF("landmark")
    var frontier = e.join(broadcast(lm), col("__t") === col("landmark"))
      .select(col("__f").as("id"), col("landmark"), col("__w").as("dist"))
      .groupBy("id", "landmark").agg(min("dist").as("dist"))
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    for (_ <- 2 to maxHops) {
      frontier = e.join(frontier, col("__t") === col("id"))
        .select(col("__f").as("id"), col("landmark"),
          (col("__w") + col("dist")).as("dist"))
        .groupBy("id", "landmark").agg(min("dist").as("dist"))
      levels += frontier
    }
    val zero = landmarks.map(l => (l, l, 0.0)).toDF("id", "landmark", "dist")
    (levels :+ zero).reduce(_ unionByName _)
      .groupBy("id", "landmark").agg(min("dist").as("dist"))
  }

  /** Single-source-set shortest paths (hop counts) to the given landmark
    * vertices, via GraphX's Pregel-based ShortestPaths. Returns one row per
    * (vertex, landmark) pair that is reachable: (id, landmark, distance).
    * Covers the shortestPath capability the Cypher surface omits. */
  def shortestPaths(gs: GraftSession, relLabel: String,
      landmarks: Seq[Long]): DataFrame = {
    val spark = gs.spark
    import spark.implicits._
    tracked(org.apache.spark.graphx.lib.ShortestPaths
      .run(graph(gs, relLabel), landmarks))
      .vertices
      .flatMap { case (id, spmap) =>
        spmap.map { case (landmark, dist) => (id, landmark: Long, dist.toLong) }
      }
      .toDF("id", "landmark", "distance")
  }

  /** Closeness and harmonic centrality with respect to a LANDMARK set,
    * over hop-count distances ([[shortestPaths]] — GraphX Pregel):
    * harmonic(v) = Σ_{lm reached, d>0} 1/d(v, lm), closeness(v) =
    * reached_nonzero / Σ d — the landmark-sampled estimator that stands
    * in for the all-pairs definition at scale (exact over the landmark
    * set; sample more landmarks for a tighter estimate). Unreached
    * vertices are absent, matching [[shortestPaths]]. Returns
    * (id, reached, harmonic, closeness) with the float columns 6-dp
    * rounded; both are NULL when every reached landmark is the vertex
    * itself (no nonzero distances). The fractions fold in ascending
    * landmark-distance order via a sorted-collect aggregate, so the sum
    * order is deterministic and the DuckDB mirror reproduces it. */
  def closenessCentrality(gs: GraftSession, relLabel: String,
      landmarks: Seq[Long]): DataFrame = {
    require(landmarks.nonEmpty, "closenessCentrality needs >= 1 landmark")
    val sp = shortestPaths(gs, relLabel, landmarks)
      .filter(col("distance") > 0)
    sp.groupBy(col("id"))
      .agg(count(lit(1)).as("reached"),
        sum("distance").as("__sumd"),
        // deterministic fold order: sort the (distance, landmark) pairs,
        // then sum 1/d left to right
        aggregate(
          sort_array(collect_list(struct(col("distance"), col("landmark")))),
          lit(0.0),
          (acc, x) => acc + lit(1.0) / x.getField("distance")).as("__h"))
      .select(col("id"), col("reached"),
        round(col("__h"), 6).as("harmonic"),
        round(col("reached").cast("double") / col("__sumd"), 6)
          .as("closeness"))
  }

  /** Local clustering coefficient over the UNDIRECTED simple graph induced
    * by `relLabel`, optionally restricted to edges satisfying `edgePred`:
    * cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), 0.0 when deg(v) < 2.
    * Returns (id, degree, triangles, cc) with cc rounded to 6 dp for
    * cross-engine determinism.
    *
    * DataFrame-first, unlike [[triangleCount]] above: triangles enumerate
    * canonically (a<b<c, each counted once) via two equi-joins over the
    * deduped least/greatest edge set, so the operator works on any
    * edge-filtered subgraph without building a GraphX graph per filter,
    * Catalyst broadcasts the joins when the edge set is small, and AQE
    * handles skewed join keys (a hot vertex) at runtime. Per-vertex
    * counts are a union-all + one map-side-combinable aggregate. */
  def clusteringCoefficient(gs: GraftSession, relLabel: String,
      edgePred: Option[Column] = None): DataFrame = {
    // canonical undirected simple edges; read 4x below, so persist
    val canon = simpleEdges(gs, relLabel, edgePred)
      .persist(StorageLevel.MEMORY_AND_DISK)
      .transform(graft.pipeline.PipelineCaches.track)
    val deg = canon.select(col("a").as("id"))
      .unionAll(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val tri = canon.alias("e1")
      .join(canon.alias("e2"), col("e2.a") === col("e1.b"))
      .join(canon.alias("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val triCnt = tri.select(col("x").as("id"))
      .unionAll(tri.select(col("y").as("id")))
      .unionAll(tri.select(col("z").as("id")))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    deg.join(triCnt, Seq("id"), "left_outer")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("cc", when(col("degree") >= 2,
          round(lit(2.0) * col("triangles") /
            (col("degree") * (col("degree") - 1)), 6))
        .otherwise(lit(0.0)))
  }

  /** Link-prediction features for every edge of the UNDIRECTED simple
    * graph: common-neighbor count, neighborhood Jaccard
    * `|N(a)∩N(b)| / |N(a)∪N(b)|`, and Adamic-Adar
    * `Σ_{w∈N(a)∩N(b)} 1/ln(deg(w))` (6-dp rounded). Returns
    * (a, b, common, jaccard, adamic_adar) with a < b.
    *
    * Pure-join formulation — no neighbor-array materialization: common
    * neighbors enumerate as the 2-path join und⋈und (shuffle ∝ wedge
    * count, the same frontier triangle counting walks), Adamic-Adar's
    * degree lookup is an equi-join against the |V|-row degree frame
    * (broadcast when small), and edges with zero overlap come back via
    * one left join from the edge set. A common neighbor always has
    * degree ≥ 2, so 1/ln(deg) never divides by zero. */
  def linkFeatures(gs: GraftSession, relLabel: String,
      edgePred: Option[Column] = None): DataFrame = {
    val canon = simpleEdges(gs, relLabel, edgePred)
      .persist(StorageLevel.MEMORY_AND_DISK)
      .transform(graft.pipeline.PipelineCaches.track)
    val und = canon.unionAll(canon.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
    // wedge join: w is a common neighbor of (pa, pb)
    val wedges = und.select(col("a").as("pa"), col("b").as("w"))
      .join(und.select(col("a").as("pb"), col("b").as("w")), Seq("w"))
      .filter(col("pa") < col("pb"))
    // Adamic-Adar sums doubles: a grouped sum()'s addition order follows
    // the partial-aggregation combine order, so a 6-dp round at a decimal
    // boundary could flip run-to-run (and against the oracle). Fold in
    // sorted order instead — deterministic on both sides; per-pair
    // common-neighbor counts bound the collected list.
    val overlap = wedges
      .join(deg.withColumnRenamed("id", "w"), Seq("w"))
      .groupBy(col("pa").as("a"), col("pb").as("b"))
      .agg(count(lit(1)).as("common"),
        aggregate(
          sort_array(collect_list(lit(1.0) / log(col("deg").cast("double")))),
          lit(0.0), (acc, x) => acc + x).as("__aa"))
    canon
      .join(overlap, Seq("a", "b"), "left_outer")
      .join(deg.select(col("id").as("a"), col("deg").as("__da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("__db")), Seq("b"))
      .select(col("a"), col("b"),
        coalesce(col("common"), lit(0L)).as("common"),
        round(coalesce(col("common"), lit(0L)).cast("double") /
          (col("__da") + col("__db") - coalesce(col("common"), lit(0L))), 6)
          .as("jaccard"),
        round(coalesce(col("__aa"), lit(0.0)), 6).as("adamic_adar"))
  }

  /** Synchronous label propagation (community detection) over the
    * UNDIRECTED simple graph: labels start as vertex ids; each of the
    * `iters` fixed rounds every vertex adopts its neighbors' most
    * frequent label (ties → smallest label). Vertices with no edges are
    * absent — the edge list defines the graph, as in
    * [[clusteringCoefficient]]. Fixed iteration count + deterministic
    * tie-break =
    * SQL-mirrorable, unlike GraphX's LPA whose tie order is map-internal.
    * Returns (id, label).
    *
    * Scale shape per round: one equi-join of the edge list against the
    * |V|-row label frame and ONE map-side-combinable aggregate —
    * `mode(label, deterministic = true)` is exactly the (count DESC,
    * label ASC) argmax, so there is no per-vertex window/sort and, since
    * the symmetric edge list defines the vertex set (every vertex has a
    * neighbor row), no join-back/coalesce either. The cached edge frame
    * is hash-partitioned on the join key once, so rounds re-shuffle only
    * the |V|-row label frame, not |E|. Each round's labels are persisted
    * AND materialized eagerly (the prior round's cache is dropped right
    * after) so lineage never stacks k rounds deep in the block manager.
    *
    * `untilStable = true` stops early once a round changes no label
    * (checked with one |V|-row count against the previous frame);
    * `iters` then bounds the worst case. */
  def labelPropagation(gs: GraftSession, relLabel: String, iters: Int = 5,
      edgePred: Option[Column] = None, untilStable: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val canon = simpleEdges(gs, relLabel, edgePred)
    // GraphX aggregateMessages rounds (the g_wpagerank/g_ppr move: the
    // DataFrame form re-planned join+mode+persist per round, and on a
    // real cluster re-shuffled the symmetric edge list each time; here
    // the partitioning is built once and each synchronous round is one
    // message pass). Messages carry per-label neighbor counts; the
    // vertex update is max-count with MIN-LABEL ties — exactly
    // `mode(label, deterministic = true)` of the neighbor multiset over
    // the simple undirected graph, so the unrolled-CTE oracle is
    // unchanged. Message size is bounded by the vertex's distinct
    // neighbor labels (≤ degree), the same payload the DataFrame round
    // shuffled as rows.
    val spark = gs.spark
    import spark.implicits._
    import org.apache.spark.graphx.{Edge, Graph}
    val edgeRdd = canon.rdd.map(row => Edge(row.getLong(0), row.getLong(1), ()))
    var g = tracked(Graph.fromEdges(edgeRdd, (),
        StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
      .mapVertices((id, _) => id))
    g.cache()
    g.vertices.count()
    var i = 0
    var stable = false
    while (i < iters && !stable) {
      // messages are PRIMITIVE label arrays, never maps: per-edge boxed-
      // map allocation is a linear cost that erased the port's win at
      // PLACED scale. The encoding is an RLE prefix of sorted
      // (label, count) pairs plus an amortized in-place raw tail (see
      // [[lpMsg]]/[[lpMergeMsgs]]), so a hub vertex's reduced message is
      // O(distinct neighbor labels) — which converges toward
      // O(#communities) as rounds proceed — NOT O(degree), and the
      // combiner fold at a 10⁷-degree power-law hub at 100× data neither
      // materializes a degree-sized multiset (the r13 verdict's one
      // scale flag) nor pays degree² reallocation.
      val msgs = g.aggregateMessages[Array[Long]](
        ctx => {
          ctx.sendToDst(lpMsg(ctx.srcAttr))
          ctx.sendToSrc(lpMsg(ctx.dstAttr))
        },
        lpMergeMsgs)
      val g2 = tracked(g.outerJoinVertices(msgs)((_, old, m) =>
        m.map(lpMode).getOrElse(old)))
      g2.cache()
      g2.vertices.count()
      if (untilStable)
        stable = g.vertices.join(g2.vertices)
          .filter { case (_, (a, b)) => a != b }.isEmpty()
      g.unpersistVertices(blocking = false)
      g.edges.unpersist(blocking = false)
      g = g2
      i += 1
    }
    lastLabelPropRounds.set(i)
    g.vertices.map { case (id, l) => (id, l) }.toDF("id", "label")
  }

  /** Tail-flush floor for label-prop messages: an unsorted raw tail is
    * allowed to grow to max(LpRawCap, rle-prefix length) before it is
    * sorted and folded into the run-length prefix — the standard
    * geometric amortization, so a fold of n single-label messages costs
    * O(n log n) total instead of the O(n²) of per-merge reallocation. */
  private[graft] val LpRawCap = 128

  /** Largest raw-only message that merges by in-place tail append rather
    * than a full two-pointer pair merge. Per-edge messages (1 label) are
    * always on this path. */
  private[graft] val LpTinyCap = 32

  /** Label-prop message layout, one primitive Array[Long]:
    * `[rleUsed, tailUsed, rlePairs…, tailLabels…, slack…]` — slot 0
    * counts the longs in the label-sorted (label, count) run-length
    * prefix, slot 1 the raw labels in the unsorted tail; anything past
    * `2 + rleUsed + tailUsed` is spare capacity from doubling growth.
    * A reduced message is therefore O(distinct neighbor labels) + a
    * bounded tail — which converges toward O(#communities) as rounds
    * proceed — NOT O(degree), and tiny merges mutate the big side's tail
    * in place (safe: GraphX's per-slot aggregation owns the left operand),
    * so hub vertices neither materialize degree-sized multisets nor churn
    * degree² allocation in the combiner fold. */
  private[graft] def lpMsg(label: Long): Array[Long] = Array(0L, 1L, label)

  /** Exact normal form `[R, 0, sorted (label,count) pairs]` of a message:
    * sorts the raw tail, run-length encodes it, and key-merges it into
    * the existing prefix. Identity (no copy) when already normalized. */
  private[graft] def lpNormalize(m: Array[Long]): Array[Long] = {
    val r = m(0).toInt; val t = m(1).toInt
    if (t == 0)
      return if (m.length == 2 + r) m else java.util.Arrays.copyOf(m, 2 + r)
    val tail = java.util.Arrays.copyOfRange(m, 2 + r, 2 + r + t)
    java.util.Arrays.sort(tail)
    val out = new Array[Long](2 + r + 2 * t)
    var i = 2; var ti = 0; var k = 2
    val rEnd = 2 + r
    while (i < rEnd || ti < t) {
      if (ti >= t) { out(k) = m(i); out(k + 1) = m(i + 1); i += 2; k += 2 }
      else {
        val lab = tail(ti)
        if (i < rEnd && m(i) < lab) {
          out(k) = m(i); out(k + 1) = m(i + 1); i += 2; k += 2
        } else {
          var tj = ti; while (tj < t && tail(tj) == lab) tj += 1
          var c = (tj - ti).toLong
          if (i < rEnd && m(i) == lab) { c += m(i + 1); i += 2 }
          out(k) = lab; out(k + 1) = c; ti = tj; k += 2
        }
      }
    }
    out(0) = (k - 2).toLong; out(1) = 0L
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  /** Commutative/associative merge. A tiny raw message appends into the
    * bigger side's tail in place (amortized O(1): capacity doubles, and
    * the tail flushes into the RLE prefix only once it outgrows
    * max([[LpRawCap]], prefix length)); two substantial messages
    * normalize and key-merge their sorted pair runs in O(n + m). */
  private[graft] def lpMergeMsgs(a0: Array[Long], b0: Array[Long]): Array[Long] = {
    var a = a0; var b = b0
    if (a(0) + a(1) < b(0) + b(1)) { val t = a; a = b; b = t }
    if (b(0) == 0L && b(1) <= LpTinyCap) {
      val r = a(0).toInt; var t = a(1).toInt; val add = b(1).toInt
      if (2 + r + t + add > a.length)
        a = java.util.Arrays.copyOf(a,
          math.max(2 + r + (t + add) * 2, a.length * 2))
      System.arraycopy(b, 2, a, 2 + r + t, add)
      t += add; a(1) = t.toLong
      if (t >= math.max(LpRawCap, r)) lpNormalize(a) else a
    } else {
      val na = lpNormalize(a); val nb = lpNormalize(b)
      val out = new Array[Long](2 + na(0).toInt + nb(0).toInt)
      var i = 2; var j = 2; var k = 2
      val ia = 2 + na(0).toInt; val jb = 2 + nb(0).toInt
      while (i < ia && j < jb) {
        if (na(i) == nb(j)) {
          out(k) = na(i); out(k + 1) = na(i + 1) + nb(j + 1); i += 2; j += 2
        } else if (na(i) < nb(j)) {
          out(k) = na(i); out(k + 1) = na(i + 1); i += 2
        } else {
          out(k) = nb(j); out(k + 1) = nb(j + 1); j += 2
        }
        k += 2
      }
      while (i < ia) { out(k) = na(i); out(k + 1) = na(i + 1); i += 2; k += 2 }
      while (j < jb) { out(k) = nb(j); out(k + 1) = nb(j + 1); j += 2; k += 2 }
      out(0) = (k - 2).toLong; out(1) = 0L
      if (k == out.length) out else java.util.Arrays.copyOf(out, k)
    }
  }

  /** Mode of a message with the MIN-LABEL tie — exactly
    * `mode(label, deterministic = true)` of the neighbor multiset: the
    * normalized pairs are label-sorted, so a strict count comparison
    * keeps the smallest label among the maxima. */
  private[graft] def lpMode(m: Array[Long]): Long = {
    val n = lpNormalize(m)
    var best = n(2); var bestC = 0L
    var i = 2; val e = 2 + n(0).toInt
    while (i < e) {
      if (n(i + 1) > bestC) { best = n(i); bestC = n(i + 1) }
      i += 2
    }
    best
  }

  /** Rounds the last [[labelPropagation]] call executed — test probe for
    * the `untilStable` early stop. */
  private[graft] val lastLabelPropRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Peel rounds the last [[kCore]] call executed — test probe for the
    * converged-early exit. */
  private[graft] val lastKCoreRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** k-core of the UNDIRECTED simple graph induced by `relLabel`
    * (optionally edge-filtered): repeatedly delete vertices of degree < k
    * until none remain, up to `maxRounds` peel rounds. Returns
    * (id, degree) over the surviving subgraph — peeling is monotone and
    * idempotent once converged, so "exactly maxRounds rounds" and
    * "converged" coincide whenever maxRounds covers convergence (the spec
    * pins a converging case; [[lastKCoreRounds]] exposes the count), and
    * the early exit when a round deletes nothing is an optimization, not
    * a semantic change — which keeps the unrolled-CTE DuckDB mirror exact.
    *
    * Scale shape: RDD rounds over adjacency lists hash-partitioned once by
    * vertex, so a vertex's degree is its list length — partition-local, no
    * shuffle. Each round the vertices below k drop out and tell their
    * neighbours through one shuffle sized by the removed vertices' degrees
    * (the frontier — the delta shape of [[coreNumbers]]); the receiving
    * partition filters them out of its lists. One action per round both
    * materializes the round and detects the fixpoint: the surviving edge
    * total only shrinks, so it is unchanged iff the round removed nothing. */
  def kCore(gs: GraftSession, relLabel: String, k: Int, maxRounds: Int = 20,
      edgePred: Option[Column] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = gs.spark
    import spark.implicits._
    val canon = simpleEdges(gs, relLabel, edgePred).as[(Long, Long)].rdd
    var total = 2 * canon.count()
    val part = partitioner(spark.sparkContext, total)
    // the first round's job materializes the adjacency lists
    var adj = persist(canon.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .groupByKey(part).mapValues(_.toArray))
    var rounds = 0
    var stable = total == 0
    while (rounds < maxRounds && !stable) {
      val removed = adj.flatMap { case (v, ns) =>
          if (ns.length < k) ns.iterator.map(u => (u, v)) else Iterator.empty }
        .partitionBy(part)
      // preservesPartitioning = true: the survivors stay on `part`
      val next = persist(adj.zipPartitions(removed, true) { (aIt, rIt) =>
        val gone = new java.util.HashMap[Long, java.util.HashSet[Long]]()
        rIt.foreach { case (u, v) =>
          gone.computeIfAbsent(u, _ => new java.util.HashSet[Long]()).add(v) }
        aIt.flatMap { case (v, ns) =>
          val g = gone.get(v)
          val kept =
            if (ns.length < k) Array.emptyLongArray
            else if (g == null) ns
            else ns.filterNot(u => g.contains(u))
          if (kept.isEmpty) Iterator.empty else Iterator((v, kept))
        }
      })
      val nextTotal = next.map(_._2.length.toLong).fold(0L)(_ + _)
      stable = nextTotal == total
      adj.unpersist(blocking = false)
      adj = next; total = nextTotal
      rounds += 1
    }
    lastKCoreRounds.set(rounds)
    adj.map { case (v, ns) => (v, ns.length.toLong) }.toDF("id", "degree")
  }

  /** Rounds the last [[coreNumbers]] call executed — test probe for the
    * h-index refinement's convergence count. */
  private[graft] val lastCorenessRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Full core decomposition: coreness(v) = the largest k such that v
    * belongs to the k-core, capped at `maxK` (vertices whose true
    * coreness exceeds maxK report maxK). Vertices absent from the edge
    * list are absent (edge-defined, like [[kCore]]). Returns
    * (id, coreness).
    *
    * Algorithm: distributed h-index refinement (Montresor, De Pellegrini,
    * Miorandi, "Distributed k-core decomposition", 2011; also Lü et al.
    * 2016): start every vertex at c₀(v) = min(deg v, maxK) and repeat
    * c(v) ← min(c(v), H{c(u) : u ∈ N(v)}), where H is the h-index — the
    * largest t with ≥ t neighbors whose value is ≥ t. The sequence is
    * monotone non-increasing and its fixpoint is exactly the coreness.
    * One loop computes EVERY k simultaneously — unlike per-k peeling,
    * whose k=2 pass alone needs one synchronous round per layer of a
    * chain cascade (the previous implementation capped those rounds and
    * silently mis-assigned coreness past the cap; this one converges or
    * throws).
    *
    * Substrate (round 14): DataFrame in, partitioned-RDD rounds inside,
    * DataFrame out — the same split as [[stronglyConnectedComponents]].
    * The r12/r13 DataFrame loop was already a delta iteration, but wall
    * clock was ROUND-COUNT-dominated: ~0.5–0.65 s of Catalyst planning /
    * stage scheduling per round regardless of data size, × a cascade
    * depth that GROWS on high-diameter graphs (273 rounds → 164–202 s on
    * the sf0.1 PLACED probe). An RDD round is a plain ~20 ms job.
    *
    * State: each vertex keeps (c, HISTOGRAM of its neighbors' values
    * capped at maxK) — maxK+1 longs, the Montresor "estimate cache"
    * collapsed to the only statistic the h-index needs. A changed vertex
    * sends its (old, new) pair to its neighbors; deltas combine into a
    * bounded maxK+1 histogram per receiver (map-side combinable, so a
    * billion-degree hub's incoming deltas reduce before the shuffle),
    * and the receiver recomputes h from the patched histogram in O(maxK)
    * with NO re-scan of its edges. Per round the shuffle volume is
    * frontier-proportional; edges never re-shuffle (hash-co-partitioned
    * with the frontier once); the state pass is O(|V|/parts) per
    * partition. Values are integers that never increase, so an empty
    * frontier ⟺ fixpoint. Each burst's last state is lineage-truncated
    * ([[persist]]), so deep cascades cost time, not stack. */
  def coreNumbers(gs: GraftSession, relLabel: String, maxK: Int = 64,
      maxRounds: Int = 500, edgePred: Option[Column] = None): DataFrame = {
    require(maxK >= 1, s"maxK must be >= 1, got $maxK")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = gs.spark
    import spark.implicits._
    val canon = simpleEdges(gs, relLabel, edgePred).as[(Long, Long)].rdd
    val part = partitioner(spark.sparkContext, 2 * canon.count())
    val K = maxK
    // largest t in 0..K with (count of neighbor values >= t) >= t: one
    // descending pass accumulating the suffix sum of the capped histogram
    def hIndexOf(hist: Array[Long]): Long = {
      var s = 0L; var t = K
      while (t >= 1) {
        s += hist(t)
        if (s >= t) return t.toLong
        t -= 1
      }
      0L
    }
    def cap(c: Long): Int = if (c >= K) K else c.toInt
    // symmetric edge list, hash-partitioned ONCE on the source vertex —
    // every later frontier join and delta shuffle reuses this partitioner
    val edges = persist(canon
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part))
    // c0 = min(degree, maxK); initial neighbor-value histograms in one
    // |E| pass (the only full-edge aggregate of the run), map-side
    // combined so hub in-deltas reduce before the shuffle
    val c0 = persist(edges.mapValues(_ => 1L).reduceByKey(part, _ + _)
      .mapValues(d => math.min(d, K.toLong)))
    val hist0 = edges.join(c0)
      .map { case (_, (b, ca)) => (b, cap(ca)) }
      .aggregateByKey(null: Array[Long], part)(
        (h, v) => { val a = if (h == null) new Array[Long](K + 1) else h
          a(v) += 1; a },
        (x, y) => { var i = 0; while (i <= K) { x(i) += y(i); i += 1 }; x })
    // state: (id, (c, prevRoundC, neighborHistogram)); prev > c marks the
    // vertex as this round's frontier. The init sweep is round 1.
    var state = persist(c0.join(hist0).mapValues { case (c, h) =>
      (math.min(c, hIndexOf(h)), c, h) })
    var frontierCount =
      state.filter { case (_, (c, prev, _)) => prev > c }.count()
    var round = 1
    // BURST execution: rounds are built lazily (each round's state still
    // persists — the diamond of frontier + join consumers would otherwise
    // recompute exponentially) and only every CheckEvery-th round runs a
    // materializing convergence count. One Spark JOB then executes a
    // whole burst as a chain of tiny shuffle stages, so the per-round
    // job-submission barrier (the dominant cost on cascade-deep graphs —
    // each round's data is a layer, not the graph) is paid once per
    // burst. Overshoot past the fixpoint is at most CheckEvery-1 rounds
    // of empty-frontier stages.
    val CheckEvery = 8
    val pending = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    while (frontierCount > 0 && round < maxRounds) {
      var b = math.min(CheckEvery, maxRounds - round)
      while (b > 0) {
        // DELTA round, all co-partitioned on `part` (edges never move):
        // changed vertices broadcast (old, new) along their edges; deltas
        // combine into one bounded K+1 histogram patch per receiver; the
        // receiver recomputes h in O(K) from its patched histogram —
        // shuffle volume ∝ frontier edges, never rounds × |E|.
        val frontier = state
          .filter { case (_, (c, prev, _)) => prev > c }
          .mapValues { case (c, prev, _) => (prev, c) }
        // zipPartitions, not RDD join: both sides share `part`, so this
        // hashes only the (tiny) frontier side and STREAMS the edge
        // partition past it — an RDD join would cogroup-buffer the full
        // edge partition every round. Partitions whose frontier slice is
        // empty skip their edge scan outright, which on a cascade-deep
        // tail (hundreds of rounds, a handful of changed vertices each)
        // removes almost all per-round edge work.
        val deltas = edges.zipPartitions(frontier) { (eIt, fIt) =>
          val fm = new java.util.HashMap[Long, (Long, Long)]()
          fIt.foreach { case (id, on) => fm.put(id, on) }
          if (fm.isEmpty) Iterator.empty
          else eIt.flatMap { case (a, b) =>
            val on = fm.get(a)
            if (on == null) Iterator.empty
            else Iterator((b, (cap(on._1), cap(on._2))))
          }
        }
          .aggregateByKey(null: Array[Long], part)(
            (h, d) => { val a = if (h == null) new Array[Long](K + 1) else h
              a(d._1) -= 1; a(d._2) += 1; a },
            (x, y) => { var i = 0; while (i <= K) { x(i) += y(i); i += 1 }
              x })
        // copy-on-write: untouched vertices carry their histogram
        // REFERENCE forward (no |V|-sized allocation per round); patched
        // ones copy — mutating in place would corrupt the previous
        // round's cached blocks
        val next = persist(state.leftOuterJoin(deltas).mapValues {
          case ((c, _, h), None) => (c, c, h)
          case ((c, _, h), Some(d)) =>
            val h2 = java.util.Arrays.copyOf(h, K + 1)
            var i = 0
            while (i <= K) { h2(i) += d(i); i += 1 }
            (math.min(c, hIndexOf(h2)), c, h2)
        })
        pending += state
        state = next
        round += 1; b -= 1
      }
      // one convergence job per burst; it also cuts the burst's lineage
      // at its last state (every earlier state is released below)
      frontierCount = state.filter { case (_, (c, p, _)) => p > c }.count()
      pending.foreach(_.unpersist(blocking = false))
      pending.clear()
    }
    lastCorenessRounds.set(round)
    if (frontierCount > 0)
      throw new IllegalStateException(
        s"coreNumbers($relLabel) did not converge within $maxRounds " +
        s"rounds (cascade depth exceeds the budget); raise maxRounds — " +
        s"refusing to return a partially-refined decomposition")
    state.map { case (id, (c, _, _)) => (id, c) }.toDF("id", "coreness")
  }

  /** HITS hubs/authorities over the DIRECTED simple graph induced by
    * `relLabel` (optionally edge-filtered), fixed `iters` rounds with
    * L1 (sum-to-1) normalization each half-step — fixed iteration count
    * + explicit normalization order = SQL-mirrorable, like [[pageRank]]'s
    * unrolled oracle. The vertex set is edge-list-defined (endpoints of
    * surviving edges); isolated vertices are absent, as in
    * [[labelPropagation]]. Returns (id, hub, authority) rounded to 6 dp —
    * the ~1e-15 float-sum-order noise sits nine orders below the quantum.
    *
    * Runs on GraphX `aggregateMessages` like [[pageRank]]: a round-based
    * algorithm wants RDD rounds, not DataFrame rounds — a Catalyst plan
    * per round pays planning + codegen + shuffle-stage overhead 2·iters
    * times (measured 4–7 s for this 25-vertex gate either way: per-round
    * materialization AND one unrolled 40-stage AQE plan), while a Pregel
    * loop's per-round RDD job is ~20 ms. The iteration runs UNNORMALIZED —
    * L1 normalization commutes with the linear maps (each round divides
    * every entry by one scalar), so normalizing once at the end yields
    * identical values with one message pass per half-step. Overflow
    * bound: entries grow by at most (max in-degree × max out-degree) per
    * round, so doubles are safe while iters·log2(growth/round) < 1024 —
    * e.g. 25+ rounds at degree 10^6, the reachable regime for ranking.
    * Per round the graph is materialized and its predecessor unpersisted
    * (the Pregel discipline), keeping lineage depth constant. */
  def hits(gs: GraftSession, relLabel: String, iters: Int = 10,
      edgePred: Option[Column] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = gs.spark
    import spark.implicits._
    val r = gs.catalog.rel(relLabel)
    val base = edgePred.foldLeft(gs.table(r.tableName))(_ filter _)
    val e = base.select(col(r.fromColumn).cast("long").as("f"),
      col(r.toColumn).cast("long").as("t"))
    // loud, like weightedPageRank: a NULL (or non-castable) endpoint has
    // no vertex identity, and getLong below would NPE inside a task
    if (e.filter(col("f").isNull || col("t").isNull).limit(1).count() > 0)
      throw new graft.cypher.GraftException(
        s"hits: $relLabel edge endpoints must be non-NULL castable ids")
    val edgeRdd = e.distinct()
      .rdd.map(row => Edge(row.getLong(0), row.getLong(1), ()))
    // attr = (hub, authority); vertex set = edge endpoints, as in the
    // oracle's edge-defined v
    var g = tracked(Graph.fromEdges(edgeRdd, (1.0, 0.0),
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK))
    g.vertices.count()
    for (_ <- 1 to iters) {
      val authMsgs = g.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr._1), _ + _)
      val g1 = tracked(g.outerJoinVertices(authMsgs)(
        (_, attr, a) => (attr._1, a.getOrElse(0.0))))
      val hubMsgs = g1.aggregateMessages[Double](
        ctx => ctx.sendToSrc(ctx.dstAttr._2), _ + _)
      val g2 = tracked(g1.outerJoinVertices(hubMsgs)(
        (_, attr, h) => (h.getOrElse(0.0), attr._2)))
      g = advance(g, g2)
    }
    val scores = g.vertices
      .map { case (id, (h, a)) => (id, h, a) }
      .toDF("id", "__h", "__a")
    val tot = scores.agg(sum("__h").as("__htot"), sum("__a").as("__atot"))
    scores.crossJoin(tot)
      .select(col("id"),
        round(col("__h") / col("__htot"), 6).as("hub"),
        round(col("__a") / col("__atot"), 6).as("authority"))
  }

  /** Betweenness centrality over the UNDIRECTED simple graph via
    * multi-source Brandes (Brandes 2001): a level-synchronous forward
    * BFS counts shortest paths σ(s,v) for EVERY source in one set of
    * frames (state keyed by (source, vertex) — sources parallelize as
    * data, not loop iterations), then the backward sweep accumulates
    * pair dependencies δ_s(v) = Σ_{w∈succ} σ(s,v)/σ(s,w)·(1+δ_s(w))
    * level by level. Returns (id, betweenness) with betweenness =
    * Σ_{s∈sources} δ_s(v), 6-dp rounded; divide by 2 for the undirected
    * convention.
    *
    * SOURCE SELECTION — the 100 TB guard: with `sources` given, exactly
    * those run. With `sources = Nil` the default is a BOUNDED
    * deterministic landmark sample — the min(V, 64) lowest vertex ids —
    * because all-vertices Brandes is O(V·E): an innocuous
    * zero-argument call must not silently schedule an all-pairs job on
    * a billion-vertex graph. All-vertices exact betweenness is an
    * explicit opt-in (`exact = true`, rejected alongside a `sources`
    * list). On graphs with ≤ 64 vertices the default landmark set IS
    * every vertex, so small-graph results equal the exact form. Cost is
    * |sources| BFS+sweep passes, NOT all-pairs.
    *
    * Scale shape: RDD rounds over the symmetric edge list, partitioned
    * once. Per forward level one frontier⋈edges join + one
    * map-side-combinable σ sum + one anti-join against the settled set
    * (frontier-delta, like the shortestPath composition); per backward
    * level one succ join + one combinable δ sum. Each level runs one
    * action, and every level RDD goes through [[persist]], so lineage
    * stays one level deep. State ≤ |sources|·|V|. */
  def betweennessCentrality(gs: GraftSession, relLabel: String,
      sources: Seq[Long] = Nil, maxDepth: Int = 10,
      edgePred: Option[Column] = None, exact: Boolean = false): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    require(!(exact && sources.nonEmpty),
      "exact = true runs every vertex as a source; it cannot be combined " +
      "with an explicit sources list")
    val spark = gs.spark
    import spark.implicits._
    val canon = simpleEdges(gs, relLabel, edgePred)
    val sym = canon.unionAll(canon.select(col("b").as("a"), col("a").as("b")))
      .persist(StorageLevel.MEMORY_AND_DISK)
      .transform(graft.pipeline.PipelineCaches.track)
    val v = sym.select(col("a").as("id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
      .transform(graft.pipeline.PipelineCaches.track)
    val srcFrame =
      if (sources.nonEmpty) sources.toDF("src")
      else if (exact) v.select(col("id").as("src"))
      // default: bounded deterministic landmark sample — TakeOrdered over
      // the vertex set, never an all-vertices O(V·E) schedule by accident
      else v.orderBy(col("id")).limit(64).select(col("id").as("src"))

    // ---- RDD rounds ------------------------------------------------------
    // A per-level DataFrame plan pays Catalyst planning + codegen + stage
    // launch per level (measured r18: 2 planned jobs per forward level + 1
    // per backward level, about the whole entry cost), while an RDD round
    // costs tens of ms. The arithmetic is the DataFrame sum()'s: σ sums
    // are integer-valued doubles (exact under any combine order), δ sums
    // are unordered float adds nine orders below the 6-dp rounding
    // quantum. Every level RDD goes through [[persist]] and the
    // predecessor is released. The count also materializes `sym`'s cache,
    // the only other copy of the edge list: `symP` reads it once.
    val part = partitioner(spark.sparkContext, sym.count())
    val symP = persist(sym.as[(Long, Long)].rdd.partitionBy(part))

    // ---- forward: per-level ((src, v) -> sigma) RDDs ----------------------
    def matLevel(x: RDD[((Long, Long), Double)])
        : (RDD[((Long, Long), Double)], Long) = {
      val p = persist(x.partitionBy(part))
      (p, p.count())
    }
    val (lev0, _) = matLevel(
      srcFrame.as[Long].rdd.map(s => ((s, s), 1.0)))
    var settled = lev0
    val levels = scala.collection.mutable.ArrayBuffer(lev0)
    var frontier = lev0
    var depth = 0
    var done = false
    while (depth < maxDepth && !done) {
      val expanded = frontier
        .map { case ((src, vv), sig) => (vv, (src, sig)) }
        .join(symP, part)
        .map { case (_, ((src, sig), b)) => ((src, b), sig) }
        .reduceByKey(part, _ + _)
      val (nxt, n) = matLevel(expanded.subtractByKey(settled, part))
      if (n == 0) { nxt.unpersist(blocking = false); done = true }
      else {
        val st = persist(settled.union(nxt).partitionBy(part))
        st.count()
        // level 0 IS the first settled, which the backward sweep still
        // reads — never unpersist an RDD that lives on in `levels`
        if (!(settled eq lev0)) settled.unpersist(blocking = false)
        settled = st
        levels += nxt
        frontier = nxt
        depth += 1
      }
    }
    if (!(settled eq lev0)) settled.unpersist(blocking = false)

    // ---- backward: dependency accumulation, deepest level first ----------
    // deeper: (src, v) -> (sigma, delta)
    var deeper = persist(levels.last.mapValues(s => (s, 0.0)))
    val perSourceDeps =
      scala.collection.mutable.ArrayBuffer[RDD[(Long, Double)]]()
    if (levels.size > 1)
      perSourceDeps += deeper.map { case ((_, vv), (_, del)) => (vv, del) }
    for (l <- (levels.size - 2) to 0 by -1) {
      val cur = levels(l)
      val contrib = cur
        .map { case ((src, vv), sig) => (vv, (src, sig)) }
        .join(symP, part)
        .map { case (vv, ((src, sig), b)) => ((src, b), (vv, sig)) }
        .join(deeper, part)
        .map { case ((src, _), ((vv, sig), (dsig, ddel))) =>
          ((src, vv), sig / dsig * (1.0 + ddel)) }
        .reduceByKey(part, _ + _)
      val d = persist(cur.leftOuterJoin(contrib, part)
        .mapValues { case (sig, c) => (sig, c.getOrElse(0.0)) })
      d.count()
      // deeper is NOT unpersisted here: perSourceDeps holds a map() view
      // of it, and a localCheckpointed RDD is unrecomputable once its
      // blocks are dropped — PipelineCaches.clear frees the whole chain
      if (l > 0)
        perSourceDeps += d.map { case ((_, vv), (_, del)) => (vv, del) }
      deeper = d
    }

    val acc =
      if (perSourceDeps.isEmpty)
        v.select(col("id"), lit(0.0).as("betweenness"))
      else spark.createDataset(
          perSourceDeps.reduce(_ union _).reduceByKey(part, _ + _))(
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaDouble))
        .toDF("id", "betweenness")
    v.join(acc.withColumnRenamed("id", "__bid"),
        col("id") === col("__bid"), "left")
      .select(col("id"),
        round(coalesce(col("betweenness"), lit(0.0)), 6).as("betweenness"))
  }

  /** WEIGHTED PageRank over the directed simple graph: each vertex
    * splits its rank across out-edges proportionally to `weightCol`
    * (r_i(v) = reset + (1−reset)·Σ r_{i−1}(u)·w(u,v)/W(u), W(u) = u's
    * out-weight sum), fixed `iters` rounds, dangling mass decays — the
    * same explicit semantics as the static PageRank mirror, with weights.
    * Vertex set is edge-defined; r₀ = 1. Returns (id, rank) 6-dp rounded.
    * Zero/negative weights are rejected (a zero out-weight sum would
    * divide by zero; negative weights make the split meaningless).
    *
    * Scale shape: the weighted out-share eW = w/W(u) is computed ONCE
    * (one aggregate + one join); the rounds run on GraphX
    * `aggregateMessages` with the share as the edge attribute — an RDD
    * round costs ~20 ms where a Catalyst round pays planning + codegen +
    * stage latency (the same trade [[eigenvectorCentrality]] documents;
    * the original 10-round dense-join chain cost ~330 ms/round at sf0.1).
    * The dense reset base falls out of `outerJoinVertices` over the
    * edge-defined vertex set. */
  def weightedPageRank(gs: GraftSession, relLabel: String,
      weightCol: String, iters: Int = 10, resetProb: Double = 0.15,
      edgePred: Option[Column] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(resetProb > 0 && resetProb < 1,
      s"resetProb must be in (0, 1), got $resetProb")
    val spark = gs.spark
    import spark.implicits._
    val r = gs.catalog.rel(relLabel)
    val base = edgePred.foldLeft(gs.table(r.tableName))(_ filter _)
    val e = base.select(col(r.fromColumn).cast("long").as("f"),
        col(r.toColumn).cast("long").as("t"),
        col(weightCol).cast("double").as("w"))
    // NULL endpoints fail loudly too: the Edge RDD below calls getLong,
    // which would NPE inside a task instead of explaining the data problem
    if (e.filter(col("w") <= 0 || col("w").isNull
          || col("f").isNull || col("t").isNull).limit(1).count() > 0)
      throw new graft.cypher.GraftException(
        s"weightedPageRank: $weightCol must be strictly positive and " +
        "edge endpoints non-NULL (NULL weights would silently poison " +
        "the share sums; NULL endpoints have no vertex identity)")
    val eW = e
      .join(e.groupBy(col("f").as("__wf")).agg(sum("w").as("__wsum")),
        col("f") === col("__wf"))
      .select(col("f"), col("t"), (col("w") / col("__wsum")).as("share"))
    val edgeRdd = eW.rdd.map(row =>
      Edge(row.getLong(0), row.getLong(1), row.getDouble(2)))
    var g = tracked(Graph.fromEdges(edgeRdd, 1.0,
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK))
    g.vertices.count()
    for (_ <- 1 to iters) {
      val msgs = g.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr * ctx.attr), _ + _)
      val g2 = tracked(g.outerJoinVertices(msgs)(
        (_, _, m) => resetProb + (1.0 - resetProb) * m.getOrElse(0.0)))
      g = advance(g, g2)
    }
    g.vertices.map { case (id, rank) => (id, rank) }
      .toDF("id", "rank")
      .select(col("id"), round(col("rank"), 6).as("rank"))
  }

  /** Eigenvector centrality over the UNDIRECTED simple graph (power
    * iteration on the symmetric adjacency), fixed `iters` rounds —
    * unnormalized like [[hits]] (L1 normalization commutes with the
    * linear map; one normalize at the end) and on GraphX
    * `aggregateMessages` for the same reason: an RDD round costs ~20 ms
    * where a Catalyst round pays planning + codegen + stage latency.
    * The vertex set is edge-defined; returns (id, centrality) 6-dp
    * rounded. Overflow bound: entries grow ≤ max-degree× per round —
    * doubles survive iters·log2(maxdeg) < 1024. */
  def eigenvectorCentrality(gs: GraftSession, relLabel: String,
      iters: Int = 10, edgePred: Option[Column] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = gs.spark
    import spark.implicits._
    val canon = simpleEdges(gs, relLabel, edgePred)
    val sym = canon.unionAll(canon.select(col("b").as("a"), col("a").as("b")))
    val edgeRdd = sym.rdd.map(row => Edge(row.getLong(0), row.getLong(1), ()))
    var g = tracked(Graph.fromEdges(edgeRdd, 1.0,
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK))
    g.vertices.count()
    for (_ <- 1 to iters) {
      val msgs = g.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr), _ + _)
      val g2 = tracked(g.outerJoinVertices(msgs)(
        (_, _, m) => m.getOrElse(0.0)))
      g = advance(g, g2)
    }
    val scores = g.vertices.map { case (id, x) => (id, x) }
      .toDF("id", "__x")
    val tot = scores.agg(sum("__x").as("__tot"))
    scores.crossJoin(tot)
      .select(col("id"),
        round(col("__x") / col("__tot"), 6).as("centrality"))
  }

  /** Multiplier/modulus constants for the [[randomWalks]] step mix — a
    * fixed LCG-style integer hash both engines compute identically in
    * 64-bit arithmetic (every operand is pre-reduced so the largest
    * product is ~2^50, far from Long overflow; all terms non-negative so
    * `%` agrees between Spark and DuckDB). */
  private[graft] val WalkMixNode = 1103515245L
  private[graft] val WalkMixStart = 179424673L
  private[graft] val WalkMixRep = 12345L
  private[graft] val WalkMixStep = 2654435761L
  private[graft] val WalkMixPrime = 1048573L
  private[graft] val WalkMixMod = 2147483647L

  /** Deterministic seeded random walks over the DIRECTED simple graph —
    * the training-data generator for skip-gram-style graph embeddings
    * (DeepWalk/node2vec input). Every vertex starts `walksPerNode` walks;
    * at each step the walker at `node` moves to the neighbor whose rank
    * (dense 0..deg-1, neighbors ordered by id) equals an LCG-style mix of
    * (node, start, rep, step, seed) mod out-degree, and a walk stops when
    * it reaches a sink. Deterministic by construction — the mix uses only
    * `+ * %` on non-negative longs, so an unrolled-join DuckDB mirror
    * reproduces it bit-for-bit (no engine RNG involved) and re-runs are
    * stable for reproducible training corpora. Returns
    * (start, rep, step, node) rows, one per visited position incl. step 0.
    *
    * Scale shape: the ranked adjacency (one row_number window partitioned
    * by source — parallel over sources) is built once, persisted, and
    * hash-partitioned on the source key; each of the `walkLen` sequential
    * steps then equi-joins the (|V|·walksPerNode)-row frontier against it,
    * so only the frontier shuffles per step and the join is broadcast when
    * the frontier is small. State never exceeds |V|·walksPerNode rows —
    * the standard distributed-walk shape (no per-walk driver loop). */
  def randomWalks(gs: GraftSession, relLabel: String, walkLen: Int = 4,
      walksPerNode: Int = 2, seed: Long = 42L,
      edgePred: Option[Column] = None): DataFrame = {
    require(walkLen >= 1, s"walkLen must be >= 1, got $walkLen")
    require(walksPerNode >= 1,
      s"walksPerNode must be >= 1, got $walksPerNode")
    require(seed >= 0, s"seed must be >= 0, got $seed (the step mix " +
      "requires non-negative operands so % agrees across engines)")
    val r = gs.catalog.rel(relLabel)
    val base = edgePred.foldLeft(gs.table(r.tableName))(_ filter _)
    val e = base.select(col(r.fromColumn).cast("long").as("f"),
        col(r.toColumn).cast("long").as("t"))
      .distinct()
    val adj = e
      .withColumn("idx", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("f").orderBy("t")) - 1)
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("f")))
      // both windows share the partitionBy(f) exchange, so the cached
      // frame is already hash-partitioned on the join key
      .persist(StorageLevel.MEMORY_AND_DISK)
      .transform(graft.pipeline.PipelineCaches.track)
    val v = e.select(col("f").as("id")).union(e.select(col("t").as("id")))
      .distinct()
    var frontier = v
      .select(col("id").as("start"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("rep"))
      .select(col("start"), col("rep").cast("long").as("rep"),
        lit(0L).as("step"), col("start").as("node"))
    val steps = scala.collection.mutable.ArrayBuffer(frontier)
    for (s <- 1 to walkLen) {
      val mix = ((col("node") % WalkMixPrime) * WalkMixNode
        + (col("start") % WalkMixPrime) * WalkMixStart
        + col("rep") * WalkMixRep
        + lit(s.toLong) * WalkMixStep
        + lit(seed)) % WalkMixMod
      frontier = frontier.join(adj, col("node") === col("f")
          && col("idx") === mix % col("deg"))
        .select(col("start"), col("rep"), lit(s.toLong).as("step"),
          col("t").as("node"))
      steps += frontier
    }
    steps.reduce(_ unionByName _)
  }

  /** Personalized PageRank from a source set: random walk with
    * probability `resetProb` of teleporting back to the sources (mass
    * split evenly across them), fixed `iters` rounds for determinism.
    * Explicit semantics, chosen to be SQL-mirrorable rather than
    * delegating to GraphX's personalized variant (whose normalization
    * details would have to be reverse-engineered into the oracle):
    * r₀(v) = s(v);  rᵢ(v) = resetProb·s(v) +
    * (1−resetProb)·Σ_{(u,v)∈E} rᵢ₋₁(u)/outdeg(u), where s(v) = 1/|S| on
    * the sources — dangling mass decays, as in the static PageRank
    * mirror. Returns (id, rank) dense over the edge-defined vertex set,
    * 6-dp rounded.
    *
    * Scale shape: GraphX `aggregateMessages` rounds with the out-share
    * 1/outdeg(u) precomputed ONCE as the edge attribute, like
    * [[weightedPageRank]] (whose port from a 10-round Catalyst join
    * chain measured 3× — an RDD round costs ~20 ms where each Catalyst
    * round pays planning + codegen + stage-launch latency, ×10
    * sequential rounds). The source-teleport term is a per-vertex
    * constant (`resetProb/|S|` on sources, 0 elsewhere), folded into the
    * vertex update. PPR's sparsity is preserved in SHUFFLE volume: the
    * send closure skips zero-rank sources, so early-round message
    * traffic is ∝ the frontier's out-edges even though the edge
    * partitions are scanned — on a 100 TB graph with a small source set
    * the network cost tracks the reachable set, not |E|. */
  def personalizedPageRank(gs: GraftSession, relLabel: String,
      sourceIds: Seq[Long], iters: Int = 10, resetProb: Double = 0.15,
      edgePred: Option[Column] = None): DataFrame = {
    require(sourceIds.nonEmpty, "personalizedPageRank needs >= 1 source")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(resetProb > 0 && resetProb < 1,
      s"resetProb must be in (0, 1), got $resetProb")
    val spark = gs.spark
    import spark.implicits._
    val r = gs.catalog.rel(relLabel)
    val base = edgePred.foldLeft(gs.table(r.tableName))(_ filter _)
    val e = base.select(col(r.fromColumn).cast("long").as("f"),
        col(r.toColumn).cast("long").as("t"))
      .distinct()
    val eShare = e.join(e.groupBy(col("f").as("__df"))
        .agg(count(lit(1)).as("deg")), col("f") === col("__df"))
      .select(col("f"), col("t"), (lit(1.0) / col("deg")).as("share"))
    val edgeRdd = eShare.rdd.map(row =>
      Edge(row.getLong(0), row.getLong(1), row.getDouble(2)))
    val sProb = 1.0 / sourceIds.size
    // small by contract (a PPR source set); ships in the task closure
    val srcSet = sourceIds.toSet
    var g = tracked(Graph.fromEdges(edgeRdd, 0.0,
        StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
      .mapVertices((id, _) => if (srcSet(id)) sProb else 0.0))
    g.cache()
    g.vertices.count()
    for (_ <- 1 to iters) {
      val msgs = g.aggregateMessages[Double](
        ctx => if (ctx.srcAttr != 0.0) ctx.sendToDst(ctx.srcAttr * ctx.attr),
        _ + _)
      val g2 = tracked(g.outerJoinVertices(msgs)((id, _, m) =>
        (if (srcSet(id)) resetProb * sProb else 0.0)
          + (1.0 - resetProb) * m.getOrElse(0.0)))
      g = advance(g, g2)
    }
    g.vertices.map { case (id, rank) => (id, rank) }
      .toDF("id", "rank")
      .select(col("id"), round(col("rank"), 6).as("rank"))
  }

  /** node2vec-style SECOND-ORDER biased random walks (Grover &
    * Leskovec, KDD'16): after a uniform first step, the walker at `cur`
    * (having come from `prev`) weights each out-neighbor x by 1/p if
    * x = prev (return), 1 if the edge prev→x exists (BFS-ish), else 1/q
    * (DFS-ish), and picks deterministically: the LCG mix of (cur, start,
    * rep, step, seed) maps to a fraction of the walk's total weight, and
    * the first neighbor (ordered by id) whose running cumulative weight
    * exceeds that threshold wins. The cumulative sum is a sequential
    * window fold in both engines, so the choice — float arithmetic and
    * all — reproduces bit-for-bit in the DuckDB mirror, like
    * [[randomWalks]]. Walks stop at sinks. Returns
    * (start, rep, step, node) rows incl. step 0.
    *
    * Scale shape per step: one frontier⋈adjacency equi-join (candidates
    * ∝ frontier × avg degree), one LEFT probe of the edge list for the
    * prev→x existence flag, and one (start, rep)-partitioned window pair
    * (running + total weight) — no driver loop, state ≤ |V|·walksPerNode
    * like the uniform walker; the adjacency and edge frames are cached
    * once and reused every step. */
  def biasedRandomWalks(gs: GraftSession, relLabel: String, walkLen: Int = 4,
      walksPerNode: Int = 2, seed: Long = 42L, p: Double = 1.0,
      q: Double = 1.0, edgePred: Option[Column] = None): DataFrame = {
    require(walkLen >= 1, s"walkLen must be >= 1, got $walkLen")
    require(walksPerNode >= 1, s"walksPerNode must be >= 1, got $walksPerNode")
    require(seed >= 0, s"seed must be >= 0, got $seed")
    require(p > 0 && q > 0, s"p and q must be > 0, got p=$p q=$q")
    val r = gs.catalog.rel(relLabel)
    val base = edgePred.foldLeft(gs.table(r.tableName))(_ filter _)
    val e = base.select(col(r.fromColumn).cast("long").as("f"),
        col(r.toColumn).cast("long").as("t"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
      .transform(graft.pipeline.PipelineCaches.track)
    val adj = e
      .withColumn("idx", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("f").orderBy("t")) - 1)
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("f")))
      .persist(StorageLevel.MEMORY_AND_DISK)
      .transform(graft.pipeline.PipelineCaches.track)
    val v = e.select(col("f").as("id")).union(e.select(col("t").as("id")))
      .distinct()

    def mixAt(step: Int): Column =
      ((col("node") % WalkMixPrime) * WalkMixNode
        + (col("start") % WalkMixPrime) * WalkMixStart
        + col("rep") * WalkMixRep
        + lit(step.toLong) * WalkMixStep
        + lit(seed)) % WalkMixMod

    val w0 = v
      .select(col("id").as("start"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("rep"))
      .select(col("start"), col("rep").cast("long").as("rep"),
        lit(0L).as("step"), col("start").as("node"))
    val steps = scala.collection.mutable.ArrayBuffer(w0)
    // step 1: uniform, exactly the [[randomWalks]] selection
    var frontier = w0.join(adj, col("node") === col("f")
        && col("idx") === mixAt(1) % col("deg"))
      .select(col("start"), col("rep"), lit(1L).as("step"),
        col("node").as("prev"), col("t").as("node"))
    steps += frontier.select("start", "rep", "step", "node")
    val wWin = org.apache.spark.sql.expressions.Window
      .partitionBy("start", "rep")
    for (s <- 2 to walkLen) {
      val cand = frontier.join(adj, frontier("node") === col("f"))
        .join(e.select(col("f").as("__cf"), col("t").as("__ct")),
          col("prev") === col("__cf") && col("t") === col("__ct"), "left")
        .withColumn("w",
          when(col("t") === col("prev"), lit(1.0 / p))
            .when(col("__ct").isNotNull, lit(1.0))
            .otherwise(lit(1.0 / q)))
      val picked = cand
        .withColumn("cum", sum("w").over(wWin.orderBy("t")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, org.apache.spark.sql.expressions.Window
            .currentRow)))
        .withColumn("tot", sum("w").over(wWin))
        .withColumn("thresh",
          mixAt(s).cast("double") / lit(WalkMixMod.toDouble) * col("tot"))
        .filter(col("cum") - col("w") <= col("thresh")
          && col("thresh") < col("cum"))
      frontier = picked.select(col("start"), col("rep"),
        lit(s.toLong).as("step"), col("node").as("prev"),
        col("t").as("node"))
      steps += frontier.select("start", "rep", "step", "node")
    }
    steps.reduce(_ unionByName _)
  }

  /** Newman modularity of a community assignment over the UNDIRECTED
    * simple graph: per community c,
    * contrib(c) = e_in(c)/m − (deg(c)/(2m))², where e_in counts edges
    * with both endpoints in c, deg sums member degrees, and m is the
    * total edge count. Returns one row per community
    * (community, internal_edges, degree_sum, contribution) with the
    * contribution 6-dp rounded — sum the column for the usual scalar Q.
    * Composes with [[labelPropagation]] output (communities = (id,
    * label)); vertices missing from `communities` are treated as
    * singleton communities of themselves via a coalesce, so the measure
    * is total over the edge-defined vertex set.
    *
    * Scale shape: one canonical-edge dedup, two broadcast-able label
    * joins, and map-side-combinable aggregates; the 1-row m total
    * attaches as a broadcast nested-loop join (the BM25 corpus-stats
    * shape) — no window, no driver collect. */
  def modularity(gs: GraftSession, relLabel: String, communities: DataFrame,
      edgePred: Option[Column] = None): DataFrame = {
    val canon = simpleEdges(gs, relLabel, edgePred)
      .persist(StorageLevel.MEMORY_AND_DISK)
      .transform(graft.pipeline.PipelineCaches.track)
    val lab = communities.select(col("id").cast("long").as("__lid"),
      col("label").cast("long").as("__lab"))
    val labeled = canon
      .join(lab.withColumnRenamed("__lid", "__la"), col("a") === col("__la"), "left")
      .withColumnRenamed("__lab", "__laba")
      .join(lab.withColumnRenamed("__lid", "__lb"), col("b") === col("__lb"), "left")
      .withColumnRenamed("__lab", "__labb")
      .select(col("a"), col("b"),
        coalesce(col("__laba"), col("a")).as("la"),
        coalesce(col("__labb"), col("b")).as("lb"))
    val m = canon.agg(count(lit(1)).cast("double").as("__m"))
    // per-community internal edges
    val eIn = labeled.filter(col("la") === col("lb"))
      .groupBy(col("la").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    // per-community degree sum from the symmetric endpoint list
    val degSum = labeled.select(col("la").as("community"))
      .unionAll(labeled.select(col("lb").as("community")))
      .groupBy("community").agg(count(lit(1)).as("degree_sum"))
    degSum.join(eIn, Seq("community"), "left")
      .select(col("community"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"))
      .crossJoin(m)
      .select(col("community"), col("internal_edges"), col("degree_sum"),
        round(col("internal_edges") / col("__m")
          - pow(col("degree_sum") / (lit(2.0) * col("__m")), 2), 6)
          .as("contribution"))
  }

  /** Degree assortativity (Pearson correlation of endpoint degrees over
    * the symmetric edge list of the UNDIRECTED simple graph — Newman's r).
    * Returns one row (edges, r) with r 6-dp rounded; r is NULL for
    * degree-regular graphs (zero variance). Computed from explicit sum
    * aggregates (Σx, Σy, Σxy, Σx², Σy², n) so the DuckDB mirror runs the
    * identical formula — one degree aggregate + one join + one global
    * aggregate, all map-side combinable. */
  def assortativity(gs: GraftSession, relLabel: String,
      edgePred: Option[Column] = None): DataFrame = {
    val canon = simpleEdges(gs, relLabel, edgePred)
    val sym = canon.unionAll(canon.select(col("b").as("a"), col("a").as("b")))
      .persist(StorageLevel.MEMORY_AND_DISK)
      .transform(graft.pipeline.PipelineCaches.track)
    val deg = sym.groupBy(col("a").as("__d_id"))
      .agg(count(lit(1)).cast("double").as("__deg"))
    val pairs = sym
      .join(deg.withColumnRenamed("__d_id", "__da"), col("a") === col("__da"))
      .withColumnRenamed("__deg", "x")
      .join(deg.withColumnRenamed("__d_id", "__db")
        .withColumnRenamed("__deg", "y"), col("b") === col("__db"))
      .select(col("x"), col("y"))
    pairs.agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select((col("n") / 2).cast("long").as("edges"),
        // NULLIF keeps the zero-variance (degree-regular) case NULL
        // instead of tripping ANSI divide-by-zero; mirrored in SQL
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          / nullif(sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
            * sqrt(col("n") * col("syy") - col("sy") * col("sy")), lit(0.0)),
          6).as("r"))
  }

  /** Louvain community detection (Blondel et al. 2008) — synchronous
    * local-moving rounds with deterministic parity staggering, optionally
    * multi-level: after each level's rounds, communities contract into
    * weighted super-nodes (cross weights summed, internal edges folded
    * into self-loops) and the local moving repeats on the coarse graph.
    * Returns (id, community) over the ORIGINAL vertex ids, composed
    * through every level.
    *
    * Determinism (the property GraphX's LPA and textbook sequential
    * Louvain both lack): each round every PERMITTED vertex evaluates the
    * candidate set {its neighbors' communities} ∪ {its own} and adopts
    * the argmax of the EXACT INTEGER score
    * `S(i,c) = totW2·k(i,c) − s(i)·(vol(c) − [c = c_i]·s(i))`
    * (ties → smallest community id), which orders candidates identically
    * to the real-valued modularity gain ΔQ = k/ (2m) − s·vol'/(2m)² — it
    * is ΔQ·(2m)² with the constant own-community terms folded out, so no
    * float ever enters the comparison and the DuckDB mirror reproduces
    * the run bit-for-bit. Synchronous argmax moves oscillate on symmetric
    * structures (a 4-cycle 2-colors itself forever; two super-nodes swap
    * labels), the standard distributed-Louvain hazard; the mitigation is
    * bit staggering — round t only lets vertices whose id has BIT
    * `(t−1) mod 64` clear move. Any two distinct ids differ in some bit,
    * so every pairwise swap cycle de-synchronizes within 64 rounds
    * (plain even/odd parity fails exactly when a swapping pair shares
    * parity — observed between contracted super-nodes 6 and 16), while
    * the schedule stays a pure function of (id, round).
    * Overflow bound: |S| < totW2·s(max) must stay under 2^63, which
    * holds through ~2·10⁹ unit-weight edges against a 10⁹-strength hub —
    * beyond that, scale weights down before calling (documented, loud at
    * the gate scale it cannot hit).
    *
    * Scale shape per round (per level): the one |E|-proportional shuffle
    * is the neighbor-community weight aggregate — a map-side-combining
    * `reduceByKey` fed by a NARROW join against the pre-partitioned
    * symmetric edge RDD (see [[louvainLocalMoving]] for why the rounds
    * run on RDD primitives); volumes/strengths are |V|-row reduces and
    * the global weight is one driver long. Round state is persisted,
    * materialized, and the prior round freed, so lineage stays flat.
    * Between levels, composing the mapping is one join keyed by
    * community, and contraction re-keys both endpoints and runs one
    * `reduceByKey` on (least, greatest). Every level shares one
    * partitioner, sized from the level-0 edge count; coarse levels shrink
    * geometrically, so the total cost is dominated by level 0, exactly
    * the published behavior. The result becomes a DataFrame once, at the
    * end.
    *
    * Reference: brahmand has no graph-algorithm library (ClickHouse
    * cannot iterate); this extends the analytics surface the way
    * labelPropagation/modularity already do. */
  def louvain(gs: GraftSession, relLabel: String, rounds: Int = 4,
      levels: Int = 1, edgePred: Option[Column] = None): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(levels >= 1, s"levels must be >= 1, got $levels")
    val spark = gs.spark
    import spark.implicits._
    // ((a, b), w) with a <= b. Persisted: each level's self-loop and
    // cross-edge branches both read it; the count materializes it.
    var edges = persist(simpleEdges(gs, relLabel, edgePred)
      .as[(Long, Long)].rdd.map(e => (e, 1L)))
    val part = partitioner(spark.sparkContext, edges.count())
    var mapping: RDD[(Long, Long)] = null
    for (level <- 0 until levels) {
      val labels = louvainLocalMoving(edges, part, rounds)
      // compose: each vertex follows its community's new label
      mapping =
        if (mapping == null) labels
        else mapping.map(_.swap).join(labels, part)
          .map { case (_, (id, c)) => (id, c) }
      if (level < levels - 1) {
        // contract: endpoints → communities; (least, greatest) folds
        // internal edges (and prior self-loops) into community self-loops
        // whose weight keeps vol(c) invariant across the level change
        edges = persist(edges.map { case ((a, b), w) => (a, (b, w)) }
          .join(labels, part)
          .map { case (_, ((b, w), ca)) => (b, (ca, w)) }
          .join(labels, part)
          .map { case (_, ((ca, w), cb)) =>
            ((math.min(ca, cb), math.max(ca, cb)), w) }
          .reduceByKey(part, _ + _))
      }
    }
    mapping.toDF("id", "community")
  }

  /** One Louvain level: `rounds` synchronous bit-staggered local-move
    * rounds over weighted canonical edges ((a, b), w) with a ≤ b; a = b
    * keys are self-loops carrying contracted internal weight. Returns the
    * (id, community) labels, partitioned by `part`.
    *
    * The rounds run on RDD `reduceByKey`/`join` primitives rather than
    * per-round DataFrame plans — the HITS rationale: a Catalyst plan per
    * round pays planning + codegen compilation `rounds` times (measured
    * 6.6 s for the 25-vertex gate as DataFrame rounds, even with each
    * round re-based to a fresh scan), while the RDD loop's per-round job
    * is tens of ms. Nothing scale-relevant is lost: `reduceByKey` is
    * map-side combining like a partial aggregate, the neighbor-count
    * join runs co-partitioned against the pre-partitioned symmetric edge
    * RDD (narrow on the |E| side), and all arithmetic is exact longs.
    * Per-round state is persisted and the predecessor freed, the Pregel
    * discipline. */
  private def louvainLocalMoving(edges: RDD[((Long, Long), Long)],
      part: HashPartitioner, rounds: Int): RDD[(Long, Long)] = {
    val self = edges.filter(e => e._1._1 == e._1._2)
      .map { case ((a, _), w) => (a, w) }
    val cross = edges.filter(e => e._1._1 != e._1._2)
    // keyed by the NEIGHBOR endpoint so each round's label join is narrow
    val symByB = persist(cross
      .flatMap { case ((a, b), w) => Seq((b, (a, w)), (a, (b, w))) }
      .partitionBy(part))
    // strength s(i) = Σ_{j≠i} w_ij + 2·w_ii  (self-loops count twice, the
    // convention that keeps community volume invariant under contraction)
    val strength = persist(symByB.map { case (_, (a, w)) => (a, w) }
      .union(self.mapValues(_ * 2L))
      .reduceByKey(part, _ + _))
    val totW2 = strength.map(_._2).fold(0L)(_ + _)
    // the first round's job materializes the initial labels
    var labels = persist(strength
      .map { case (id, _) => (id, id) }.partitionBy(part))
    var t = 1
    while (t <= rounds) {
      val prev = labels
      // k(i,c): weight from i into each neighbor community
      val cnt = symByB.join(prev)
        .map { case (_, ((a, w), cb)) => ((a, cb), w) }
        .reduceByKey(_ + _)
        .map { case ((a, c), k) => (c, (a, k)) }
      // community volumes; both joins below are co-partitioned (narrow)
      val vol = prev.join(strength)
        .map { case (_, (c, s)) => (c, s) }.reduceByKey(_ + _)
      val curWithVol = prev.join(strength)
        .map { case (id, (c, s)) => (c, (id, s)) }
        .join(vol)
        .map { case (c, ((id, s), v)) => (id, (c, s, v)) }
      // candidate scores; the explicit stay row (k = 0) keeps the own
      // community in play when i has no neighbor inside it — when it
      // does, the real k(i,cur) row scores strictly higher and wins
      val scored = cnt.join(vol)
        .map { case (c, ((a, k), v)) => (a, (c, k, v)) }
        .join(curWithVol)
        .map { case (a, ((c, k, v), (curc, s, _))) =>
          val volAdj = if (c == curc) v - s else v
          (a, (totW2 * k - s * volAdj, c))
        }
      val stay = curWithVol.map { case (id, (curc, s, cv)) =>
        (id, (-s * (cv - s), curc))
      }
      val best = scored.union(stay).reduceByKey(part, (x, y) =>
        if (x._1 > y._1 || (x._1 == y._1 && x._2 < y._2)) x else y)
      // bit staggering: only ids with bit (t-1)%64 clear may move
      val bit = (t - 1) % 64
      labels = persist(best.join(prev, part).map {
        case (id, ((_, bestc), curc)) =>
          (id, if (((id >> bit) & 1L) == 0L) bestc else curc)
      }.partitionBy(part))
      labels.count()
      prev.unpersist(blocking = false)
      t += 1
    }
    // the last round's count cut the labels' lineage
    symByB.unpersist(blocking = false)
    strength.unpersist(blocking = false)
    labels
  }

  /** In/out degree per vertex from the edge list (pure DataFrame op). */
  def degrees(gs: GraftSession, relLabel: String): DataFrame = {
    val r = gs.catalog.rel(relLabel)
    val e = gs.table(r.tableName)
    val outD = e.groupBy(col(r.fromColumn).cast("long").as("id"))
      .agg(count(lit(1)).as("out_degree"))
    val inD = e.groupBy(col(r.toColumn).cast("long").as("id"))
      .agg(count(lit(1)).as("in_degree"))
    outD.join(inD, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }
}
