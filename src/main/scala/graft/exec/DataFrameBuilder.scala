package graft.exec

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.catalog.RelSchema
import graft.cypher._
import graft.planner.{GraphPlan, ResolvedEdge, ResolvedNode, ResolvedOptionalBlock}

/** Builds a Spark DataFrame plan from a resolved [[GraphPlan]].
  *
  * This replaces the reference's SQL-text rendering
  * (brahmand/src/clickhouse_query_generator/to_sql_query.rs) with a
  * declarative DataFrame construction; Catalyst then performs predicate
  * pushdown, column pruning, join reordering and physical strategy selection
  * (broadcast vs shuffle) that the reference hand-rolled or delegated to
  * ClickHouse (SURVEY.md §2.4, §4).
  *
  * Scale notes (100 TB design intent):
  *  - joins are declared as equi-joins on node-id columns so Catalyst/AQE can
  *    pick broadcast for small dimension nodes and shuffled hash/SMJ + skew
  *    mitigation for large ones;
  *  - node filters are applied directly above each scan (before any join) so
  *    they reach the parquet reader as PushedFilters;
  *  - the adjacency-index path reads a pre-aggregated, id-partitioned
  *    neighbors table (the Spark analogue of the reference's bitmap
  *    AggregatingMergeTree, graph_traversal_planning.rs:678-807) and explodes
  *    it, avoiding a re-shuffle of the raw edge list for high-fanout hops.
  */
final class DataFrameBuilder(
    session: GraftSession,
    /** Mid-query CALL decorrelation: node aliases whose scans must be
      * semi-joined with the enclosing query's distinct import keys, so a
      * correlated body computes only over keys the outer frame can
      * actually join back (alias → (distinct key frame, key column)). */
    anchorRestrict: Map[String, (DataFrame, String)] = Map.empty) {

  import ExprCompiler.compile

  private val qualified: ExprCompiler.Resolver = _ => None

  /** Hidden per-row type tag carried by `[:A|B]`-alternated edge frames
    * (each union branch stamps its own type) — what `type(r)` reads when
    * the type is not statically known. */
  private val RelTypeCol = "__rel_type"
  /** Leading CALL { } output columns attached to this build (in scope for
    * bare references and RETURN * expansion). */
  private var ambientCols: Seq[String] = Seq.empty

  def build(plan: GraphPlan, ambient: Seq[DataFrame] = Seq.empty): DataFrame = {
    ambientCols = ambient.flatMap(_.columns)
    // ambient frames (leading CALL { } results) attach BEFORE the main
    // WHERE so their columns are in scope for every later clause; each is
    // usually a one-row aggregate, which Catalyst/AQE turns into a
    // broadcast nested-loop join, not a shuffling cartesian
    val base = buildJoins(plan)
    // a call column shadowing a pattern table column would make every
    // bare reference ambiguous at analysis — reject loudly up front
    val clash = ambientCols.toSet.intersect(base.columns.toSet)
    if (clash.nonEmpty)
      throw new graft.cypher.GraftException(
        s"CALL output column(s) ${clash.mkString(", ")} collide with " +
          "pattern columns; alias the CALL's RETURN items differently")
    val joined = ambient.foldLeft(base)(_ crossJoin _)
    var filtered = plan.residualFilter match {
      case Some(f) => joined.filter(compile(rewriteAliasArgs(f, plan), qualified))
      case None    => joined
    }
    for (pp <- plan.patternPreds)
      filtered = applyPatternPred(filtered, pp, plan)
    for (block <- plan.optionals)
      filtered = applyOptional(filtered, block, plan)
    // COUNT { } joins after all row filters (fewer rows to count against)
    // and before UNWIND fan-out (each exploded row keeps its count)
    for (cs <- plan.countSubs)
      filtered = applyCountSub(filtered, cs, plan)
    for (u <- plan.unwinds)
      filtered = filtered.withColumn(u.name,
        explode(compile(rewriteAliasArgs(u.expr, plan), qualified)))

    // WITH stages (working version of the clause the reference drops —
    // SURVEY.md §2.3). Node/rel aliases named in a WITH are CARRIED through
    // as dot-qualified columns so later stages can keep using `a.prop`.
    var df = filtered
    var ctx = StageCtx(qualifiedGraph = true, Map.empty)
    // mid-query correlated CALL { } subqueries splice between stages at
    // their recorded positions; their outputs are plain columns in scope
    // for every later stage and the final RETURN (SURVEY.md §8.5)
    def applyCallsAt(pos: Int): Unit =
      for (mc <- plan.midCalls if mc.afterStage == pos)
        df = applyMidCall(df, mc, plan, ctx)
    applyCallsAt(0)
    for ((stage, stageIdx) <- plan.withStages.zipWithIndex) {
      val (staged, _, carried) =
        projectStage(df, stage.items, stage.distinct, plan, ctx, Seq.empty, carry = true)
      df = staged
      val next = StageCtx(qualifiedGraph = false, carried)
      // openCypher clause order: ORDER BY → SKIP → LIMIT → WHERE. A
      // sort+limit stage compiles to TakeOrderedAndProject (no global
      // sort) — the top-k-then-continue idiom stays cheap at scale.
      if (stage.orderBy.nonEmpty) {
        val keys = stage.orderBy.map { o =>
          val c = compile(rewriteAliasArgs(o.expr, plan), next.resolver)
          if (o.ascending) c.asc else c.desc
        }
        df = df.orderBy(keys: _*)
      }
      stage.skip.foreach(n => df = df.offset(intCount(n, "SKIP")))
      stage.limit.foreach(n => df = df.limit(intCount(n, "LIMIT")))
      stage.where.foreach { w =>
        df = df.filter(compile(rewriteAliasArgs(w, plan), next.resolver))
      }
      ctx = next
      applyCallsAt(stageIdx + 1)
    }

    // RETURN + ORDER BY (hidden sort columns) + SKIP/LIMIT
    val (proj, names, hidden) =
      projectWithSort(df, plan.returnItems, plan.returnDistinct, plan, ctx, plan.orderBy)
    var out = proj
    if (plan.orderBy.nonEmpty) {
      val sortCols = plan.orderBy.zipWithIndex.map { case (o, i) =>
        val c = qcol(hidden(i))
        if (o.ascending) c.asc else c.desc
      }
      out = out.orderBy(sortCols: _*)
    }
    plan.skip.foreach(n => out = out.offset(intCount(n, "SKIP")))
    plan.limit.foreach(n => out = out.limit(intCount(n, "LIMIT")))
    if (hidden.exists(h => !names.contains(h)))
      out = out.select(names.map(qcol): _*)
    out
  }


  /** SKIP/LIMIT operands ride Spark APIs that take Int; a count past
    * Int.MaxValue must be a loud error, not a silent 32-bit wrap. */
  private def intCount(n: Long, clause: String): Int = {
    if (n < 0 || n > Int.MaxValue)
      throw new graft.cypher.GraftException(
        s"$clause $n is out of range (0 to ${Int.MaxValue})")
    n.toInt
  }

  // ---- scans ---------------------------------------------------------------

  private def nodeDF(rn: ResolvedNode, plan: GraphPlan): DataFrame = {
    var df = session.table(rn.schema.tableName).alias(rn.alias)
    for (f <- rn.pushedFilters)
      df = df.filter(compile(rewriteAliasArgs(f, plan), qualified))
    // correlated-CALL anchor: only keys present in the enclosing frame can
    // survive the join back, so restrict the scan up front (ids only — a
    // semi join ships no payload, and Catalyst broadcasts the key set
    // when the outer frame is small)
    anchorRestrict.get(rn.alias).foreach { case (keys, keyName) =>
      df = df.join(keys,
        col(s"${rn.alias}.${rn.schema.idColumn}") === keys.col(keyName), "left_semi")
    }
    df
  }

  /** Edge scan normalized to pattern orientation: columns `__src`, `__dst`
    * (+ property columns on the edge-list path). */
  private def edgeDF(e: ResolvedEdge, plan: GraphPlan): DataFrame = {
    val s = e.schema
    val schemas = s +: e.altSchemas
    val base = session.table(s.tableName)
    val refCols = plan.referencedProps.getOrElse(e.alias, Set.empty).toSeq.sorted
    // inline-prop filters ({w: 5}) are pushed without appearing in
    // referencedProps — the pruned undirected projection must keep their
    // columns too, or the filter compiles against a missing column
    val filterCols = e.pushedFilters.flatMap(Expr.propRefs)
      .collect { case (a, c) if a == e.alias => c }
    val neededCols = (refCols ++ filterCols).distinct.sorted
    // [:A|B] alternation: only properties EVERY alternated table carries
    // are addressable (plus the per-row __rel_type that type(r) reads);
    // referencing anything else is a loud error naming the missing type
    val propCols =
      if (e.altSchemas.isEmpty)
        s.columns.filter(c => c != s.fromColumn && c != s.toColumn)
      else {
        val common = schemas
          .map(sc => sc.columns
            .filterNot(c => c == sc.fromColumn || c == sc.toColumn).toSet)
          .reduce(_ intersect _)
        for (c <- neededCols if c != RelTypeCol && !common(c);
             missing <- schemas.find(!_.columns.contains(c)))
          throw new GraftException(
            s"${e.alias}.$c: relationship type :${missing.label} in the " +
            s"alternation has no '$c' property — alternated aliases can " +
            "only reference properties common to every type")
        common.toSeq.sorted
      }

    // per-schema oriented scan; the alternation union tags each branch
    // with its type so `type(r)` stays per-row correct
    def scanOf(sc: RelSchema, fwd: Boolean, cols: Seq[String]): DataFrame = {
      val t = session.table(sc.tableName)
      val src = if (fwd) sc.fromColumn else sc.toColumn
      val dst = if (fwd) sc.toColumn else sc.fromColumn
      val tagged =
        if (e.altSchemas.isEmpty) cols.map(col)
        else cols.map(c =>
          if (c == RelTypeCol) lit(sc.label).as(RelTypeCol) else col(c))
      t.select(col(src).as("__src") +: col(dst).as("__dst") +: tagged: _*)
    }

    val unionCols =
      if (e.altSchemas.isEmpty) propCols
      else (propCols :+ RelTypeCol).distinct.sorted

    def edgeList(srcCol: String): DataFrame = {
      val fwd = srcCol == s.fromColumn
      schemas.map(scanOf(_, fwd, unionCols)).reduce(_ unionByName _)
    }

    val canUseIndex = s.hasAdjIndex && refCols.isEmpty &&
      e.pushedFilters.isEmpty && e.altSchemas.isEmpty

    // Bounded var-length and distance-only shortestPath hops compose in
    // one of two forms, chosen per hop base:
    //  - hashed: a broadcast-small base with integral ids is walked level-
    //    synchronously per source row inside one stage (HopAdjacency.expand)
    //    over a hash adjacency the session hands out: collected once per
    //    write for a base with no per-edge filter, per request otherwise
    //    (GraftSession.hopAdjacency);
    //  - join: any other base composes one equi-join superstep per level
    //    (composeHopsJoin, composeShortestFrontier), the only form that
    //    runs on a base the driver cannot hold.
    // "Broadcast-small" is the base table's optimizer size against
    // autoBroadcastJoinThreshold: the hop set is at most as large as the
    // edge table, and the explode/distinct lineage hides that bound from
    // Catalyst's own estimator, which is why it is read here.
    lazy val smallEdges = HopAdjacency.broadcastSmall(base)

    // Join form of a var-length hop: iterated self-join over the single-
    // hop pair set, distinct-pair reachability semantics. Per-level
    // `distinct` bounds path-count growth for the NEXT composition; the
    // last level needs none (the final union-distinct dedups it, and the
    // hash aggregate's map-side combine absorbs path multiplicity without
    // an extra sequential shuffle stage).
    def composeHopsJoin(h1: DataFrame, lo: Int, hi: Int): DataFrame = {
      val rhs = if (smallEdges) broadcast(h1) else h1
      val hops = scala.collection.mutable.ArrayBuffer(h1)
      for (level <- 2 to hi) {
        val prev = hops.last.alias("l")
        val next = prev.join(rhs.alias("r"), col("l.__dst") === col("r.__src"))
          .select(col("l.__src").as("__src"), col("r.__dst").as("__dst"))
        hops += (if (level < hi) next.distinct() else next)
      }
      hops.slice(lo - 1, hi).reduce(_ union _).distinct()
    }

    val oriented: DataFrame =
      if (e.invalidDirection) {
        // Wrong-direction pattern ⇒ statically EMPTY result with the correct
        // schema (reference query_planner/mod.rs:50-60: canned WHERE 1=0).
        edgeList(s.toColumn).filter(lit(false))
      } else if (e.undirectedSameLabel) {
        // Both orientations, UNION DISTINCT over the referenced columns
        // (reference graph_traversal_planning.rs:524-616, 694-763).
        if (canUseIndex) {
          val out = adjRead(s, outgoing = true)
          val in = adjRead(s, outgoing = false)
          out.union(in).distinct()
        } else {
          // alternated: keep the per-branch type tag through the DISTINCT
          // so a pair present under BOTH types stays two matches (each
          // relationship has one type) while within-type dups still fold
          val cols =
            if (e.altSchemas.isEmpty) neededCols
            else (neededCols :+ RelTypeCol).distinct.sorted
          val fwd = schemas.map(scanOf(_, fwd = true, cols)).reduce(_ unionByName _)
          val bwd = schemas.map(scanOf(_, fwd = false, cols)).reduce(_ unionByName _)
          fwd.union(bwd).distinct()
        }
      } else {
        val (srcCol, dstCol) =
          if (e.srcIsFrom) (s.fromColumn, s.toColumn) else (s.toColumn, s.fromColumn)
        if (canUseIndex) adjRead(s, outgoing = e.srcIsFrom)
        else edgeList(srcCol)
      }

    // Join form of a distance-only shortestPath: frontier-delta BFS. Each
    // level expands only the pairs FIRST reached at the previous level,
    // then anti-joins away pairs already settled at a shorter length —
    // every pair lands in exactly one level (its BFS distance) and per-
    // level shuffle volume is proportional to the frontier, not the full
    // settled set. A lower bound > 1 EXCLUDES pairs whose true shortest
    // hop count is below it (it does not return "the shortest path of at
    // least lo hops"); the hashed form keeps the same semantics.
    def composeShortestFrontier(h1: DataFrame, lo: Int, hi: Int): DataFrame = {
      // Lazily-composed frontiers re-embed every earlier level's anti-join
      // in their lineage (settled_k references frontier_1..k), so the
      // logical tree grows exponentially in the level count. Short
      // expansions keep the single lazy DAG (ReuseExchange dedupes the
      // repeated subtrees at runtime); longer ones truncate the logical
      // lineage per level Pregel-style: a persisted Row RDD behind a fresh
      // LogicalRDD leaf. (Not Dataset.localCheckpoint — its carried-over
      // origin constraints reference pre-checkpoint attribute ids and
      // break Union constraint rewriting once the frame appears on both
      // sides of the BFS recursion.) Execution stays lazy; the persist is
      // released with the caller's cache scope (PipelineCaches).
      def fence(df: DataFrame): DataFrame =
        if (hi <= 6) df
        else {
          val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // registered for explicit cleanup: a deep BFS pins one persisted
          // RDD per level, and in a long-lived JVM relying on GC-driven
          // ContextCleaner alone lets dead levels crowd the block manager
          // (the cumulative-cache pathology PipelineCaches exists for)
          graft.pipeline.PipelineCaches.onClear(rdd)(
            _.unpersist(blocking = false))
          session.spark.createDataFrame(rdd, df.schema)
        }
      var frontier = fence(h1.distinct())
      var settled = frontier
      val levels = scala.collection.mutable.ArrayBuffer(
        frontier.withColumn("__len", lit(1L)))
      for (level <- 2 to hi) {
        val expanded = frontier.alias("l")
          .join(h1.alias("r"), col("l.__dst") === col("r.__src"))
          .select(col("l.__src").as("__src"), col("r.__dst").as("__dst"))
          .distinct()
        frontier = fence(expanded.join(settled, Seq("__src", "__dst"), "left_anti"))
        settled = settled.union(frontier)
        levels += frontier.withColumn("__len", lit(level.toLong))
      }
      levels.reduce(_ union _).filter(col("__len") >= lo)
    }

    // Plain path binding `p = (a)-[:R*lo..hi]->(b)`: materialize per-path
    // rows — openCypher path semantics (one row per relationship-unique
    // path, not per distinct endpoint pair). `__nodes` carries the node
    // ids along the path, `__edges` the (s,d) hops, `__len` the hop count;
    // nodes(p)/relationships(p)/length(p) read them. Edge uniqueness is
    // the array_contains guard on the join condition. Parallel edges
    // collapse (the hop base is the distinct pair set — consistent with
    // the engine's distinct-pair reachability divergence, SURVEY §8.5).
    // Scale: per-level volume tracks the real path count the query must
    // return anyway; each level is one equi-join (broadcast when the edge
    // frame is small), and the arrays add O(level) ids per row — no
    // shuffle beyond the joins themselves.
    def composePaths(h1: DataFrame, lo: Int, hi: Int,
        undirected: Boolean): DataFrame = {
      def hop(s: Column, d: Column) = struct(s.as("s"), d.as("d"))
      val base = h1.select(col("__src"), col("__dst"),
        array(col("__src"), col("__dst")).as("__nodes"),
        array(hop(col("__src"), col("__dst"))).as("__edges"))
      val rhs = if (smallEdges) broadcast(h1) else h1
      // trail semantics: a relationship is used at most once per path. An
      // UNDIRECTED hop set contains both orientations of each edge, and
      // re-traversing one backwards is the SAME relationship — guard both
      // (s,d) and (d,s); a directed (s,d) and its reverse are distinct
      // relationships, so the single guard suffices there.
      def unused = {
        val fwd = !array_contains(col("l.__edges"),
          hop(col("r.__src"), col("r.__dst")))
        if (!undirected) fwd
        else fwd && !array_contains(col("l.__edges"),
          hop(col("r.__dst"), col("r.__src")))
      }
      var cur = base
      val levels = scala.collection.mutable.ArrayBuffer(base)
      for (_ <- 2 to hi) {
        cur = cur.alias("l")
          .join(rhs.alias("r"), col("l.__dst") === col("r.__src") && unused)
          .select(col("l.__src").as("__src"), col("r.__dst").as("__dst"),
            concat(col("l.__nodes"), array(col("r.__dst"))).as("__nodes"),
            concat(col("l.__edges"),
              array(hop(col("r.__src"), col("r.__dst")))).as("__edges"))
        levels += cur
      }
      levels.slice(lo - 1, hi).reduce(_ unionByName _)
        .withColumn("__len", (size(col("__nodes")) - 1).cast("long"))
    }

    // shortestPath with nodes(p)/relationships(p) referenced: materialize
    // trails over the FULL 1..hi range (a shortest walk never repeats an
    // edge, so the min-length trail IS the BFS-shortest path), keep each
    // pair's minimum, and pin ONE representative per pair — the
    // lexicographically smallest node sequence (Neo4j returns an arbitrary
    // one; a pinned choice is SQL-mirrorable). A lower bound > 1 keeps the
    // distance semantics of the distance-only forms: pairs whose true
    // distance is below it are EXCLUDED, not given a longer path. Costlier
    // than the distance-only composition (it enumerates trails), so the planner
    // only routes here when path values are actually referenced.
    // `keepAll = true` (allShortestPaths) keeps every min-length path per
    // pair — one row each — instead of the single pinned representative.
    def composeShortestPaths(h1: DataFrame, lo: Int, hi: Int,
        undirected: Boolean, keepAll: Boolean): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val paths = composePaths(h1, 1, hi, undirected)
      if (keepAll) {
        val w = Window.partitionBy("__src", "__dst")
        paths.withColumn("__minlen", min(col("__len")).over(w))
          .filter(col("__len") === col("__minlen") && col("__len") >= lo)
          .drop("__minlen")
      } else {
        val w = Window.partitionBy("__src", "__dst")
          .orderBy(col("__len").asc, col("__nodes").asc)
        paths.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") === 1 && col("__len") >= lo)
          .drop("__rk")
      }
    }

    e.varLength match {
      case Some((lo, hi)) if !e.invalidDirection =>
        // per-edge filters restrict the hop base BEFORE composition:
        // every relationship of the path satisfies them (they also reach
        // the parquet scan as pushed filters, shrinking the base the
        // whole iterated join runs on — the right place at 100 TB)
        val filteredOriented =
          if (e.pushedFilters.isEmpty) oriented
          else e.pushedFilters.foldLeft(oriented.alias(e.alias))((d, f) =>
            d.filter(compile(rewriteAliasArgs(f, plan), qualified)))
        val pairs = filteredOriented.select("__src", "__dst")
        val h1 = if (e.undirectedSameLabel) pairs else pairs.distinct()
        val hashed = smallEdges && HopAdjacency.integralIds(pairs)
        def hashedWalk(shortest: Boolean) = HopAdjacency.expand(pairs,
          session.hopAdjacency(pairs, held = e.pushedFilters.isEmpty),
          lo, hi, shortest)
        val needsPathValues = e.shortest && e.pathAlias.isDefined &&
          pathValueRelAliases(plan).contains(e.alias)
        // allShortestPaths ALWAYS materializes paths: its row count IS the
        // shortest-path count per pair, even when only length(p) is read
        return (if (e.allShortest || needsPathValues)
                  composeShortestPaths(
                    if (e.undirectedSameLabel) h1.distinct() else h1,
                    lo, hi, undirected = e.undirectedSameLabel,
                    keepAll = e.allShortest)
                else if (e.shortest)
                  if (hashed) hashedWalk(shortest = true)
                  else composeShortestFrontier(h1, lo, hi)
                else if (e.pathAlias.isDefined)
                  composePaths(if (e.undirectedSameLabel) h1.distinct() else h1,
                    lo, hi, undirected = e.undirectedSameLabel)
                else if (hashed) hashedWalk(shortest = false)
                else composeHopsJoin(h1, lo, hi)).alias(e.alias)
      case _ =>
    }

    var df = oriented.alias(e.alias)
    for (f <- e.pushedFilters)
      df = df.filter(compile(rewriteAliasArgs(f, plan), qualified))
    df
  }

  /** Relationship aliases whose bound path's nodes()/relationships() are
    * referenced anywhere in the query — a shortestPath edge among them
    * must materialize per-path arrays instead of the cheaper
    * distance-only composition. */
  private def pathValueRelAliases(plan: GraphPlan): Set[String] = {
    def scan(e: Expr): Set[String] = {
      val self = e match {
        case Expr.Fn(n, Seq(Expr.Var(p)), _)
          if (n.equalsIgnoreCase("nodes") ||
              n.equalsIgnoreCase("relationships")) &&
             plan.pathAliases.contains(p) =>
          Set(plan.pathAliases(p))
        case _ => Set.empty[String]
      }
      self ++ Expr.subexprs(e).flatMap(scan)
    }
    val exprs: Seq[Expr] =
      plan.returnItems.map(_.expr) ++ plan.residualFilter.toSeq ++
        plan.orderBy.map(_.expr) ++ plan.unwinds.map(_.expr) ++
        plan.withStages.flatMap(st =>
          st.items.map(_.expr) ++ st.where.toSeq ++ st.orderBy.map(_.expr))
    exprs.flatMap(scan).toSet
  }

  /** Pre-aggregated adjacency read: `(id, neighbors)` exploded back to an
    * edge shape — the Spark analogue of
    * `SELECT from_id, arrayJoin(bitmapToArray(to_id))` (reference
    * graph_traversal_planning.rs:685-691). */
  private def adjRead(s: graft.catalog.RelSchema, outgoing: Boolean): DataFrame =
    session.adjIndex(s.label, outgoing)
      .select(col("id").as("__src"), explode(col("neighbors")).as("__dst"))

  // ---- joins ---------------------------------------------------------------

  private def buildJoins(plan: GraphPlan): DataFrame = {
    def idOf(alias: String): Column =
      col(s"$alias.${plan.nodes(alias).schema.idColumn}")

    var joined = nodeDF(plan.nodes(plan.anchor), plan)
    val bound = mutable.Set(plan.anchor)
    val pending = mutable.Buffer(plan.edges: _*)

    while (pending.nonEmpty) {
      val idx = pending.indexWhere(e => bound(e.srcAlias) || bound(e.dstAlias))
      if (idx < 0)
        throw new DisconnectedPatternException("disconnected match patterns")
      val e = pending.remove(idx)
      val eDF = edgeDF(e, plan)
      val srcKey = col(s"${e.alias}.__src")
      val dstKey = col(s"${e.alias}.__dst")
      val srcBound = bound(e.srcAlias)
      val dstBound = bound(e.dstAlias)

      if (srcBound && dstBound) {
        // cycle / standalone-rel: join on both endpoints at once
        // (reference graph_join_inference.rs:251-256, 350-370)
        joined = joined.join(eDF,
          idOf(e.srcAlias) === srcKey && idOf(e.dstAlias) === dstKey, "inner")
      } else if (srcBound) {
        joined = joined
          .join(eDF, idOf(e.srcAlias) === srcKey, "inner")
          .join(nodeDF(plan.nodes(e.dstAlias), plan), dstKey === idOf(e.dstAlias), "inner")
        bound += e.dstAlias
      } else {
        joined = joined
          .join(eDF, idOf(e.dstAlias) === dstKey, "inner")
          .join(nodeDF(plan.nodes(e.srcAlias), plan), srcKey === idOf(e.srcAlias), "inner")
        bound += e.srcAlias
      }
    }
    joined
  }

  /** `WHERE [NOT] (a)-[:R]->(b)` ⇒ LEFT SEMI / LEFT ANTI join against the
    * predicate pattern's (from, to) pair set (extension — SURVEY.md §8.5).
    *
    * Scale notes: semi/anti joins shuffle only join keys plus the main
    * frame — the pair subquery carries exactly two id columns (unbound
    * endpoints are pre-filtered with their own semi-joins, so no payload
    * from the predicate side ever reaches the main frame), and Catalyst
    * broadcasts the pair set when small. Undirected same-label predicates
    * union the swapped orientation rather than OR-ing a non-equi
    * condition (which would force a nested-loop join). */
  /** The (from, to) pair set of a predicate pattern: edge rows under the
    * rel filters, both orientations unioned when undirected, unbound
    * endpoints pre-restricted by their node filters (semi-joins — ids
    * only, no payload ever reaches the main frame). */
  /** Columns of subquery-LOCAL aliases referenced by a predicate's
    * correlated join conditions, per alias — these ride the pair set as
    * `__ppx_<alias>_<col>` so the semi/anti-join condition can test them
    * against the outer frame. */
  private def predCarried(
      pp: graft.planner.ResolvedPatternPred): Map[String, Seq[String]] = {
    val local = Set(pp.relAlias) ++
      Seq(pp.fromEnd, pp.toEnd).filterNot(_.bound).map(_.alias)
    (pp.joinConds ++ pp.carryExprs).flatMap(Expr.propRefs)
      .filter(r => local(r._1))
      .groupBy(_._1).map { case (a, rs) => a -> rs.map(_._2).distinct }
  }

  private def predPairs(pp: graft.planner.ResolvedPatternPred): DataFrame = {
    val s = pp.schema
    val carried = predCarried(pp)
    var edge = session.table(s.tableName).alias(pp.relAlias)
    for (f <- pp.relFilters)
      edge = edge.filter(compile(f, qualified))
    val relCarry = carried.getOrElse(pp.relAlias, Seq.empty)
    val pairs = edge.select(
      col(s"${pp.relAlias}.${s.fromColumn}").as("__ppf") +:
      col(s"${pp.relAlias}.${s.toColumn}").as("__ppt") +:
      relCarry.map(c =>
        col(s"${pp.relAlias}.$c").as(s"__ppx_${pp.relAlias}_$c")): _*)

    // orientation union FIRST: under an undirected predicate the unbound
    // endpoint must be testable via EITHER edge direction, so restricting
    // before the swap would drop matches reachable only through the
    // swapped orientation (caught in round-5 review)
    val oriented =
      if (pp.bothOrientations)
        pairs.unionByName(pairs.select(
          col("__ppt").as("__ppf") +: col("__ppf").as("__ppt") +:
          relCarry.map(c => col(s"__ppx_${pp.relAlias}_$c")): _*))
      else pairs

    // unbound endpoints: ids-only LEFT SEMI when nothing is carried; an
    // INNER join on the (unique) id when correlated conditions need the
    // endpoint's columns — no fan-out either way
    def restrict(p: DataFrame, end: graft.planner.PredEndpoint, key: String): DataFrame = {
      val carry = if (end.bound) Seq.empty else carried.getOrElse(end.alias, Seq.empty)
      if (end.bound || (end.filters.isEmpty && carry.isEmpty)) p
      else {
        var nd = session.table(end.schema.tableName).alias(end.alias)
        for (f <- end.filters) nd = nd.filter(compile(f, qualified))
        if (carry.isEmpty)
          p.join(nd, col(key) === col(s"${end.alias}.${end.schema.idColumn}"),
            "left_semi")
        else {
          val proj = nd.select(
            col(s"${end.alias}.${end.schema.idColumn}").as(s"__ppxid_${end.alias}") +:
            carry.map(c => col(s"${end.alias}.$c").as(s"__ppx_${end.alias}_$c")): _*)
          p.join(proj, col(key) === col(s"__ppxid_${end.alias}"), "inner")
            .drop(s"__ppxid_${end.alias}")
        }
      }
    }
    restrict(restrict(oriented, pp.fromEnd, "__ppf"), pp.toEnd, "__ppt")
  }

  /** Join conditions anchoring a predicate pair set (aliased `subAlias`)
    * onto the main frame's bound endpoint id columns. */
  private def predConds(pp: graft.planner.ResolvedPatternPred,
      plan: GraphPlan, subAlias: String): Seq[Column] = {
    def idOf(alias: String): Column =
      col(s"$alias.${plan.nodes(alias).schema.idColumn}")
    (if (pp.fromEnd.bound) Seq(idOf(pp.fromEnd.alias) === col(s"$subAlias.__ppf"))
     else Seq.empty) ++
    (if (pp.toEnd.bound) Seq(idOf(pp.toEnd.alias) === col(s"$subAlias.__ppt"))
     else Seq.empty)
  }

  private def applyPatternPred(
      main: DataFrame, pp: graft.planner.ResolvedPatternPred,
      plan: GraphPlan): DataFrame = {
    if (pp.alwaysFalse)
      return if (pp.negated) main else main.limit(0)
    val sub = predPairs(pp).alias("__pp")
    // correlated / cross-alias conjuncts: local alias columns resolve to
    // the carried `__ppx_` pair columns, outer references compile against
    // the main frame — together they form the join condition, which is
    // exactly where a correlated existential belongs (and the only sound
    // home under NOT)
    val localAliases = Set(pp.relAlias) ++
      Seq(pp.fromEnd, pp.toEnd).filterNot(_.bound).map(_.alias)
    val localResolver: ExprCompiler.Resolver = {
      case Expr.Prop(a, c) if localAliases(a) =>
        Some(col(s"__pp.__ppx_${a}_$c"))
      case _ => None
    }
    val conds = predConds(pp, plan, "__pp") ++
      pp.joinConds.map(c => compile(rewriteAliasArgs(c, plan), localResolver))
    main.join(sub, conds.reduce(_ && _), if (pp.negated) "left_anti" else "left_semi")
  }

  /** `COUNT { (a)-[:R]->(n) }` ⇒ the pattern's pair set grouped by its
    * bound-side key(s) and LEFT-joined back; unmatched rows count 0.
    *
    * Scale notes: the grouped count is a map-side-combinable aggregate
    * over id columns only (never edge payload), its output is one row per
    * distinct bound key — bounded by the main frame's key cardinality —
    * and Catalyst broadcasts it when small. Nothing here fans the main
    * frame out: the join key set is unique post-aggregation. */
  private def applyCountSub(
      main: DataFrame, cs: graft.planner.ResolvedCountSub,
      plan: GraphPlan): DataFrame = {
    val pp = cs.pred
    if (pp.alwaysFalse && cs.proj.isEmpty)
      return main.withColumn(cs.outName, lit(0L))
    val keys =
      (if (pp.fromEnd.bound) Seq("__ppf") else Seq.empty) ++
      (if (pp.toEnd.bound) Seq("__ppt") else Seq.empty)
    val a = s"__cs_${cs.outName}"
    // a comprehension over a contradictory direction still needs the
    // typed empty-list column — run the same plan over zero pair rows
    val pairs0 = predPairs(pp)
    val pairs = if (pp.alwaysFalse) pairs0.filter(lit(false)) else pairs0
    val aggExpr = cs.proj match {
      case None => count(lit(1)).as("__cscnt")
      case Some(projE) =>
        // projection refs resolve against the pair set's carried columns
        // (planner guarantees they are subquery-local)
        val localAliases = Set(pp.relAlias) ++
          Seq(pp.fromEnd, pp.toEnd).filterNot(_.bound).map(_.alias)
        val localResolver: ExprCompiler.Resolver = {
          case Expr.Prop(al, c) if localAliases(al) =>
            Some(col(s"__ppx_${al}_$c"))
          case _ => None
        }
        // sort for determinism — openCypher leaves comprehension order
        // unspecified, and parallel collect_list is run-order-dependent.
        // NULL projections are list ELEMENTS (openCypher keeps them), but
        // collect_list silently drops nulls — wrap each element in a
        // non-null struct for the aggregate+sort and unwrap after (struct
        // ordering sorts a null field first, DuckDB 'NULLS FIRST')
        sort_array(collect_list(struct(
          compile(projE, localResolver).as("v")))).as("__cscnt")
    }
    val counted0 = pairs
      .groupBy(keys.map(col): _*)
      .agg(aggExpr)
    val counted = (cs.proj match {
      case None => counted0
      case Some(_) => counted0.withColumn("__cscnt",
        transform(col("__cscnt"), _.getField("v")))
    }).alias(a)
    val emptyVal: Column = cs.proj match {
      case None => lit(0L)
      case Some(_) =>
        val dt = counted.schema("__cscnt").dataType
        expr(s"CAST(array() AS ${dt.sql})")
    }
    val conds = predConds(pp, plan, a)
    val joined = main.join(counted, conds.reduce(_ && _), "left_outer")
      .withColumn(cs.outName, coalesce(col(s"$a.__cscnt"), emptyVal))
    ("__cscnt" +: keys).foldLeft(joined)((df, k) => df.drop(col(s"$a.$k")))
  }

  /** Mid-query correlated `CALL { WITH imports ... RETURN ... }` ⇒ a
    * decorrelated grouped join (extension — the openCypher correlated
    * subquery form; the reference has no CALL at all).
    *
    * Decorrelation, Spark-first:
    *  - an imported NODE alias must anchor a body pattern; the body plans
    *    normally (its own scan of the alias's table, semi-join-restricted
    *    to the outer frame's distinct ids via [[anchorRestrict]]) and the
    *    alias's id column is injected as a hidden body output key;
    *  - an imported plain COLUMN becomes an ambient frame of the outer
    *    frame's DISTINCT import tuples cross-joined under the body —
    *    Catalyst rewrites the body's `WHERE ... = x` into an equi-join,
    *    which IS the classic unnest-to-join decorrelation, done by the
    *    optimizer instead of by hand;
    *  - body aggregates group implicitly by the injected keys (Cypher's
    *    per-input-row aggregation semantics ⇒ one grouped aggregate +
    *    one join — never a per-row re-execution);
    *  - join back: pure-aggregate bodies LEFT-join (zero matches keep the
    *    row; count/sum/collect coalesce to 0/0/[]), row-returning bodies
    *    INNER-join (zero matches drop the row, m matches fan out m rows);
    *  - a correlated body ORDER BY + SKIP/LIMIT is per-input-row top-k ⇒
    *    one Window (row_number over the key partition), not a global cut.
    *
    * Scale notes: the body computes ONCE over distinct keys — cost tracks
    * the key cardinality, not the outer row count; only id columns cross
    * the decorrelation boundary; the grouped-aggregate output is bounded
    * by the outer key cardinality, so Catalyst broadcasts it when small. */
  private def applyMidCall(
      outer: DataFrame, mc: MidCall, plan: GraphPlan, ctx: StageCtx): DataFrame = {
    import graft.planner.Planner
    val outNames = MidCall.outputNames(mc)
    val clash = outNames.toSet.intersect(outer.columns.toSet ++ ambientCols)
    if (clash.nonEmpty) throw new GraftException(
      s"CALL output column(s) ${clash.mkString(", ")} collide with names " +
        "already in scope; alias the CALL's RETURN items differently")

    val bodyNodeAliases: Set[String] =
      (mc.body.paths ++ mc.body.optionalMatches.flatMap(_.paths)).flatMap(p =>
        p.start.alias.toSeq ++ p.hops.map(_._2).flatMap(_.alias)).toSet

    // -- classify imports against the enclosing scope ------------------------
    final case class NodeImp(alias: String, outerKey: Column, label: String)
    final case class ScalImp(name: String, outerKey: Column)
    val nodeImps = mutable.ArrayBuffer[NodeImp]()
    val scalImps = mutable.ArrayBuffer[ScalImp]()
    for (name <- mc.imports) {
      val asNode: Option[NodeImp] =
        if (ctx.qualifiedGraph && plan.nodes.contains(name)) {
          val sch = plan.nodes(name).schema
          Some(NodeImp(name, col(s"$name.${sch.idColumn}"), sch.label))
        } else if (!ctx.qualifiedGraph && ctx.carried.contains(name) &&
                   plan.nodes.contains(name)) {
          val sch = plan.nodes(name).schema
          if (!ctx.carried(name).contains(sch.idColumn)) throw new GraftException(
            s"CALL import '$name': its id column ${sch.idColumn} was not " +
              "carried through the preceding WITH")
          Some(NodeImp(name, qcol(s"$name.${sch.idColumn}"), sch.label))
        } else None
      asNode match {
        case Some(ni) =>
          if (!bodyNodeAliases(ni.alias)) throw new GraftException(
            s"CALL imports node alias '$name' but the body never uses it in " +
              "a pattern; import the needed properties instead " +
              s"(WITH $name.<prop> AS <x>)")
          nodeImps += ni
        // scalar imports come from CYPHER scope, not the physical frame:
        // pre-WITH (qualified) the only plain names are earlier CALL
        // outputs; post-WITH the stage's projection IS the scope. Testing
        // raw outer.columns there would silently admit never-projected
        // table columns (and die ambiguously when two tables share one).
        case None if (if (ctx.qualifiedGraph) ambientCols.contains(name)
                      else outer.columns.contains(name)) =>
          scalImps += ScalImp(name, qcol(name))
        case None => throw new GraftException(
          s"CALL import '$name' is not in scope here")
      }
    }
    for (s <- scalImps if bodyNodeAliases(s.name))
      throw new GraftException(
        s"CALL import '${s.name}' is a plain column in the outer scope but " +
          "is reused as a pattern alias in the body; rename one of them")

    // -- uncorrelated mid-position CALL: execute once, cross join ------------
    if (mc.imports.isEmpty) {
      val b = new DataFrameBuilder(session)
        .build(Planner.plan(mc.body, session.catalog))
      ambientCols = ambientCols ++ outNames
      return outer.crossJoin(b)
    }

    // -- correlated: build the body with injected key outputs ----------------
    // discover each imported alias's id column AS RESOLVED IN THE BODY (and
    // check it's the same label as outside) with a cheap pre-plan
    val scalarAmbientCols = scalImps.map(_.name).toSet
    val prePlan = Planner.plan(mc.body, session.catalog, scalarAmbientCols)
    for (ni <- nodeImps) {
      val bodySch = prePlan.nodes.getOrElse(ni.alias, throw new GraftException(
        s"CALL import '${ni.alias}' is not a node alias in the body")).schema
      if (bodySch.label != ni.label) throw new GraftException(
        s"CALL import '${ni.alias}' resolves to label ${bodySch.label} in the " +
          s"body but ${ni.label} outside; labels must match")
    }
    val keyItems: Seq[(String, ReturnItem)] =
      nodeImps.zipWithIndex.map { case (ni, i) =>
        s"__ck_$i" -> ReturnItem(
          Expr.Prop(ni.alias, prePlan.nodes(ni.alias).schema.idColumn),
          Some(s"__ck_$i"))
      }.toSeq ++
      scalImps.zipWithIndex.map { case (si, i) =>
        s"__ck_n$i" -> ReturnItem(Expr.Var(si.name), Some(s"__ck_n$i"))
      }
    val keyNames = keyItems.map(_._1)

    // correlated ORDER BY + SKIP/LIMIT is per-input-row top-k: strip it
    // from the body and re-apply as a window over the key partition below
    val perKeyCut = mc.body.skip.nonEmpty || mc.body.limit.nonEmpty
    if (perKeyCut && mc.body.orderBy.isEmpty) throw new GraftException(
      "SKIP/LIMIT in a correlated CALL body requires ORDER BY (the cut is " +
        "per input row and must be deterministic)")
    for (o <- mc.body.orderBy if perKeyCut) o.expr match {
      case Expr.Var(n) if outNames.contains(n) => ()
      case _ => throw new GraftException(
        "ORDER BY in a correlated CALL body must reference the body's " +
          "returned column names")
    }
    // pin every body item to its outputNames name BEFORE prepending the
    // hidden keys: positional default names (count_0, col_1) are derived
    // from the item INDEX, which the key injection would otherwise shift
    val pinnedItems = mc.body.returnItems.zip(outNames).map {
      case (ri, n) => ri.copy(alias = Some(n))
    }
    val bodyAst = mc.body.copy(
      returnItems = keyItems.map(_._2) ++ pinnedItems,
      orderBy = Seq.empty, skip = None, limit = None)

    val ambient: Seq[DataFrame] =
      if (scalImps.isEmpty) Seq.empty
      else Seq(outer
        .select(scalImps.map(s => s.outerKey.as(s.name)).toSeq: _*).distinct())
    val restrict: Map[String, (DataFrame, String)] =
      nodeImps.zipWithIndex.map { case (ni, i) =>
        val kn = s"__anchor_$i"
        ni.alias -> (outer.select(ni.outerKey.as(kn)).distinct(), kn)
      }.toMap
    val bodyPlan = Planner.plan(bodyAst, session.catalog,
      ambient.flatMap(_.columns).toSet)
    var b = new DataFrameBuilder(session, restrict).build(bodyPlan, ambient)

    if (perKeyCut) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(keyNames.map(qcol): _*).orderBy(
        mc.body.orderBy.map { o =>
          val c = qcol(o.expr.asInstanceOf[Expr.Var].name)
          if (o.ascending) c.asc else c.desc
        }: _*)
      val lo = mc.body.skip.getOrElse(0L)
      val hi = mc.body.limit.map(lo + _).getOrElse(Long.MaxValue)
      b = b.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") > lo && col("__rn") <= hi).drop("__rn")
    }

    // -- join back -----------------------------------------------------------
    val conds: Seq[Column] =
      nodeImps.zipWithIndex.map { case (ni, i) => ni.outerKey === b(s"__ck_$i") }.toSeq ++
      scalImps.zipWithIndex.map { case (si, i) => si.outerKey === b(s"__ck_n$i") }
    val pureAgg = mc.body.returnItems.forall(ri => Expr.isAggregate(ri.expr))
    var joined = outer.join(b, conds.reduce(_ && _),
      if (pureAgg) "left_outer" else "inner")
    if (pureAgg) {
      // Cypher aggregation over zero rows: count ⇒ 0, sum ⇒ 0, collect ⇒ [],
      // the rest ⇒ null (which the left join already yields)
      for ((ri, name) <- mc.body.returnItems.zip(outNames)) {
        val fill: Option[Column] = ri.expr match {
          case Expr.Fn(n, _, _) if n.equalsIgnoreCase("count") => Some(lit(0L))
          case Expr.Fn(n, _, _) if n.equalsIgnoreCase("sum") =>
            Some(lit(0).cast(b.schema(name).dataType))
          case Expr.Fn(n, _, _)
            if Set("collect", "collect_list", "collect_set")(n.toLowerCase) =>
            Some(array().cast(b.schema(name).dataType))
          case _ => None
        }
        fill.foreach(f => joined = joined.withColumn(name, coalesce(b(name), f)))
      }
    }
    joined = keyNames.foldLeft(joined)((df, k) => df.drop(b(k)))
    ambientCols = ambientCols ++ outNames
    joined
  }

  /** OPTIONAL MATCH block ⇒ LEFT OUTER JOIN: the block's edges + new node
    * scans are inner-joined into a sub-plan; endpoints on already-bound
    * (external) aliases become the ON condition, along with the block's
    * residual WHERE (per Cypher, an optional block's WHERE participates in
    * matching, never filters preserved rows). */
  private def applyOptional(
      main: DataFrame, block: ResolvedOptionalBlock, plan: GraphPlan): DataFrame = {
    def idOf(alias: String): Column =
      col(s"$alias.${plan.nodes(alias).schema.idColumn}")
    val internal = block.internalAliases

    var sub: DataFrame = null
    val bound = mutable.Set[String]()
    val external = mutable.ArrayBuffer[Column]()
    val pending = mutable.Buffer(block.edges: _*)

    while (pending.nonEmpty) {
      val idx = pending.indexWhere { e =>
        sub == null || bound(e.srcAlias) || bound(e.dstAlias) ||
        (!internal(e.srcAlias) && !internal(e.dstAlias))
      }
      if (idx < 0)
        throw new GraftException("optional pattern must be connected")
      val e = pending.remove(idx)
      val eDF = edgeDF(e, plan)
      val endpoints = Seq(
        (e.srcAlias, col(s"${e.alias}.__src")),
        (e.dstAlias, col(s"${e.alias}.__dst")))

      if (sub == null) sub = eDF
      else {
        val attach = endpoints.collect {
          case (a, key) if internal(a) && bound(a) => idOf(a) === key
        }
        sub =
          if (attach.nonEmpty) sub.join(eDF, attach.reduce(_ && _), "inner")
          else sub.crossJoin(eDF) // pure-external second component (rare)
      }
      for ((a, key) <- endpoints) {
        if (internal(a) && !bound(a)) {
          sub = sub.join(nodeDF(plan.nodes(a), plan), key === idOf(a), "inner")
          bound += a
        } else if (!internal(a)) {
          external += (idOf(a) === key)
        }
      }
    }

    val conds = external.toSeq ++
      block.residual.map(f => compile(rewriteAliasArgs(f, plan), qualified)).toSeq
    main.join(sub, conds.reduce(_ && _), "left_outer")
  }

  // ---- projection ----------------------------------------------------------

  private def qcol(name: String): Column = col(s"`$name`")

  /** Projection scope: `qualifiedGraph` = pre-WITH (pattern aliases resolve
    * against the join tree); afterwards a flat scope where aliases named in
    * the WITH survive as dot-qualified columns (`carried`: alias → column
    * names). */
  private final case class StageCtx(
      qualifiedGraph: Boolean, carried: Map[String, Seq[String]]) {
    def resolver: ExprCompiler.Resolver = {
      case Expr.Prop(a, c) if !qualifiedGraph && carried.contains(a) =>
        Some(col(s"`$a.$c`"))
      case _ => None
    }
  }

  /** `count(a)` where `a` is a pattern alias → `count(<a's id column>)`
    * (reference projection_tagging.rs:240-275). Also rewrites bare alias
    * aggregate args on relationships to their `__src` key, and folds the
    * schema-introspection functions (labels/type/id/keys/properties/
    * exists(prop)) at plan time — one table per label means they are all
    * statically known. */
  private def rewriteAliasArgs(e: Expr, plan: GraphPlan): Expr = {
    // OPTIONAL MATCH edges resolve introspection fns too (round-5 advice:
    // type() on an optional rel alias fell through to a raw Spark error)
    val allEdges = plan.edges ++ plan.optionals.flatMap(_.edges)
    val relAliases = allEdges.map(_.alias).toSet
    // single-type aliases fold type() to a literal; alternated ones read
    // the per-row __rel_type tag their union frame carries
    val altRelAliases = allEdges.filter(_.altSchemas.nonEmpty).map(_.alias).toSet
    val relLabels = allEdges.filter(_.altSchemas.isEmpty)
      .map(e => e.alias -> e.schema.label).toMap
    // OPTIONAL MATCH aliases may be NULL on preserved rows: an
    // unconditional constant fold would return a non-null labels()/type()/
    // keys()/properties() for a row whose optional pattern did NOT match
    // (openCypher: these are NULL on a null entity). Guard such folds on
    // the alias's key column (round-6 review).
    // internalAliases = block-introduced NODE aliases; rel aliases come
    // from the block's edges
    val optionalAliases = plan.optionals
      .flatMap(b => b.internalAliases ++ b.edges.map(_.alias)).toSet
    def guarded(alias: String, keyCol: String, folded: Expr): Expr =
      if (!optionalAliases(alias)) folded
      else Expr.CaseWhen(
        Seq((Expr.IsNull(Expr.Prop(alias, keyCol), negated = false), Expr.Lit(null))),
        Some(folded))
    def nodeGuard(a: String, folded: Expr): Expr =
      guarded(a, plan.nodes(a).schema.idColumn, folded)
    def relGuard(a: String, folded: Expr): Expr = guarded(a, "__src", folded)
    def rw(x: Expr): Expr = x match {
      // length(p) — the hop composition's hidden distance column (both
      // the shortestPath and the materialized-path forms carry __len)
      case Expr.Fn(n, Seq(Expr.Var(p)), false)
        if n.equalsIgnoreCase("length") && plan.pathAliases.contains(p) =>
        Expr.Prop(plan.pathAliases(p), "__len")
      // nodes(p) / relationships(p) — the materialized per-path arrays
      // (plain bindings always carry them; a shortestPath binding routes
      // through the path-materializing composition when these are
      // referenced — see pathValueRelAliases)
      case Expr.Fn(n, Seq(Expr.Var(p)), false)
        if (n.equalsIgnoreCase("nodes") || n.equalsIgnoreCase("relationships")) &&
           plan.pathAliases.contains(p) =>
        Expr.Prop(plan.pathAliases(p),
          if (n.equalsIgnoreCase("nodes")) "__nodes" else "__edges")
      // schema introspection folds to literals at plan time: one table per
      // label means an alias's labels/type are statically known
      case Expr.Fn(n, Seq(Expr.Var(a)), false)
        if n.equalsIgnoreCase("labels") && plan.nodes.contains(a) =>
        nodeGuard(a, Expr.ListLit(Seq(Expr.Lit(plan.nodes(a).schema.label))))
      case Expr.Fn(n, Seq(Expr.Var(a)), false)
        if n.equalsIgnoreCase("type") && relLabels.contains(a) =>
        relGuard(a, Expr.Lit(relLabels(a)))
      case Expr.Fn(n, Seq(Expr.Var(a)), false)
        if n.equalsIgnoreCase("type") && altRelAliases(a) =>
        relGuard(a, Expr.Prop(a, RelTypeCol))
      // id(n) → the node's id column (node ids ARE the user-visible ids in
      // the edge-list model; relationships carry no surrogate id)
      case Expr.Fn(n, Seq(Expr.Var(a)), false)
        if n.equalsIgnoreCase("id") && plan.nodes.contains(a) =>
        Expr.Prop(a, plan.nodes(a).schema.idColumn)
      case Expr.Fn(n, Seq(Expr.Var(a)), false)
        if n.equalsIgnoreCase("id") && relAliases(a) =>
        throw new GraftException(
          s"id($a): relationships have no surrogate id in the edge-list " +
          "model; use the endpoint node ids instead")
      // keys(a) → literal list of the alias's property names
      case Expr.Fn(n, Seq(Expr.Var(a)), false)
        if n.equalsIgnoreCase("keys") && plan.nodes.contains(a) =>
        nodeGuard(a, Expr.ListLit(plan.nodes(a).schema.columns.map(c => Expr.Lit(c))))
      case Expr.Fn(n, Seq(Expr.Var(a)), false)
        if n.equalsIgnoreCase("keys") && relLabels.contains(a) =>
        relGuard(a,
          Expr.ListLit(allEdges.find(_.alias == a).get.schema.columns.map(c => Expr.Lit(c))))
      // alternated alias: per-row key list via the type tag (each branch
      // has a statically known column list)
      case Expr.Fn(n, Seq(Expr.Var(a)), false)
        if n.equalsIgnoreCase("keys") && altRelAliases(a) =>
        val ed = allEdges.find(_.alias == a).get
        relGuard(a, Expr.CaseWhen(
          (ed.schema +: ed.altSchemas).map { sc =>
            (Expr.Bin("=", Expr.Prop(a, RelTypeCol), Expr.Lit(sc.label)),
              Expr.ListLit(sc.columns.map(c => Expr.Lit(c))))
          }, None))
      // properties(n) → named struct over the alias's columns
      case Expr.Fn(n, Seq(Expr.Var(a)), false)
        if n.equalsIgnoreCase("properties") && plan.nodes.contains(a) =>
        nodeGuard(a, Expr.Fn("__named_struct",
          plan.nodes(a).schema.columns.flatMap(c =>
            Seq(Expr.Lit(c), Expr.Prop(a, c))), distinct = false))
      // properties(r) → named struct over the relationship's property
      // columns (its table columns minus the endpoint keys — exactly what
      // the edge frame materializes). Alternated aliases reject: only the
      // common columns exist per row, so the struct would misreport.
      case Expr.Fn(n, Seq(Expr.Var(a)), false)
        if n.equalsIgnoreCase("properties") && relAliases(a) =>
        if (altRelAliases(a))
          throw new GraftException(
            s"properties($a): not supported on an alternated relationship " +
            "alias [:A|B] (only properties common to every type exist per " +
            "row); project the needed properties explicitly")
        val s = allEdges.find(_.alias == a).get.schema
        val props = s.columns.filter(c => c != s.fromColumn && c != s.toColumn)
        relGuard(a, Expr.Fn("__named_struct",
          props.flatMap(c => Seq(Expr.Lit(c), Expr.Prop(a, c))),
          distinct = false))
      // alias {.prop, .*, key: expr} map projection → named struct; `.*`
      // expands from the subject alias's schema (a relationship's property
      // columns are its table columns minus the endpoint keys — the edge
      // frame materializes exactly those), duplicate keys resolve
      // LAST-wins (explicit entries written after `.*` override it, the
      // openCypher behavior), and an OPTIONAL subject folds to NULL on
      // preserved rows like properties()
      case Expr.Fn("__map_proj", Expr.Var(a) +: pairs, _) =>
        val isNode = plan.nodes.contains(a)
        if (!isNode && !relAliases(a))
          throw new GraftException(
            s"map projection requires a node or relationship alias from " +
            s"the MATCH pattern; '$a' is not one")
        def spreadCols: Seq[String] =
          if (isNode) plan.nodes(a).schema.columns
          else {
            val ed = allEdges.find(_.alias == a).get
            if (ed.altSchemas.nonEmpty)
              throw new GraftException(
                s"$a {.*}: `.*` on an alternated relationship alias " +
                "[:A|B] would misreport rows (only properties common to " +
                "every type exist per row); list the properties explicitly")
            val s = ed.schema
            s.columns.filter(c => c != s.fromColumn && c != s.toColumn)
          }
        val expanded = pairs.grouped(2).flatMap {
          case Seq(Expr.Lit("__spread__"), Expr.Fn("__props_spread", _, _)) =>
            spreadCols.flatMap(c => Seq(Expr.Lit(c), Expr.Prop(a, c)))
          case Seq(k, v) => Seq(k, rw(v))
          case other => throw new GraftException(s"malformed map projection: $other")
        }.toSeq
        val lastWins = scala.collection.mutable.LinkedHashMap[String, Expr]()
        expanded.grouped(2).foreach {
          case Seq(Expr.Lit(k: String), v) => lastWins(k) = v
          case other => throw new GraftException(s"malformed map projection: $other")
        }
        val struct = Expr.Fn("__named_struct",
          lastWins.toSeq.flatMap { case (k, v) => Seq(Expr.Lit(k), v) })
        if (isNode) nodeGuard(a, struct) else relGuard(a, struct)
      // exists(n.prop) → IS NOT NULL (the property-existence form; the
      // pattern form exists((a)-[]->(b)) unwraps in the Planner)
      case Expr.Fn(n, Seq(p: Expr.Prop), false) if n.equalsIgnoreCase("exists") =>
        Expr.IsNull(p, negated = true)
      case Expr.Var(a) if plan.pathAliases.contains(a) =>
        throw new GraftException(
          s"path alias '$a' can only be read via length($a), nodes($a), " +
          s"or relationships($a) (paths are not first-class values)")
      case Expr.Var(a) if plan.nodes.contains(a) =>
        Expr.Prop(a, plan.nodes(a).schema.idColumn)
      case Expr.Var(a) if relAliases(a) => Expr.Prop(a, "__src")
      case Expr.Fn(n, as, d)  => Expr.Fn(n, as.map(rw), d)
      case Expr.Bin(o, l, r)  => Expr.Bin(o, rw(l), rw(r))
      case Expr.Not(y)        => Expr.Not(rw(y))
      case Expr.Neg(y)        => Expr.Neg(rw(y))
      case Expr.IsNull(y, ng) => Expr.IsNull(rw(y), ng)
      case Expr.ListLit(ys)   => Expr.ListLit(ys.map(rw))
      case Expr.CaseWhen(bs, o) =>
        Expr.CaseWhen(bs.map { case (c, v) => (rw(c), rw(v)) }, o.map(rw))
      // lambda variables must not collide with pattern aliases — rejecting
      // the collision keeps the recursive alias rewrite sound inside bodies
      case Expr.ListComp(v, l, w, p) =>
        if (plan.nodes.contains(v) || relAliases(v))
          throw new GraftException(
            s"comprehension variable '$v' shadows a pattern alias")
        Expr.ListComp(v, rw(l), w.map(rw), p.map(rw))
      case Expr.Reduce(a, i, v, l, s) =>
        for (n <- Seq(a, v) if plan.nodes.contains(n) || relAliases(n))
          throw new GraftException(
            s"reduce variable '$n' shadows a pattern alias")
        Expr.Reduce(a, rw(i), v, rw(l), rw(s))
      case other              => other
    }
    e match {
      // only rewrite alias references INSIDE expressions; top-level bare
      // Var(alias) return items are expanded to columns elsewhere
      case Expr.Var(_) => e
      case _           => rw(e)
    }
  }

  private def defaultName(e: Expr, i: Int): String = e match {
    case Expr.Prop(_, c) => c
    case Expr.Var(n)     => n
    case Expr.Fn(n, _, _) => s"${n.toLowerCase}_$i"
    case _               => s"col_$i"
  }

  /** Expand `*` and bare node/rel aliases into per-column items.
    * `carry = true` (WITH stages) names expanded alias columns `a.col` and
    * reports them in the carried map; otherwise names are plain column
    * names with alias prefixes on collision. Returns ((name, expr) pairs,
    * carried alias → columns). */
  private def expandItems(
      items: Seq[ReturnItem], plan: GraphPlan, ctx: StageCtx,
      carry: Boolean): (Seq[(String, Expr)], Map[String, Seq[String]]) = {
    val relAliases = plan.edges.map(_.alias).toSet
    val nodeOrder = plan.nodes.keys.toSeq
    val carriedOut = mutable.Map[String, Seq[String]]()

    def colsOf(a: String): Seq[String] =
      if (plan.nodes.contains(a) && ctx.qualifiedGraph) plan.nodes(a).schema.columns
      else if (relAliases(a) && ctx.qualifiedGraph) {
        val sch = plan.edges.find(_.alias == a).get.schema
        sch.columns.filter(c => c != sch.fromColumn && c != sch.toColumn)
      } else ctx.carried.getOrElse(a, Seq.empty)

    def expandAlias(a: String): Seq[(Option[String], String, Expr)] = {
      val cols = colsOf(a)
      if (carry) carriedOut(a) = cols
      cols.map(c => (Some(a), if (carry) s"$a.$c" else c, Expr.Prop(a, c): Expr))
    }

    def isAlias(a: String): Boolean =
      if (ctx.qualifiedGraph) plan.nodes.contains(a) || relAliases(a)
      else ctx.carried.contains(a)

    // expanded items carry their source alias so colliding column names
    // (e.g. two same-label nodes in RETURN *) can be prefixed
    val raw: Seq[(Option[String], String, Expr)] =
      items.zipWithIndex.flatMap { case (ReturnItem(expr, alias), i) =>
        expr match {
          case Expr.Star if ctx.qualifiedGraph =>
            // RETURN * — all explicitly-named aliases (reference
            // projection_tagging.rs:31-59), nodes first in pattern order,
            // then any leading-CALL columns (they are in scope too)
            (nodeOrder ++ plan.edges.map(_.alias))
              .filterNot(_.startsWith("__")).flatMap(expandAlias) ++
              ambientCols.map(n => (None, n, Expr.Var(n): Expr))
          case Expr.Star =>
            ctx.carried.keys.toSeq.sorted.flatMap(expandAlias)
          case Expr.Var(a) if isAlias(a) => expandAlias(a)
          case other =>
            Seq((None, alias.getOrElse(defaultName(other, i)),
              rewriteAliasArgs(other, plan)))
        }
      }
    val dup = raw.groupBy(_._2).filter(_._2.size > 1).keySet
    val named = raw.map {
      case (Some(a), n, e) if dup(n) && !carry => (s"${a}_$n", e)
      case (_, n, e)                           => (n, e)
    }
    (named, carriedOut.toMap)
  }

  /** Project a stage (WITH or RETURN): implicit GROUP BY derivation per
    * Cypher semantics — grouping keys are the non-aggregate items
    * (reference group_by_building.rs:21-45). */
  private def projectStage(
      df: DataFrame, items: Seq[ReturnItem], distinct: Boolean,
      plan: GraphPlan, ctx: StageCtx,
      extraItems: Seq[(String, Expr)],
      carry: Boolean): (DataFrame, Seq[String], Map[String, Seq[String]]) = {

    val (itemsExpanded, carried) = expandItems(items, plan, ctx, carry)
    val expanded = itemsExpanded ++ extraItems
    val names = expanded.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate output column names: ${names.mkString(", ")}")
    val resolve = ctx.resolver

    val hasAgg = expanded.exists { case (_, e) => Expr.isAggregate(e) }
    var out =
      if (hasAgg) {
        val (aggs, keys) = expanded.partition { case (_, e) => Expr.isAggregate(e) }
        val keyCols = keys.map { case (n, e) => compile(e, resolve).as(n) }
        val aggCols = aggs.map { case (n, e) => compile(e, resolve).as(n) }
        val grouped =
          if (keyCols.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
          else df.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
        grouped.select(names.map(qcol): _*)
      } else {
        df.select(expanded.map { case (n, e) => compile(e, resolve).as(n) }: _*)
      }
    if (distinct) out = out.distinct()
    (out, names, carried)
  }

  /** RETURN projection with ORDER BY support: order keys that are not output
    * columns are added as hidden columns, then dropped after the sort. */
  private def projectWithSort(
      df: DataFrame, items: Seq[ReturnItem], distinct: Boolean,
      plan: GraphPlan, ctx: StageCtx,
      orderBy: Seq[OrderItem]): (DataFrame, Seq[String], Seq[String]) = {

    val (visible, _) = expandItems(items, plan, ctx, carry = false)
    val visibleNames = visible.map(_._1)

    // resolve each order key to an output name, or synthesize a hidden
    // item. RETURN-alias references inside hidden expressions (ORDER BY
    // toUpper(city) with RETURN ... AS city) are substituted by their
    // source expressions — they must compile against the PRE-projection
    // scope, where the alias name does not exist yet.
    val aliasMap = visible.toMap
    val hiddenItems = mutable.ArrayBuffer[(String, Expr)]()
    val sortNames = orderBy.zipWithIndex.map { case (o, i) =>
      val rewritten = Expr.substVars(rewriteAliasArgs(o.expr, plan), aliasMap)
      o.expr match {
        case Expr.Var(n) if visibleNames.contains(n) => n
        case _ =>
          visible.find(_._2 == rewritten) match {
            case Some((n, _)) => n
            case None =>
              val h = s"__sort_$i"
              hiddenItems += ((h, rewritten))
              h
          }
      }
    }

    // RETURN DISTINCT + a sort key that is not a returned column would
    // require deduplicating on hidden columns (wrong result) — reject with
    // a clear message (standard Cypher restricts this the same way).
    if (distinct && hiddenItems.nonEmpty)
      throw new GraftException(
        "ORDER BY with RETURN DISTINCT must order by returned columns")
    // Aggregating RETURN + a non-aggregate hidden sort key would silently
    // widen the implicit GROUP BY (changing result cardinality) — standard
    // Cypher rejects such queries; so do we. Two hidden-item shapes remain
    // legal: AGGREGATE sort items (ORDER BY count(*) not in RETURN) become
    // extra agg columns, and expressions built ONLY from returned grouping
    // keys (ORDER BY toUpper(city) with RETURN u.city AS city, count(*),
    // via either spelling — aliases were substituted above) — adding such
    // a functionally-dependent key cannot change the group count.
    if (visible.exists { case (_, e) => Expr.isAggregate(e) }) {
      val keyExprs = visible.collect { case (_, e) if !Expr.isAggregate(e) => e }.toSet
      for ((_, h) <- hiddenItems if !Expr.isAggregate(h))
        if (!Expr.leafRefs(h).forall(l => keyExprs.contains(l)))
          throw new GraftException(
            "in an aggregating RETURN, ORDER BY must reference returned columns, " +
            "expressions over them, or aggregates")
    }
    val (out, _, _) =
      projectStage(df, items, distinct = false, plan, ctx, hiddenItems.toSeq, carry = false)
    val projected = if (distinct) out.distinct() else out
    (projected, visibleNames, sortNames)
  }
}
