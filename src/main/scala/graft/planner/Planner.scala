package graft.planner

import graft.catalog.{GraphCatalog, NodeSchema, RelSchema}
import graft.cypher._

/** A node in the resolved match graph. */
final case class ResolvedNode(
    alias: String,
    schema: NodeSchema,
    pushedFilters: Seq[Expr])

/** An edge in the resolved match graph, normalized to pattern orientation:
  * `src -> dst` is the direction as written (In-direction hops were swapped
  * during graph construction).
  *
  * `srcIsFrom`: whether the pattern's source endpoint maps to the schema's
  * fromColumn. `undirectedSameLabel`: both orientations must be unioned
  * (reference graph_traversal_planning.rs:524-616, 694-763).
  * `invalidDirection`: pattern direction contradicts the schema — the query
  * yields an EMPTY result, not an error (reference query_planner/mod.rs:50-60).
  */
final case class ResolvedEdge(
    alias: String,
    schema: RelSchema,
    srcAlias: String,
    dstAlias: String,
    srcIsFrom: Boolean,
    undirectedSameLabel: Boolean,
    invalidDirection: Boolean,
    pushedFilters: Seq[Expr],
    /** bounded `*min..max` hop — composed by iterated self-join with
      * distinct-pair reachability semantics (extension; see SURVEY.md §8.5) */
    varLength: Option[(Int, Int)] = None,
    /** `shortestPath(...)`: composition keeps minimum pair distances and
      * exposes them as the hidden `__len` column (extension). */
    shortest: Boolean = false,
    /** `p = (a)-[:R*lo..hi]->(b)` plain path binding: the composition
      * materializes per-path `__nodes`/`__edges`/`__len` (extension). */
    pathAlias: Option[String] = None,
    /** `allShortestPaths(...)`: keep EVERY minimum-length path per pair
      * (always path-materialized — row count is the path count). */
    allShortest: Boolean = false,
    /** `[:A|B]` type alternation: the schemas BEYOND `schema`. All share
      * `schema`'s (fromLabel, toLabel) — validated at plan time — and the
      * hop scans the UNION ALL of the edge tables (a relationship has
      * exactly one type, so the branches are disjoint matches). Empty =
      * plain single-type edge. */
    altSchemas: Seq[RelSchema] = Nil)

/** Resolved match graph + query shape, ready for DataFrame construction. */
final case class GraphPlan(
    nodes: Map[String, ResolvedNode],
    edges: Seq[ResolvedEdge],
    anchor: String,
    residualFilter: Option[Expr],
    withStages: Seq[WithStage],
    returnItems: Seq[ReturnItem],
    returnDistinct: Boolean,
    orderBy: Seq[OrderItem],
    skip: Option[Long],
    limit: Option[Long],
    /** columns referenced per alias anywhere in the query (used to prune
      * unioned undirected edges and pick the adjacency-index path). */
    referencedProps: Map[String, Set[String]],
    /** OPTIONAL MATCH blocks, applied as left-outer joins after the main
      * pattern (extension — SURVEY.md §8.5). */
    optionals: Seq[ResolvedOptionalBlock] = Seq.empty,
    /** UNWIND stages applied after joins/optionals (extension). */
    unwinds: Seq[Unwind] = Seq.empty,
    /** `WHERE [NOT] (a)-[:R]->(b)` predicates ⇒ left semi/anti joins
      * (extension). */
    patternPreds: Seq[ResolvedPatternPred] = Seq.empty,
    /** `p = shortestPath(...)` path alias → its relationship alias
      * (`length(p)` resolves through this to the hidden `__len`). */
    pathAliases: Map[String, String] = Map.empty,
    /** `COUNT { ... }` projection subqueries, joined onto the main frame
      * before WITH stages (extension). */
    countSubs: Seq[ResolvedCountSub] = Seq.empty,
    /** Correlated mid-query CALL { } subqueries, decorrelated into grouped
      * joins after the WITH stages (extension — SURVEY.md §8.5). */
    midCalls: Seq[MidCall] = Seq.empty)

/** One OPTIONAL MATCH block: its edges, the aliases it introduces, and the
  * residual predicate that belongs in the left-join ON condition. */
final case class ResolvedOptionalBlock(
    edges: Seq[ResolvedEdge],
    internalAliases: Set[String],
    residual: Option[Expr])

/** One endpoint of a WHERE pattern predicate, normalized to the rel
  * schema's from/to orientation. `filters` only populate for UNBOUND
  * endpoints (inline props desugared against the synthetic alias); a
  * bound endpoint's inline props become ordinary residual filters. */
final case class PredEndpoint(
    alias: String,
    bound: Boolean,
    schema: NodeSchema,
    filters: Seq[Expr])

/** `COUNT { (a)-[:R]->(n) [WHERE ...] }` resolved: the pattern's pair set
  * is grouped by its bound-side key(s) and left-joined back onto the main
  * frame as column `outName` (0 for rows with no match). A pattern
  * comprehension rides the same shape with `proj` set: the aggregate is
  * `sort_array(collect_list(proj))` and rows with no match get []. */
final case class ResolvedCountSub(outName: String, pred: ResolvedPatternPred,
    proj: Option[Expr] = None)

/** `WHERE [NOT] (a)-[:R]->(b)` resolved to a semi/anti-join spec
  * (extension — the reference grammar rejects patterns as expressions).
  * `bothOrientations`: undirected same-label predicate matches either
  * edge direction. `alwaysFalse`: the written direction/labels contradict
  * the schema — positive predicate yields an empty result, negated one is
  * a no-op (mirrors the main-pattern wrong-direction semantics). */
final case class ResolvedPatternPred(
    schema: RelSchema,
    relAlias: String,
    relFilters: Seq[Expr],
    fromEnd: PredEndpoint,
    toEnd: PredEndpoint,
    bothOrientations: Boolean,
    negated: Boolean,
    alwaysFalse: Boolean,
    /** Correlated / cross-alias WHERE conjuncts riding the semi/anti-join
      * CONDITION: they reference subquery-local aliases (whose referenced
      * columns the pair set carries) AND/OR outer aliases (resolved
      * against the main frame). Under NOT this is the only sound home for
      * outer-referencing conditions — hoisting would negate them too. */
    joinConds: Seq[Expr] = Seq.empty,
    /** Extra expressions whose subquery-local property references must
      * ride the pair set as carried columns (a pattern comprehension's
      * projection) — they never join or filter. */
    carryExprs: Seq[Expr] = Seq.empty)

/** Semantic analysis: label/relationship inference (reference
  * analyzer/schema_inference.rs), direction validation
  * (query_validation.rs:43-132), filter tagging (filter_tagging.rs),
  * anchor selection (optimizer/anchor_node_selection.rs:38-78).
  *
  * Everything *physical* (join strategy, pushdown, pruning) is left to
  * Catalyst — see SURVEY.md §4.
  */
object Planner {

  private final case class RawEdge(
      alias: String, relType: Option[String],
      src: String, dst: String, undirected: Boolean,
      inline: Seq[Expr], varLength: Option[(Int, Int)],
      block: Int, // -1 = main pattern, i = optionalMatches(i)
      shortest: Boolean = false, pathAlias: Option[String] = None,
      allShortest: Boolean = false,
      /** `[:A|B]` alternation: types beyond relType. */
      altTypes: Seq[String] = Nil)

  def plan(q: ReadQuery, catalog: GraphCatalog,
      ambientCols: Set[String] = Set.empty): GraphPlan = {
    var synthetic = 0
    def fresh(prefix: String): String = { synthetic += 1; s"__$prefix$synthetic" }

    // -- collect node aliases, labels, inline filters ------------------------
    val labels = scala.collection.mutable.Map[String, Option[String]]()
    val nodeInline = scala.collection.mutable.Map[String, Vector[Expr]]().withDefaultValue(Vector.empty)
    val order = scala.collection.mutable.ArrayBuffer[String]() // pattern order

    // inline props on an alias that pre-exists the current optional block
    // must join-condition-filter, not scan-filter, the main side
    var blockResidualSink: Option[scala.collection.mutable.ArrayBuffer[Expr]] = None

    def registerNode(n: NodePattern): String = {
      val alias = n.alias.getOrElse(fresh("n"))
      var preExisting = true
      labels.get(alias) match {
        case Some(existing) =>
          (existing, n.label) match {
            case (Some(a), Some(b)) if a != b =>
              throw new GraftException(s"alias '$alias' bound to two labels: $a, $b")
            case (None, some @ Some(_)) => labels(alias) = some
            case _ =>
          }
        case None =>
          labels(alias) = n.label
          order += alias
          preExisting = false
      }
      val inline = n.props.map { case (k, v) => Expr.Bin("=", Expr.Prop(alias, k), v) }
      blockResidualSink match {
        case Some(sink) if preExisting => sink ++= inline
        case _ => nodeInline(alias) = nodeInline(alias) ++ inline
      }
      alias
    }

    val rawEdges = scala.collection.mutable.ArrayBuffer[RawEdge]()
    for (path <- q.paths) {
      var prev = registerNode(path.start)
      for ((rel, node) <- path.hops) {
        val cur = registerNode(node)
        val relAlias = rel.alias.getOrElse(fresh("r"))
        val inline = rel.props.map { case (k, v) => Expr.Bin("=", Expr.Prop(relAlias, k), v) }
        val e = rel.dir match {
          case Dir.Out        => RawEdge(relAlias, rel.relType, prev, cur, undirected = false, inline, rel.varLength, -1, rel.shortest, rel.pathAlias, rel.allShortest, rel.altTypes)
          case Dir.In         => RawEdge(relAlias, rel.relType, cur, prev, undirected = false, inline, rel.varLength, -1, rel.shortest, rel.pathAlias, rel.allShortest, rel.altTypes)
          case Dir.Undirected => RawEdge(relAlias, rel.relType, prev, cur, undirected = true, inline, rel.varLength, -1, rel.shortest, rel.pathAlias, rel.allShortest, rel.altTypes)
        }
        rawEdges += e
        prev = cur
      }
    }
    val mainAliases: Set[String] = order.toSet
    val mainEdgeCount = rawEdges.size

    // -- OPTIONAL MATCH blocks -------------------------------------------------
    val blockResiduals = q.optionalMatches.indices
      .map(_ => scala.collection.mutable.ArrayBuffer[Expr]())
    val blockNewAliases = scala.collection.mutable.ArrayBuffer[Set[String]]()
    for ((blk, bi) <- q.optionalMatches.zipWithIndex) {
      blockResidualSink = Some(blockResiduals(bi))
      val before = order.toSet
      for (path <- blk.paths) {
        var prev = registerNode(path.start)
        for ((rel, node) <- path.hops) {
          val cur = registerNode(node)
          val relAlias = rel.alias.getOrElse(fresh("r"))
          val inline = rel.props.map { case (k, v) => Expr.Bin("=", Expr.Prop(relAlias, k), v) }
          val e = rel.dir match {
            case Dir.Out        => RawEdge(relAlias, rel.relType, prev, cur, undirected = false, inline, rel.varLength, bi, altTypes = rel.altTypes)
            case Dir.In         => RawEdge(relAlias, rel.relType, cur, prev, undirected = false, inline, rel.varLength, bi, altTypes = rel.altTypes)
            case Dir.Undirected => RawEdge(relAlias, rel.relType, prev, cur, undirected = true, inline, rel.varLength, bi, altTypes = rel.altTypes)
          }
          rawEdges += e
          prev = cur
        }
      }
      blockNewAliases += (order.toSet -- before)
      blockResidualSink = None
    }

    // standalone anonymous node is not allowed (reference match_clause.rs:271-275)
    if (rawEdges.isEmpty && q.paths.exists(p => p.hops.isEmpty && p.start.alias.isEmpty))
      throw new GraftException("standalone node pattern must be named")

    // -- connectivity: multi-path patterns must share an alias ----------------
    if (q.paths.size > 1) {
      val parent = scala.collection.mutable.Map[String, String]()
      def find(x: String): String = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
      def union(a: String, b: String): Unit = parent(find(a)) = find(b)
      mainAliases.foreach(a => parent(a) = a)
      rawEdges.take(mainEdgeCount).foreach(e => union(e.src, e.dst))
      val roots = mainAliases.map(find)
      if (roots.size > 1)
        throw new DisconnectedPatternException(
          "disconnected match patterns (no shared alias)") // reference logical_plan/match_clause.rs:202-204
    }
    // each optional block must attach to an already-bound alias
    var boundSoFar = mainAliases
    for (bi <- q.optionalMatches.indices) {
      val blockEdges = rawEdges.filter(_.block == bi)
      if (blockEdges.isEmpty)
        throw new DisconnectedPatternException(
          s"OPTIONAL MATCH #${bi + 1} must contain at least one relationship")
      val touched = blockEdges.flatMap(e => Seq(e.src, e.dst)).toSet
      if (touched.intersect(boundSoFar).isEmpty)
        throw new DisconnectedPatternException(
          s"OPTIONAL MATCH #${bi + 1} shares no alias with the preceding pattern")
      boundSoFar ++= blockNewAliases(bi)
    }

    // -- label / relationship inference (fixpoint) ---------------------------
    final case class EdgeState(raw: RawEdge, var schema: Option[RelSchema],
                               var srcIsFrom: Boolean = true,
                               var invalid: Boolean = false,
                               var sameLabelUndirected: Boolean = false)
    val states = rawEdges.map(e => new EdgeState(e, e.relType.map(catalog.rel))).toSeq

    // [:A|B] alternation: every alternated type must connect the SAME
    // labels as the first — label inference then needs only the primary
    // schema, and the builder unions the edge tables
    for (st <- states; if st.raw.altTypes.nonEmpty; primary <- st.schema;
         alt <- st.raw.altTypes.map(catalog.rel))
      if (alt.fromLabel != primary.fromLabel || alt.toLabel != primary.toLabel)
        throw new GraftException(
          s"type alternation [:${primary.label}|${alt.label}] requires all " +
          s"types to connect the same labels: :${primary.label} is " +
          s"(${primary.fromLabel})->(${primary.toLabel}) but :${alt.label} " +
          s"is (${alt.fromLabel})->(${alt.toLabel})")

    var changed = true
    while (changed) {
      changed = false
      for (st <- states; if !st.invalid) {
        val e = st.raw
        st.schema match {
          case Some(s) =>
            val srcL = labels(e.src); val dstL = labels(e.dst)
            if (!e.undirected) {
              // directed: src must be fromLabel, dst toLabel
              (srcL, dstL) match {
                case (Some(a), _) if a != s.fromLabel => st.invalid = true
                case (_, Some(b)) if b != s.toLabel   => st.invalid = true
                case _ =>
                  if (srcL.isEmpty) { labels(e.src) = Some(s.fromLabel); changed = true }
                  if (dstL.isEmpty) { labels(e.dst) = Some(s.toLabel); changed = true }
                  st.srcIsFrom = true
              }
            } else {
              if (s.fromLabel == s.toLabel) {
                st.sameLabelUndirected = true
                if (srcL.isEmpty) { labels(e.src) = Some(s.fromLabel); changed = true }
                if (dstL.isEmpty) { labels(e.dst) = Some(s.toLabel); changed = true }
                if (labels(e.src).exists(_ != s.fromLabel) || labels(e.dst).exists(_ != s.toLabel))
                  st.invalid = true
              } else {
                (srcL, dstL) match {
                  case (Some(a), _) if a == s.fromLabel =>
                    st.srcIsFrom = true
                    if (dstL.isEmpty) { labels(e.dst) = Some(s.toLabel); changed = true }
                    else if (!dstL.contains(s.toLabel)) st.invalid = true
                  case (Some(a), _) if a == s.toLabel =>
                    st.srcIsFrom = false
                    if (dstL.isEmpty) { labels(e.src) = Some(s.toLabel); labels(e.dst) = Some(s.fromLabel); changed = true }
                    else if (!dstL.contains(s.fromLabel)) st.invalid = true
                  case (Some(_), _) => st.invalid = true
                  case (None, Some(b)) if b == s.toLabel =>
                    st.srcIsFrom = true; labels(e.src) = Some(s.fromLabel); changed = true
                  case (None, Some(b)) if b == s.fromLabel =>
                    st.srcIsFrom = false; labels(e.src) = Some(s.toLabel); changed = true
                  case (None, Some(_)) => st.invalid = true
                  case (None, None) => // wait for more info; resolved after loop
                }
              }
            }
          case None =>
            // rel type unknown: infer from endpoint labels (reference
            // schema_inference.rs:375-391 — first match wins)
            (labels(e.src), labels(e.dst)) match {
              case (Some(a), Some(b)) =>
                val forward = catalog.relsBetween(a, b)
                val backward = if (e.undirected) catalog.relsBetween(b, a) else Seq.empty
                (forward.headOption, backward.headOption) match {
                  case (Some(s), _) => st.schema = Some(s); st.srcIsFrom = true
                    st.sameLabelUndirected = e.undirected && s.fromLabel == s.toLabel
                    changed = true
                  case (None, Some(s)) => st.schema = Some(s); st.srcIsFrom = false; changed = true
                  case (None, None) => st.invalid = true // no connecting rel ⇒ empty result
                }
              case _ => // wait
            }
        }
      }
    }

    // unresolved undirected different-label edges with no endpoint info:
    // orient in pattern order (src = fromLabel)
    for (st <- states; if !st.invalid) {
      val e = st.raw
      st.schema match {
        case Some(s) =>
          if (labels(e.src).isEmpty) labels(e.src) = Some(if (st.srcIsFrom) s.fromLabel else s.toLabel)
          if (labels(e.dst).isEmpty) labels(e.dst) = Some(if (st.srcIsFrom) s.toLabel else s.fromLabel)
        case None =>
          throw new GraftException(
            s"could not infer relationship type for '${e.alias}' " +
            "(no endpoint labels known)")
      }
    }

    for (a <- order; if labels(a).isEmpty)
      throw new GraftException(s"could not infer label for node '$a'")

    // -- filter tagging -------------------------------------------------------
    val relAliases = states.map(_.raw.alias).toSet
    val nodeAliases = order.toSet
    val whereConjs = q.where.map(Expr.conjuncts).getOrElse(Seq.empty)
    val nodePushed = scala.collection.mutable.Map[String, Vector[Expr]]().withDefaultValue(Vector.empty)
    val relPushed = scala.collection.mutable.Map[String, Vector[Expr]]().withDefaultValue(Vector.empty)
    val residual = scala.collection.mutable.ArrayBuffer[Expr]()

    for ((a, fs) <- nodeInline; f <- fs) nodePushed(a) = nodePushed(a) :+ f
    for (st <- states; f <- st.raw.inline) relPushed(st.raw.alias) = relPushed(st.raw.alias) :+ f

    val mainRelAliases = rawEdges.take(mainEdgeCount).map(_.alias).toSet

    // -- WHERE pattern predicates: `[NOT] (a)-[:R]->(b)` ⇒ semi/anti join ----
    val patternPreds = scala.collection.mutable.ArrayBuffer[ResolvedPatternPred]()
    /** `subWhere`/`named` serve the braced `EXISTS { }` / `COUNT { }`
      * forms: the body may NAME new aliases and filter them in its WHERE.
      * `hoistOuter`: a WHERE conjunct referencing only OUTER aliases is
      * equivalent to a residual filter for a positive EXISTS in WHERE
      * position — but belongs inside the existential under NOT, and would
      * wrongly filter main rows for COUNT, so both of those reject it. */
    def resolvePatternPred(p: PathPattern, negated: Boolean,
        subWhere: Seq[Expr] = Seq.empty, named: Boolean = false,
        hoistOuter: Boolean = true,
        allowJoinConds: Boolean = true): ResolvedPatternPred = {
      if (p.hops.size != 1)
        throw new GraftException(
          "pattern predicates support exactly one relationship hop")
      val (rel, endPat) = p.hops.head
      if (rel.varLength.isDefined)
        throw new GraftException("pattern predicates cannot use var-length hops")
      val (srcPat, dstPat) = (p.start, endPat)

      def boundOf(np: NodePattern): Option[String] = np.alias.filter(mainAliases)
      for (np <- Seq(srcPat, dstPat); a <- np.alias if !mainAliases(a)) {
        if (nodeAliases(a))
          throw new GraftException(
            "WHERE on the main MATCH cannot reference aliases introduced by a " +
            "later OPTIONAL MATCH (out of scope)")
        if (!named)
          // a NAMED alias that binds nothing is almost certainly a typo —
          // openCypher rejects undefined variables; BARE pattern-predicate
          // existentials must be anonymous: (), (:Label) or ({props})
          throw new GraftException(
            s"undefined alias '$a' in pattern predicate; use an anonymous " +
            "node for an existential endpoint")
        if (relAliases(a))
          throw new GraftException(
            s"subquery alias '$a' shadows a relationship alias")
      }
      val newNodeAliases: Set[String] =
        Seq(srcPat, dstPat).flatMap(_.alias).filterNot(mainAliases).toSet
      if (newNodeAliases.nonEmpty &&
          srcPat.alias.exists(a => dstPat.alias.contains(a) && !mainAliases(a)))
        throw new GraftException(
          s"subquery endpoints cannot share the alias '${srcPat.alias.get}'")
      val newRelAlias: Option[String] = if (named) rel.alias else None
      for (a <- newRelAlias if nodeAliases(a) || relAliases(a) ||
             mainAliases(a) || newNodeAliases(a))
        throw new GraftException(
          s"subquery relationship alias '$a' shadows another alias")
      val subLocal = newNodeAliases ++ newRelAlias
      val srcBound = boundOf(srcPat); val dstBound = boundOf(dstPat)
      if (srcBound.isEmpty && dstBound.isEmpty)
        throw new GraftException(
          "a pattern predicate must anchor on at least one bound alias")
      def labelOf(np: NodePattern, bound: Option[String]): Option[String] =
        bound.flatMap(labels(_)).orElse(np.label)
      for ((np, b) <- Seq((srcPat, srcBound), (dstPat, dstBound)); a <- b;
           written <- np.label; actual <- labels(a) if written != actual)
        throw new GraftException(
          s"pattern predicate label :$written conflicts with $a's label :$actual")
      val srcL = labelOf(srcPat, srcBound); val dstL = labelOf(dstPat, dstBound)

      def fits(s: RelSchema, a: Option[String], b: Option[String]): Boolean =
        a.forall(_ == s.fromLabel) && b.forall(_ == s.toLabel)
      if (rel.altTypes.nonEmpty)
        throw new GraftException(
          "type alternation [:A|B] is supported in MATCH patterns only, " +
          "not in pattern predicates / EXISTS { } / COUNT { } / pattern " +
          "comprehensions; OR two single-type predicates instead")
      val candidates = rel.relType match {
        case Some(t) => Seq(catalog.rel(t))
        case None    => catalog.rels.values.toSeq.sortBy(_.label)
      }
      // (schema, srcIsFrom) orientations compatible with direction+labels
      val fitting: Seq[(RelSchema, Boolean)] = candidates.flatMap { s =>
        val normal = fits(s, srcL, dstL)
        val swapped = fits(s, dstL, srcL)
        rel.dir match {
          case Dir.Out => if (normal) Seq((s, true)) else Seq.empty
          case Dir.In  => if (swapped) Seq((s, false)) else Seq.empty
          case Dir.Undirected =>
            (if (normal) Seq((s, true)) else Seq.empty) ++
            (if (swapped) Seq((s, false)) else Seq.empty)
        }
      }
      if (rel.relType.isEmpty && fitting.map(_._1.label).distinct.size > 1)
        throw new GraftException(
          s"ambiguous pattern predicate: matches ${fitting.map(_._1.label).distinct.mkString(", ")}")
      if (rel.relType.isEmpty && fitting.isEmpty)
        throw new GraftException(
          "cannot infer a relationship type for the pattern predicate")

      val relAlias = newRelAlias.getOrElse(fresh("ppr"))

      // -- distribute the braced form's WHERE conjuncts ---------------------
      // each conjunct referencing exactly one subquery-local alias becomes a
      // filter inside the existential (endpoint scan or edge); outer-only
      // conjuncts hoist to the residual when that is semantics-preserving
      val extraEnd = scala.collection.mutable.Map[String, Vector[Expr]]()
        .withDefaultValue(Vector.empty)
      val extraRel = scala.collection.mutable.ArrayBuffer[Expr]()
      val joinConds = scala.collection.mutable.ArrayBuffer[Expr]()
      for (c <- subWhere) {
        if (Expr.containsPatternPred(c) || Expr.containsCountSub(c))
          throw new GraftException(
            "nested pattern / COUNT subqueries inside EXISTS { } are not supported")
        if (Expr.isAggregate(c))
          throw new GraftException(
            "aggregate functions are not allowed inside an EXISTS { } WHERE")
        val refs = Expr.referencedNames(c)
        val unknown = refs -- subLocal -- nodeAliases -- relAliases -- ambientCols
        if (unknown.nonEmpty)
          throw new GraftException(
            s"undefined alias '${unknown.head}' in subquery WHERE")
        val rNew = refs.intersect(subLocal)
        // any OUTER reference (correlated, cross-alias, or hoisted) must
        // be a main-pattern or ambient name: the semi/anti join runs
        // BEFORE optional blocks attach, so a later OPTIONAL MATCH alias
        // does not exist on the frame yet — reject it with a targeted
        // error instead of a raw analysis failure
        def checkOuterScope(): Unit =
          if ((refs -- subLocal).exists(a =>
              !mainAliases(a) && !mainRelAliases(a) && !ambientCols(a)))
            throw new GraftException(
              "subquery WHERE cannot reference aliases introduced by a " +
              "later OPTIONAL MATCH (out of scope)")
        if (rNew.size == 1 && (refs -- rNew).isEmpty) {
          // single local alias, no outer references: a scan-level filter
          val a = rNew.head
          if (newNodeAliases(a)) extraEnd(a) = extraEnd(a) :+ c
          else extraRel += c
        } else if (rNew.isEmpty) {
          // outer-only conjunct
          if (hoistOuter) {
            checkOuterScope()
            residual += c
          } else if (allowJoinConds) {
            // NOT EXISTS: the condition belongs INSIDE the negated
            // existential — hoisting would negate it too
            checkOuterScope()
            joinConds += c
          } else {
            throw new GraftException(
              "this subquery's WHERE conjuncts must reference a " +
              "subquery-local alias; move outer-only conditions out of the " +
              "subquery (for COUNT, wrap the count in CASE WHEN instead)")
          }
        } else {
          // correlated (local + outer) or cross-alias (two locals):
          // rides the semi/anti-join condition
          if (!allowJoinConds)
            throw new GraftException(
              "COUNT { } WHERE conjuncts must reference exactly one " +
              "subquery-local alias; for correlated conditions use a " +
              "correlated CALL { } subquery instead")
          checkOuterScope()
          joinConds += c
        }
      }

      val relFilters = rel.props.map { case (k, v) =>
        if (Expr.leafRefs(v).nonEmpty)
          throw new GraftException(
            "pattern predicate property values must be literals or parameters")
        Expr.Bin("=", Expr.Prop(relAlias, k), v)
      } ++ extraRel
      def endpoint(np: NodePattern, bound: Option[String], label: String): PredEndpoint =
        bound match {
          case Some(a) =>
            // bound endpoint's inline props desugar to plain residual
            // filters — valid ONLY for a positive predicate (under NOT the
            // prop belongs inside the negated existential, not outside it)
            if ((negated || !hoistOuter) && np.props.nonEmpty)
              throw new GraftException(
                s"inline properties on bound alias '$a' inside NOT(pattern) " +
                "or COUNT { } are ambiguous; move the condition into WHERE " +
                "explicitly")
            for ((k, v) <- np.props) residual += Expr.Bin("=", Expr.Prop(a, k), v)
            PredEndpoint(a, bound = true, catalog.node(labels(a).get), Seq.empty)
          case None =>
            val alias = np.alias.getOrElse(fresh("ppn"))
            val fs = np.props.map { case (k, v) =>
              if (Expr.leafRefs(v).nonEmpty)
                throw new GraftException(
                  "pattern predicate property values must be literals or parameters")
              Expr.Bin("=", Expr.Prop(alias, k), v)
            } ++ extraEnd(alias)
            PredEndpoint(alias, bound = false, catalog.node(label), fs)
        }
      fitting match {
        case Seq() => // explicit rel type, direction/labels contradict: const false
          val s = candidates.head
          // honor WRITTEN endpoint labels: a pattern comprehension over a
          // contradictory direction still compiles its projection against
          // the endpoint the user named (for the typed [] column) — the
          // schema's own from/to labels are only a fallback
          ResolvedPatternPred(s, relAlias, relFilters,
            endpoint(srcPat, srcBound, srcPat.label.getOrElse(s.fromLabel)),
            endpoint(dstPat, dstBound, dstPat.label.getOrElse(s.toLabel)),
            bothOrientations = false, negated = negated, alwaysFalse = true)
        case orients =>
          val s = orients.head._1
          val both = orients.size > 1 && s.fromLabel == s.toLabel
          val srcIsFrom = orients.head._2
          val (fromPat, fromBound, toPat, toBound) =
            if (srcIsFrom) (srcPat, srcBound, dstPat, dstBound)
            else (dstPat, dstBound, srcPat, srcBound)
          // bare local endpoint references inside correlated conjuncts
          // (`WHERE n = m`) become id-column props so the builder only
          // ever resolves Prop(localAlias, col) against carried columns
          val idColOf: Map[String, String] =
            Seq((fromPat, s.fromLabel), (toPat, s.toLabel)).flatMap {
              case (np, lbl) => np.alias.filter(newNodeAliases)
                .map(_ -> catalog.node(lbl).idColumn)
            }.toMap
          def localVarsToProps(e: Expr): Expr = e match {
            case Expr.Var(a) if idColOf.contains(a) => Expr.Prop(a, idColOf(a))
            case Expr.Var(a) if newRelAlias.contains(a) =>
              throw new GraftException(
                s"subquery relationship alias '$a' has no value form; " +
                "reference its properties instead")
            case Expr.Fn(n, as, d)  => Expr.Fn(n, as.map(localVarsToProps), d)
            case Expr.Bin(o, l, r)  => Expr.Bin(o, localVarsToProps(l), localVarsToProps(r))
            case Expr.Not(x)        => Expr.Not(localVarsToProps(x))
            case Expr.Neg(x)        => Expr.Neg(localVarsToProps(x))
            case Expr.IsNull(x, ng) => Expr.IsNull(localVarsToProps(x), ng)
            case Expr.ListLit(xs)   => Expr.ListLit(xs.map(localVarsToProps))
            case Expr.CaseWhen(bs, o) => Expr.CaseWhen(
              bs.map { case (cc, v) => (localVarsToProps(cc), localVarsToProps(v)) },
              o.map(localVarsToProps))
            case other => other
          }
          ResolvedPatternPred(s, relAlias, relFilters,
            endpoint(fromPat, fromBound, s.fromLabel),
            endpoint(toPat, toBound, s.toLabel),
            bothOrientations = both, negated = negated, alwaysFalse = false,
            joinConds = joinConds.toSeq.map(localVarsToProps))
      }
    }

    // `exists((a)-[:R]->(b))` is the function spelling of a bare pattern
    // predicate — normalize before dispatch
    def unwrapExists(e: Expr): Expr = e match {
      case Expr.Fn(n, Seq(p: Expr.PatternPred), false)
        if n.equalsIgnoreCase("exists") => p
      case Expr.Not(inner) => unwrapExists(inner) match {
        case p: Expr.PatternPred => Expr.Not(p)
        case _                   => e
      }
      case other => other
    }

    for (c0 <- whereConjs) {
      val c = unwrapExists(c0)
      c match {
        case Expr.PatternPred(p) =>
          patternPreds += resolvePatternPred(p, negated = false)
        case Expr.Not(Expr.PatternPred(p)) =>
          patternPreds += resolvePatternPred(p, negated = true)
        case Expr.ExistsSub(p, w) =>
          patternPreds += resolvePatternPred(p, negated = false,
            subWhere = w.map(Expr.conjuncts).getOrElse(Seq.empty), named = true)
        case Expr.Not(Expr.ExistsSub(p, w)) =>
          patternPreds += resolvePatternPred(p, negated = true,
            subWhere = w.map(Expr.conjuncts).getOrElse(Seq.empty), named = true,
            hoistOuter = false)
        case _ if Expr.containsCountSub(c) =>
          throw new GraftException(
            "COUNT { } / pattern comprehensions are not allowed in WHERE; " +
            "compute the value in a WITH stage and filter on its alias " +
            "(WITH ..., COUNT { ... } AS n WHERE n > 0)")
        case _ if Expr.containsPatternPred(c) =>
          throw new GraftException(
            "pattern predicates and EXISTS { } are only supported as " +
            "top-level WHERE conjuncts, optionally under a single NOT")
        case _ =>
          val allRefs = Expr.referencedNames(c).intersect(nodeAliases ++ relAliases)
          if (allRefs.exists(a => !mainAliases(a) && !mainRelAliases(a)))
            throw new GraftException(
              "WHERE on the main MATCH cannot reference aliases introduced by a " +
              "later OPTIONAL MATCH (out of scope)")
          if (Expr.isAggregate(c))
            throw new GraftException(
              "aggregate functions are not allowed in WHERE; filter after " +
              "aggregation with 'WITH ... WHERE' instead")
          // a conjunct referencing any BARE name that is not a pattern
          // alias (a leading CALL { } output column) cannot push to a
          // scan — the column only exists after the ambient cross-join
          val bareExtra =
            Expr.referencedNames(c).diff(nodeAliases ++ relAliases).nonEmpty
          allRefs.toSeq match {
            case Seq(single) if nodeAliases(single) && !bareExtra =>
              nodePushed(single) = nodePushed(single) :+ c
            case Seq(single) if relAliases(single) && !bareExtra =>
              relPushed(single) = relPushed(single) :+ c
            case _ => residual += c
          }
      }
    }
    // optional-block WHERE: internal single-alias conjuncts push to scans
    // inside the block; everything else joins the ON condition
    for ((blk, bi) <- q.optionalMatches.zipWithIndex) {
      val internalNodes = blockNewAliases(bi)
      val internalRels = rawEdges.filter(_.block == bi).map(_.alias).toSet
      for (c <- blk.where.map(Expr.conjuncts).getOrElse(Seq.empty)) {
        if (Expr.containsPatternPred(c) || Expr.containsCountSub(c))
          throw new GraftException(
            "pattern predicates are only supported in the main MATCH's WHERE")
        // same guard as the main WHERE: a bare non-alias name (a leading
        // CALL output column) only exists after the ambient cross-join
        val bareExtraOpt =
          Expr.referencedNames(c).diff(nodeAliases ++ relAliases).nonEmpty
        Expr.referencedNames(c).intersect(nodeAliases ++ relAliases).toSeq match {
          case Seq(single) if internalNodes(single) && !bareExtraOpt =>
            nodePushed(single) = nodePushed(single) :+ c
          case Seq(single) if internalRels(single) && !bareExtraOpt =>
            relPushed(single) = relPushed(single) :+ c
          case _ => blockResiduals(bi) += c
        }
      }
    }

    // -- anchor selection (reference anchor_node_selection.rs:38-78) ----------
    val anchor = order.filter(mainAliases).maxBy { a =>
      val fs = nodePushed(a)
      (fs.size, if (fs.exists(Expr.containsOr)) 1 else 0, -order.indexOf(a))
    }

    // -- referenced columns per alias -----------------------------------------
    val allExprs: Seq[Expr] =
      q.where.toSeq ++ q.returnItems.map(_.expr) ++ q.orderBy.map(_.expr) ++
      q.withStages.flatMap(s => s.items.map(_.expr) ++ s.where.toSeq) ++
      nodeInline.values.flatten ++ states.flatMap(_.raw.inline) ++
      q.optionalMatches.flatMap(_.where) ++ blockResiduals.flatten
    // properties(r) and the r {.*} spread expand (in the builder) to
    // EVERY property column of the relationship — the pruner and the
    // adjacency-index gate must see those refs here, or an indexed edge
    // would serve a frame carrying only its endpoints (the latent form of
    // this bug: properties(r) on an adj-indexed rel resolved against a
    // __src/__dst-only scan)
    val relSchemaByAlias: Map[String, RelSchema] =
      states.flatMap(st => st.schema.map(st.raw.alias -> _)).toMap
    def relPropColsOf(a: String): Seq[String] = {
      val s = relSchemaByAlias(a)
      s.columns.filterNot(c => c == s.fromColumn || c == s.toColumn)
    }
    def relSpreadRefs(e: Expr): Seq[(String, String)] = {
      val self = e match {
        case Expr.Fn(n, Seq(Expr.Var(a)), _)
          if n.equalsIgnoreCase("properties") && relSchemaByAlias.contains(a) =>
          relPropColsOf(a).map(a -> _)
        case Expr.Fn("__map_proj", Expr.Var(a) +: pairs, _)
          if relSchemaByAlias.contains(a) && pairs.exists {
            case Expr.Fn("__props_spread", _, _) => true; case _ => false
          } =>
          relPropColsOf(a).map(a -> _)
        case _ => Nil
      }
      self ++ Expr.subexprs(e).flatMap(relSpreadRefs)
    }
    val refProps: Map[String, Set[String]] =
      (allExprs.flatMap(Expr.propRefs) ++ allExprs.flatMap(relSpreadRefs))
        .groupBy(_._1).map { case (a, ps) => a -> ps.map(_._2).toSet }

    // ListMap: preserve pattern order (RETURN * expansion + deterministic
    // join construction depend on it)
    val nodes = scala.collection.immutable.ListMap(order.map { a =>
      a -> ResolvedNode(a, catalog.node(labels(a).get), nodePushed(a))
    }.toSeq: _*)

    val edges = states.map { st =>
      st.raw.varLength.foreach { case (lo, hi) =>
        val sch = st.schema.get
        if (lo < 1 || hi < lo)
          throw new GraftException(s"invalid var-length bounds *$lo..$hi on '${st.raw.alias}'")
        if (hi > 1 && sch.fromLabel != sch.toLabel)
          throw new GraftException(
            s"var-length hop on '${st.raw.alias}' requires a same-label relationship " +
            s"(${sch.label}: ${sch.fromLabel}->${sch.toLabel} cannot compose)")
        // per-edge FILTERS are fine on a var-length hop (every traversed
        // relationship must satisfy them — standard Cypher; the builder
        // applies them to the hop base before composition). Reading a
        // rel property OUT of the hop stays rejected: a value "of r"
        // is ambiguous across the composed relationships.
        val filterCols = relPushed(st.raw.alias).flatMap(Expr.propRefs)
          .collect { case (a, c) if a == st.raw.alias => c }.toSet
        val outside = refProps.getOrElse(st.raw.alias, Set.empty) -- filterCols
        if (outside.nonEmpty)
          throw new GraftException(
            s"relationship properties on the var-length hop '${st.raw.alias}' " +
            "can only be filtered (every edge of the path must satisfy the " +
            "predicate); returning or comparing them outside the hop filter " +
            "is ambiguous across the composed relationships")
      }
      ResolvedEdge(st.raw.alias, st.schema.get, st.raw.src, st.raw.dst,
        st.srcIsFrom, st.sameLabelUndirected, st.invalid, relPushed(st.raw.alias),
        st.raw.varLength, st.raw.shortest, st.raw.pathAlias, st.raw.allShortest,
        st.raw.altTypes.map(catalog.rel))
    }
    val (mainEdges, optEdges) = edges.zip(states).partition(_._2.raw.block == -1)

    val optionalBlocks = q.optionalMatches.indices.map { bi =>
      ResolvedOptionalBlock(
        optEdges.collect { case (e, st) if st.raw.block == bi => e },
        blockNewAliases(bi),
        blockResiduals(bi).reduceOption(Expr.Bin("AND", _, _)))
    }

    // both kinds of path binding: shortestPath (length only) and plain
    // var-length (materialized __nodes/__edges arrays)
    val pathAliases: Map[String, String] = rawEdges.collect {
      case e if e.pathAlias.isDefined => e.pathAlias.get -> e.alias
    }.toMap

    // -- COUNT { } projection subqueries --------------------------------------
    // Allowed only in the FIRST projection (first WITH stage, or RETURN when
    // there are no stages): the count column is computed on the main frame
    // before stages run, so a later stage would have projected it away.
    // Each occurrence is replaced by a Var onto the joined count column.
    val countSubs = scala.collection.mutable.ArrayBuffer[ResolvedCountSub]()
    def rewriteCounts(e: Expr): Expr = e match {
      case Expr.CountSub(p, w) =>
        val name = s"__cnt${countSubs.size}"
        countSubs += ResolvedCountSub(name, resolvePatternPred(p,
          negated = false, subWhere = w.map(Expr.conjuncts).getOrElse(Seq.empty),
          named = true, hoistOuter = false, allowJoinConds = false))
        Expr.Var(name)
      case Expr.PatternComp(p, w, proj) =>
        val name = s"__cnt${countSubs.size}"
        val rp = resolvePatternPred(p,
          negated = false, subWhere = w.map(Expr.conjuncts).getOrElse(Seq.empty),
          named = true, hoistOuter = false, allowJoinConds = false)
        // the projection may reference only the pattern's own aliases:
        // a bound-outer property is constant per group (write it outside
        // the brackets), and anything else is out of scope
        val locals = Set(rp.relAlias) ++
          Seq(rp.fromEnd, rp.toEnd).filterNot(_.bound).map(_.alias)
        val idColOfLocal: Map[String, String] =
          Seq(rp.fromEnd, rp.toEnd).filterNot(_.bound)
            .map(e => e.alias -> e.schema.idColumn).toMap
        def localProj(e: Expr): Expr = e match {
          case Expr.Var(a) if idColOfLocal.contains(a) =>
            Expr.Prop(a, idColOfLocal(a))
          case Expr.Var(a) if a == rp.relAlias =>
            throw new GraftException(
              s"relationship alias '$a' has no value form inside a pattern " +
              "comprehension; project its properties instead")
          case Expr.Fn(n, as, d)  => Expr.Fn(n, as.map(localProj), d)
          case Expr.Bin(o, l, r)  => Expr.Bin(o, localProj(l), localProj(r))
          case Expr.Not(x)        => Expr.Not(localProj(x))
          case Expr.Neg(x)        => Expr.Neg(localProj(x))
          case Expr.IsNull(x, ng) => Expr.IsNull(localProj(x), ng)
          case Expr.ListLit(xs)   => Expr.ListLit(xs.map(localProj))
          case Expr.CaseWhen(bs, o) => Expr.CaseWhen(
            bs.map { case (c, v) => (localProj(c), localProj(v)) },
            o.map(localProj))
          case other => other
        }
        val projRw = localProj(proj)
        if (Expr.containsCountSub(projRw) || Expr.containsPatternPred(projRw))
          throw new GraftException(
            "nested pattern / COUNT subqueries inside a pattern " +
            "comprehension projection are not supported")
        if (Expr.isAggregate(projRw))
          throw new GraftException(
            "aggregate functions are not allowed inside a pattern " +
            "comprehension projection")
        val outerRefs = Expr.referencedNames(projRw) -- locals
        if (outerRefs.nonEmpty)
          throw new GraftException(
            s"pattern comprehension projections may only reference the " +
            s"pattern's own aliases; '${outerRefs.head}' is outer scope " +
            "(bound values are constant per row — project them as separate " +
            "RETURN items)")
        countSubs += ResolvedCountSub(name,
          rp.copy(carryExprs = Seq(projRw)), Some(projRw))
        Expr.Var(name)
      case Expr.ExistsSub(_, _) | Expr.PatternPred(_) =>
        throw new GraftException(
          "EXISTS { } / pattern predicates are only supported in WHERE; " +
          "to project existence as a value use COUNT { ... } > 0 in a WITH")
      case Expr.Fn(n, as, d)  => Expr.Fn(n, as.map(rewriteCounts), d)
      case Expr.Bin(o, l, r)  => Expr.Bin(o, rewriteCounts(l), rewriteCounts(r))
      case Expr.Not(x)        => Expr.Not(rewriteCounts(x))
      case Expr.Neg(x)        => Expr.Neg(rewriteCounts(x))
      case Expr.IsNull(x, ng) => Expr.IsNull(rewriteCounts(x), ng)
      case Expr.ListLit(xs)   => Expr.ListLit(xs.map(rewriteCounts))
      case Expr.CaseWhen(bs, o) => Expr.CaseWhen(
        bs.map { case (c, v) => (rewriteCounts(c), rewriteCounts(v)) },
        o.map(rewriteCounts))
      case Expr.ListComp(v, l, w, p) =>
        Expr.ListComp(v, rewriteCounts(l), w.map(rewriteCounts), p.map(rewriteCounts))
      case Expr.Reduce(a, i, v, l, s) =>
        Expr.Reduce(a, rewriteCounts(i), v, rewriteCounts(l), rewriteCounts(s))
      case other => other
    }
    def rejectCounts(e: Expr, where: String): Unit =
      if (Expr.containsCountSub(e) || Expr.containsPatternPred(e))
        throw new GraftException(
          s"COUNT { } / EXISTS { } / pattern-comprehension subqueries are " +
          s"not supported in $where; compute the value in the first " +
          "WITH/RETURN projection")
    val (withStagesRw, returnItemsRw) =
      if (q.withStages.nonEmpty) {
        val first = q.withStages.head
        val firstRw = first.copy(
          items = first.items.map(it => it.copy(expr = rewriteCounts(it.expr))))
        for (st <- q.withStages.tail; it <- st.items)
          rejectCounts(it.expr, "a later WITH stage")
        for (st <- q.withStages; o <- st.orderBy) rejectCounts(o.expr, "ORDER BY")
        for (st <- q.withStages; w <- st.where) rejectCounts(w, "a WITH WHERE")
        for (it <- q.returnItems)
          rejectCounts(it.expr, "RETURN after WITH stages")
        (firstRw +: q.withStages.tail, q.returnItems)
      } else {
        val itemsRw = q.returnItems.map(it => it.copy(expr = rewriteCounts(it.expr)))
        (q.withStages, itemsRw)
      }
    for (o <- q.orderBy) rejectCounts(o.expr, "ORDER BY")

    GraphPlan(nodes, mainEdges.map(_._1), anchor,
      residual.reduceOption(Expr.Bin("AND", _, _)),
      withStagesRw, returnItemsRw, q.returnDistinct, q.orderBy, q.skip, q.limit,
      refProps, optionalBlocks, q.unwinds, patternPreds.toSeq, pathAliases,
      countSubs.toSeq, q.midCalls)
  }
}
