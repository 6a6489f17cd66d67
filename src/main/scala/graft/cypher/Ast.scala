package graft.cypher

/** AST for the OpenCypher subset the reference engine accepts.
  *
  * Shape mirrors the reference grammar (reference:
  * brahmand/src/open_cypher_parser/ast.rs:6-20, expression grammar
  * ast.rs:197-291) but is re-expressed as idiomatic Scala ADTs. Divergences
  * from the reference, both deliberate (SURVEY.md §2.2/§2.3):
  *  - standard operator precedence (the reference folds symbol operators
  *    left-associatively with no precedence);
  *  - WITH is planned, not silently dropped (reference parses WITH then
  *    ignores it — plan_builder.rs:16-48).
  */
sealed trait Expr

object Expr {
  /** value is Long | Double | Boolean | String | null. */
  final case class Lit(value: Any) extends Expr
  case object Star extends Expr
  /** Pattern alias used as a value (`RETURN a`) or an output-column ref
    * (`ORDER BY cnt`); disambiguated during planning. */
  final case class Var(name: String) extends Expr
  /** `a.prop` — exactly two segments, like the reference
    * (expression.rs:272-293). */
  final case class Prop(alias: String, column: String) extends Expr
  /** `$name` — bound at the API layer before planning. */
  final case class Param(name: String) extends Expr
  final case class ListLit(items: Seq[Expr]) extends Expr
  /** Function call; `distinct` covers `count(DISTINCT x)`. */
  final case class Fn(name: String, args: Seq[Expr], distinct: Boolean = false) extends Expr
  /** Binary op: + - * / % ^ = <> < > <= >= AND OR IN. */
  final case class Bin(op: String, left: Expr, right: Expr) extends Expr
  final case class Not(e: Expr) extends Expr
  final case class Neg(e: Expr) extends Expr
  final case class IsNull(e: Expr, negated: Boolean) extends Expr
  /** `CASE WHEN c THEN v ... [ELSE d] END` (searched form). */
  final case class CaseWhen(branches: Seq[(Expr, Expr)], otherwise: Option[Expr]) extends Expr
  /** Pattern used as a boolean predicate in WHERE — `(a)-[:R]->(b)`,
    * optionally under NOT (extension beyond the reference grammar, which
    * panics on path-patterns-as-expressions — render_expr.rs:139-140).
    * Compiles to a left semi / anti join; only supported as a top-level
    * WHERE conjunct (planner-enforced). */
  final case class PatternPred(path: PathPattern) extends Expr
  /** `EXISTS { [MATCH] (a)-[:R]->(n) [WHERE cond] }` — the modern
    * openCypher spelling of a pattern predicate (extension). Unlike the
    * bare form, the braced body may NAME new aliases and filter them in
    * its WHERE; desugars onto the same semi/anti-join machinery. */
  final case class ExistsSub(path: PathPattern, where: Option[Expr]) extends Expr
  /** `COUNT { [MATCH] (a)-[:R]->(n) [WHERE cond] }` — per-row count of
    * pattern matches (extension). Compiles to a grouped count over the
    * pattern's pair set left-joined back onto the main frame. */
  final case class CountSub(path: PathPattern, where: Option[Expr]) extends Expr
  /** `[(a)-[:R]->(n) [WHERE pred] | proj]` pattern comprehension
    * (extension — openCypher §"pattern comprehension"). Per outer row,
    * the list of `proj` values over the pattern's matches, [] when none.
    * Shares COUNT { }'s grouped-join compilation: the pattern's pair set
    * aggregates `collect_list(proj)` by its bound-side key(s) and
    * LEFT-joins back. Element order is made deterministic by sorting
    * (openCypher leaves it unspecified). `proj` may reference only the
    * pattern's own (subquery-local) aliases. */
  final case class PatternComp(path: PathPattern, where: Option[Expr],
      proj: Expr) extends Expr
  /** `[x IN list WHERE pred | proj]` list comprehension (extension beyond
    * the reference grammar). `varName` is scoped to `where`/`proj` and
    * SHADOWS any outer name there. Compiles to filter/transform HOFs. */
  final case class ListComp(varName: String, list: Expr,
      where: Option[Expr], proj: Option[Expr]) extends Expr
  /** `reduce(acc = init, x IN list | step)` left fold (extension).
    * `accName`/`varName` are scoped to `step`. Compiles to aggregate(). */
  final case class Reduce(accName: String, init: Expr,
      varName: String, list: Expr, step: Expr) extends Expr

  /** Aggregate-function names, matching the reference's classifier list
    * (logical_expr/mod.rs:255) plus Spark-native extras. */
  val aggregateNames: Set[String] =
    Set("count", "min", "max", "avg", "sum", "collect", "collect_list",
        "collect_set", "stddev", "variance", "approx_count_distinct",
        "percentilecont", "percentiledisc", "median")

  def isAggregate(e: Expr): Boolean = e match {
    case Fn(name, _, _) if aggregateNames(name.toLowerCase) => true
    case Fn(_, args, _)   => args.exists(isAggregate)
    case Bin(_, l, r)     => isAggregate(l) || isAggregate(r)
    case Not(x)           => isAggregate(x)
    case Neg(x)           => isAggregate(x)
    case IsNull(x, _)     => isAggregate(x)
    case ListLit(xs)      => xs.exists(isAggregate)
    case CaseWhen(bs, o)  => bs.exists { case (c, v) => isAggregate(c) || isAggregate(v) } ||
                             o.exists(isAggregate)
    case ListComp(_, l, w, p) => isAggregate(l) || w.exists(isAggregate) || p.exists(isAggregate)
    case Reduce(_, i, _, l, s) => isAggregate(i) || isAggregate(l) || isAggregate(s)
    case _                => false
  }

  /** Direct sub-expressions — generic traversal helper for scanners that
    * only care about one node shape (pattern-bearing forms surface only
    * their expression children; their paths are resolved elsewhere). */
  def subexprs(e: Expr): Seq[Expr] = e match {
    case Fn(_, as, _)          => as
    case Bin(_, l, r)          => Seq(l, r)
    case Not(x)                => Seq(x)
    case Neg(x)                => Seq(x)
    case IsNull(x, _)          => Seq(x)
    case ListLit(xs)           => xs
    case CaseWhen(bs, o)       => bs.flatMap { case (c, v) => Seq(c, v) } ++ o.toSeq
    case ListComp(_, l, w, p)  => Seq(l) ++ w.toSeq ++ p.toSeq
    case Reduce(_, i, _, l, s) => Seq(i, l, s)
    case ExistsSub(_, w)       => w.toSeq
    case CountSub(_, w)        => w.toSeq
    case PatternComp(_, w, p)  => w.toSeq :+ p
    case _                     => Seq.empty
  }

  /** All `Prop(alias, col)` references in an expression. */
  def propRefs(e: Expr): Seq[(String, String)] = e match {
    case Prop(a, c)    => Seq(a -> c)
    case Fn(_, as, _)  => as.flatMap(propRefs)
    case Bin(_, l, r)  => propRefs(l) ++ propRefs(r)
    case Not(x)        => propRefs(x)
    case Neg(x)        => propRefs(x)
    case IsNull(x, _)  => propRefs(x)
    case ListLit(xs)   => xs.flatMap(propRefs)
    case CaseWhen(bs, o) => bs.flatMap { case (c, v) => propRefs(c) ++ propRefs(v) } ++
                            o.toSeq.flatMap(propRefs)
    case ListComp(_, l, w, p) => propRefs(l) ++ w.toSeq.flatMap(propRefs) ++
                                 p.toSeq.flatMap(propRefs)
    case Reduce(_, i, _, l, s) => propRefs(i) ++ propRefs(l) ++ propRefs(s)
    // subquery WHERE props matter for column selection when conjuncts on
    // bound outer aliases hoist to the residual filter
    case ExistsSub(_, w)  => w.toSeq.flatMap(propRefs)
    case CountSub(_, w)   => w.toSeq.flatMap(propRefs)
    // the projection's refs are subquery-local (planner-enforced) — only
    // the WHERE can hoist conjuncts onto outer aliases
    case PatternComp(_, w, _) => w.toSeq.flatMap(propRefs)
    case _             => Seq.empty
  }

  /** Aliases referenced (Prop qualifiers + bare Vars). */
  def referencedNames(e: Expr): Set[String] = e match {
    case Prop(a, _)    => Set(a)
    case Var(n)        => Set(n)
    case Fn(_, as, _)  => as.flatMap(referencedNames).toSet
    case Bin(_, l, r)  => referencedNames(l) ++ referencedNames(r)
    case Not(x)        => referencedNames(x)
    case Neg(x)        => referencedNames(x)
    case IsNull(x, _)  => referencedNames(x)
    case ListLit(xs)   => xs.flatMap(referencedNames).toSet
    case CaseWhen(bs, o) => (bs.flatMap { case (c, v) =>
                              referencedNames(c) ++ referencedNames(v) } ++
                              o.toSeq.flatMap(referencedNames)).toSet
    case PatternPred(p)  =>
      (p.start.alias.toSeq ++ p.hops.flatMap { case (r, n) => r.alias ++ n.alias }).toSet
    case ExistsSub(p, w) =>
      (p.start.alias.toSeq ++ p.hops.flatMap { case (r, n) => r.alias ++ n.alias }).toSet ++
        w.toSeq.flatMap(referencedNames)
    case CountSub(p, w)  =>
      (p.start.alias.toSeq ++ p.hops.flatMap { case (r, n) => r.alias ++ n.alias }).toSet ++
        w.toSeq.flatMap(referencedNames)
    case PatternComp(p, w, pr) =>
      (p.start.alias.toSeq ++ p.hops.flatMap { case (r, n) => r.alias ++ n.alias }).toSet ++
        (w.toSeq :+ pr).flatMap(referencedNames)
    // lambda-bound names are NOT outer references (shadowing)
    case ListComp(v, l, w, p) =>
      referencedNames(l) ++
        (w.toSeq ++ p.toSeq).flatMap(referencedNames).toSet.diff(Set(v))
    case Reduce(a, i, v, l, s) =>
      referencedNames(i) ++ referencedNames(l) ++
        referencedNames(s).diff(Set(a, v))
    case _             => Set.empty
  }

  def containsPatternPred(e: Expr): Boolean = e match {
    case PatternPred(_)  => true
    case ExistsSub(_, _) => true
    case Fn(_, as, _)    => as.exists(containsPatternPred)
    case Bin(_, l, r)    => containsPatternPred(l) || containsPatternPred(r)
    case Not(x)          => containsPatternPred(x)
    case Neg(x)          => containsPatternPred(x)
    case IsNull(x, _)    => containsPatternPred(x)
    case ListLit(xs)     => xs.exists(containsPatternPred)
    case CaseWhen(bs, o) => bs.exists { case (c, v) =>
                              containsPatternPred(c) || containsPatternPred(v) } ||
                            o.exists(containsPatternPred)
    case ListComp(_, l, w, p) => containsPatternPred(l) ||
                                 w.exists(containsPatternPred) || p.exists(containsPatternPred)
    case Reduce(_, i, _, l, s) => containsPatternPred(i) ||
                                  containsPatternPred(l) || containsPatternPred(s)
    case _               => false
  }

  /** COUNT { } and pattern comprehensions share placement rules (first
    * projection only) and the grouped-join compilation, so one walk
    * gates both. */
  def containsCountSub(e: Expr): Boolean = e match {
    case CountSub(_, _)  => true
    case PatternComp(_, _, _) => true
    case Fn(_, as, _)    => as.exists(containsCountSub)
    case Bin(_, l, r)    => containsCountSub(l) || containsCountSub(r)
    case Not(x)          => containsCountSub(x)
    case Neg(x)          => containsCountSub(x)
    case IsNull(x, _)    => containsCountSub(x)
    case ListLit(xs)     => xs.exists(containsCountSub)
    case CaseWhen(bs, o) => bs.exists { case (c, v) =>
                              containsCountSub(c) || containsCountSub(v) } ||
                            o.exists(containsCountSub)
    case ListComp(_, l, w, p) => containsCountSub(l) ||
                                 w.exists(containsCountSub) || p.exists(containsCountSub)
    case Reduce(_, i, _, l, s) => containsCountSub(i) ||
                                  containsCountSub(l) || containsCountSub(s)
    case _               => false
  }

  def containsOr(e: Expr): Boolean = e match {
    case Bin("OR", _, _) => true
    case Bin(_, l, r)    => containsOr(l) || containsOr(r)
    case Not(x)          => containsOr(x)
    case Neg(x)          => containsOr(x)
    case IsNull(x, _)    => containsOr(x)
    case Fn(_, as, _)    => as.exists(containsOr)
    case ListLit(xs)     => xs.exists(containsOr)
    case CaseWhen(bs, o) => bs.exists { case (c, v) => containsOr(c) || containsOr(v) } ||
                            o.exists(containsOr)
    case ListComp(_, l, w, p) => containsOr(l) || w.exists(containsOr) || p.exists(containsOr)
    case Reduce(_, i, _, l, s) => containsOr(i) || containsOr(l) || containsOr(s)
    case _               => false
  }

  /** Split a boolean expression into top-level AND conjuncts. */
  def conjuncts(e: Expr): Seq[Expr] = e match {
    case Bin("AND", l, r) => conjuncts(l) ++ conjuncts(r)
    case other            => Seq(other)
  }

  /** Leaf column references (Prop / Var) of an expression. EXHAUSTIVE
    * match on the sealed trait — a new Expr variant fails compilation
    * here instead of silently slipping past callers that gate on the
    * reference set (fail closed). */
  def leafRefs(e: Expr): Seq[Expr] = e match {
    case p: Prop         => Seq(p)
    case v: Var          => Seq(v)
    case Fn(_, as, _)    => as.flatMap(leafRefs)
    case Bin(_, l, r)    => leafRefs(l) ++ leafRefs(r)
    case Not(x)          => leafRefs(x)
    case Neg(x)          => leafRefs(x)
    case IsNull(x, _)    => leafRefs(x)
    case ListLit(xs)     => xs.flatMap(leafRefs)
    case CaseWhen(bs, o) =>
      bs.flatMap { case (c, v) => leafRefs(c) ++ leafRefs(v) } ++
        o.toSeq.flatMap(leafRefs)
    // a pattern predicate's inline prop VALUES are literal/param-only
    // (planner-enforced); its alias references are join keys, not columns.
    // Subquery WHERE refs are validated and compiled planner-side.
    case PatternPred(_)               => Seq.empty
    case ExistsSub(_, _) | CountSub(_, _) | PatternComp(_, _, _) => Seq.empty
    // lambda-bound Vars are local, not leaf column refs
    case ListComp(v, l, w, p) =>
      leafRefs(l) ++ (w.toSeq ++ p.toSeq).flatMap(leafRefs)
        .filterNot { case Var(n) => n == v; case _ => false }
    case Reduce(a, i, v, l, s) =>
      leafRefs(i) ++ leafRefs(l) ++
        leafRefs(s).filterNot { case Var(n) => n == a || n == v; case _ => false }
    case Lit(_) | Star | Param(_) => Seq.empty
  }

  /** Substitute [[Var]] leaves by name (e.g. RETURN-alias references inside
    * ORDER BY expressions → the aliased source expression). */
  def substVars(e: Expr, byName: Map[String, Expr]): Expr = e match {
    case Var(n) if byName.contains(n) => byName(n)
    case Fn(n, as, d)  => Fn(n, as.map(substVars(_, byName)), d)
    case Bin(o, l, r)  => Bin(o, substVars(l, byName), substVars(r, byName))
    case Not(x)        => Not(substVars(x, byName))
    case Neg(x)        => Neg(substVars(x, byName))
    case IsNull(x, ng) => IsNull(substVars(x, byName), ng)
    case ListLit(xs)   => ListLit(xs.map(substVars(_, byName)))
    case CaseWhen(bs, o) => CaseWhen(
      bs.map { case (c, v) => (substVars(c, byName), substVars(v, byName)) },
      o.map(substVars(_, byName)))
    case ListComp(v, l, w, p) =>
      val inner = byName - v // lambda var shadows
      ListComp(v, substVars(l, byName), w.map(substVars(_, inner)),
        p.map(substVars(_, inner)))
    case Reduce(a, i, v, l, s) =>
      Reduce(a, substVars(i, byName), v, substVars(l, byName),
        substVars(s, byName - a - v))
    case other         => other
  }

  /** Substitute `$param` placeholders with literal values. */
  def bind(e: Expr, params: Map[String, Any]): Expr = e match {
    case Param(n) =>
      params.get(n) match {
        // a list value becomes a ListLit so `IN $ids` takes the same
        // isin path as an inline list literal (a raw Lit(Seq) is not a
        // Spark literal)
        case Some(xs: Seq[_]) => ListLit(xs.map(x => Lit(x)))
        case Some(v) => Lit(v)
        case None    => throw new GraftException(s"unbound parameter: $$$n")
      }
    case PatternPred(p) => PatternPred(bindPath(p, params))
    case ExistsSub(p, w) =>
      ExistsSub(bindPath(p, params), w.map(bind(_, params)))
    case CountSub(p, w) =>
      CountSub(bindPath(p, params), w.map(bind(_, params)))
    case PatternComp(p, w, pr) =>
      PatternComp(bindPath(p, params), w.map(bind(_, params)), bind(pr, params))
    case Fn(n, as, d)  => Fn(n, as.map(bind(_, params)), d)
    case Bin(o, l, r)  => Bin(o, bind(l, params), bind(r, params))
    case Not(x)        => Not(bind(x, params))
    case Neg(x)        => Neg(bind(x, params))
    case IsNull(x, ng) => IsNull(bind(x, params), ng)
    case ListLit(xs)   => ListLit(xs.map(bind(_, params)))
    case CaseWhen(bs, o) => CaseWhen(
      bs.map { case (c, v) => (bind(c, params), bind(v, params)) },
      o.map(bind(_, params)))
    case ListComp(v, l, w, p) => ListComp(v, bind(l, params),
      w.map(bind(_, params)), p.map(bind(_, params)))
    case Reduce(a, i, v, l, s) => Reduce(a, bind(i, params), v,
      bind(l, params), bind(s, params))
    case other         => other
  }

  private def bindPath(p: PathPattern, params: Map[String, Any]): PathPattern = {
    def bindNode(np: NodePattern) =
      np.copy(props = np.props.map { case (k, v) => (k, bind(v, params)) })
    def bindRel(rp: RelPattern) =
      rp.copy(props = rp.props.map { case (k, v) => (k, bind(v, params)) })
    PathPattern(bindNode(p.start),
      p.hops.map { case (r, n) => (bindRel(r), bindNode(n)) })
  }
}

/** Direction of a relationship pattern as written. */
sealed trait Dir
object Dir {
  case object Out extends Dir        // (a)-[r]->(b)
  case object In extends Dir         // (a)<-[r]-(b)
  case object Undirected extends Dir // (a)-[r]-(b)
}

final case class NodePattern(
    alias: Option[String],
    label: Option[String],
    props: Seq[(String, Expr)])

final case class RelPattern(
    alias: Option[String],
    relType: Option[String],
    props: Seq[(String, Expr)],
    dir: Dir,
    /** `*min..max` bounded variable-length hop (extension beyond the
      * reference grammar, which has no `*` paths — SURVEY.md §2.3). */
    varLength: Option[(Int, Int)] = None,
    /** wrapped in `shortestPath(...)`: the hop composition keeps only the
      * minimum-length pair distances (extension). */
    shortest: Boolean = false,
    /** the `p` of `p = shortestPath(...)` — resolvable via `length(p)`. */
    pathAlias: Option[String] = None,
    /** wrapped in `allShortestPaths(...)`: one row per MINIMUM-length
      * path (possibly several per endpoint pair), always materialized
      * with `__nodes`/`__edges` (extension). */
    allShortest: Boolean = false,
    /** `[:A|B]` type alternation: the types BEYOND `relType` (which holds
      * the first). All alternated types must connect the same node
      * labels; the hop scans the UNION of their edge tables (extension —
      * the reference grammar parses a single type, ast.rs). */
    altTypes: Seq[String] = Nil)

/** A linear path: node (rel node)*. */
final case class PathPattern(start: NodePattern, hops: Seq[(RelPattern, NodePattern)])

final case class ReturnItem(expr: Expr, alias: Option[String])
final case class OrderItem(expr: Expr, ascending: Boolean)
/** `WITH items [ORDER BY ...] [SKIP n] [LIMIT n] [WHERE cond]` — a
  * pipeline stage (our working version of the clause the reference
  * drops). ORDER BY + LIMIT inside a stage is the openCypher
  * top-k-then-continue idiom; WHERE filters after the cut (spec clause
  * order). */
final case class WithStage(items: Seq[ReturnItem], distinct: Boolean,
    where: Option[Expr], orderBy: Seq[OrderItem] = Seq.empty,
    skip: Option[Long] = None, limit: Option[Long] = None)

sealed trait CypherStatement

/** `OPTIONAL MATCH paths [WHERE cond]` — left-outer extension of the main
  * pattern (extension beyond the reference grammar; the WHERE belongs to
  * the optional block, i.e. it participates in the join condition). */
final case class OptionalMatch(paths: Seq[PathPattern], where: Option[Expr])

/** `UNWIND list AS name` — one output row per list element (extension). */
final case class Unwind(expr: Expr, name: String)

/** Mid-query `[WITH a, x] CALL { WITH a, x ... RETURN ... }` subquery
  * (extension; the correlated openCypher form). `imports` are the names
  * the body sees from the enclosing row — node aliases anchor the body's
  * MATCH patterns, plain columns are usable in body expressions. An empty
  * import list is the uncorrelated execute-once form in mid position.
  * Sits after all WITH stages, immediately before RETURN. */
final case class MidCall(imports: Seq[String], body: ReadQuery,
    /** pipeline position: the number of WITH stages that precede this
      * call — its outputs are in scope for every LATER stage and the
      * final RETURN. */
    afterStage: Int = 0)

object MidCall {
  /** The body's output column names, derivable without planning — needed
    * to put call outputs in scope for the outer RETURN before the body is
    * built. `RETURN *` and bare pattern aliases are rejected (their
    * expansion depends on resolved schemas): a correlated body's outputs
    * must be nameable, so ask the user to alias them. */
  def outputNames(mc: MidCall): Seq[String] = {
    val patternAliases: Set[String] =
      (mc.body.paths ++ mc.body.optionalMatches.flatMap(_.paths)).flatMap(p =>
        p.start.alias.toSeq ++ p.hops.flatMap { case (r, n) => r.alias ++ n.alias }).toSet
    mc.body.returnItems.zipWithIndex.map {
      case (ReturnItem(_, Some(a)), _) => a
      case (ReturnItem(Expr.Star, _), _) =>
        throw new GraftException(
          "RETURN * inside a CALL { } body is not supported; name the columns")
      case (ReturnItem(Expr.Var(n), _), _) if patternAliases(n) =>
        throw new GraftException(
          s"CALL body returns bare pattern alias '$n'; alias explicit " +
          s"columns instead (e.g. RETURN $n.<prop> AS <name>)")
      case (ReturnItem(Expr.Var(n), _), _)  => n
      case (ReturnItem(Expr.Prop(_, c), _), _) => c
      case (ReturnItem(Expr.Fn(n, _, _), _), i) => s"${n.toLowerCase}_$i"
      case (_, i) => s"col_$i"
    }
  }
}

final case class ReadQuery(
    paths: Seq[PathPattern],
    where: Option[Expr],
    withStages: Seq[WithStage],
    returnItems: Seq[ReturnItem],
    returnDistinct: Boolean,
    orderBy: Seq[OrderItem],
    skip: Option[Long],
    limit: Option[Long],
    optionalMatches: Seq[OptionalMatch] = Seq.empty,
    unwinds: Seq[Unwind] = Seq.empty,
    /** correlated CALL { } subqueries between the last WITH stage and
      * RETURN (extension — SURVEY.md §8.5). */
    midCalls: Seq[MidCall] = Seq.empty) extends CypherStatement

/** `EXPLAIN <read query>` — returns the engine's physical plan as a
  * one-row frame instead of executing (Neo4j-style; extension).
  * `PROFILE <read query>` (`profile = true`) runs the query to completion
  * and returns its [[graft.Profile]] layers plus the executed plan with
  * its SQL metric values. */
final case class ExplainQuery(inner: CypherStatement, profile: Boolean = false)
    extends CypherStatement

/** `q1 UNION [ALL] q2 [UNION ...]` — combined read queries (extension
  * beyond the reference grammar). openCypher requires every part to
  * return the SAME column names, and forbids mixing UNION with UNION ALL
  * in one query — both enforced. */
final case class UnionQuery(parts: Seq[ReadQuery], all: Boolean)
    extends CypherStatement

/** Leading `CALL { <read query> } ... <main query>` subquery blocks
  * (extension; the uncorrelated openCypher form). Each block executes
  * once and its RETURN columns join onto every row of the main query —
  * the standard "compute a corpus-level scalar, then filter by it"
  * shape. Correlated bodies (importing `WITH a`) are not supported. */
final case class CallQuery(calls: Seq[ReadQuery], main: CypherStatement)
    extends CypherStatement

final case class ColumnDef(name: String, dtype: String, default: Option[Expr])

/** CREATE NODE TABLE — reference ddl_query.rs:60-100. */
final case class CreateNodeTable(
    name: String,
    columns: Seq[ColumnDef],
    primaryKey: Seq[String],
    nodeId: String) extends CypherStatement

/** CREATE REL TABLE — reference ddl_query.rs:120-160 + create_rel_table_clause.rs:50-80. */
final case class CreateRelTable(
    name: String,
    fromLabel: String,
    toLabel: String,
    columns: Seq[ColumnDef],
    adjIndex: Boolean) extends CypherStatement

/** `CREATE (n:Label {props})[, ...]` / `CREATE (:A {id})-[:R {props}]->(:B
  * {id})` instance inserts — an EXTENSION over the reference, which
  * classifies instance CREATEs and then ignores them
  * (query_planner/mod.rs:21-31, handlers.rs:65-76). Execution is
  * flag-gated ([[graft.GraftSession]]): the default mode keeps the
  * reference-parity rejection. Patterns reuse [[PathPattern]]; shape
  * validation (single node, or one directed hop whose endpoints reference
  * existing nodes by id) happens at execution, where the catalog is in
  * scope. */
final case class CreateGraphQuery(paths: Seq[PathPattern])
    extends CypherStatement

class GraftException(msg: String) extends RuntimeException(msg)
class DisconnectedPatternException(msg: String) extends GraftException(msg)
