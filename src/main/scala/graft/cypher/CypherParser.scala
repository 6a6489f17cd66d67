package graft.cypher

import scala.util.matching.Regex
import scala.util.parsing.combinator.RegexParsers

/** Recursive-descent parser for the OpenCypher subset of the reference
  * (clause sequence: brahmand/src/open_cypher_parser/mod.rs:35-94).
  *
  * Grammar (all clauses optional except MATCH+RETURN for reads):
  *   MATCH path (, path)*
  *   [WHERE expr]
  *   (WITH [DISTINCT] items [WHERE expr])*
  *   RETURN [DISTINCT] items
  *   [ORDER BY item [ASC|DESC], ...] [SKIP n] [LIMIT n] [;]
  * plus DDL: CREATE NODE TABLE / CREATE REL TABLE.
  *
  * Unlike the reference (expression.rs:127-152, flat left-assoc fold), we
  * use standard precedence: OR < AND < NOT < comparison/IN/IS NULL <
  * additive < multiplicative < unary minus < ^ < atom.
  */
object CypherParser extends RegexParsers {

  override protected val whiteSpace: Regex = """(\s|//[^\n]*)+""".r

  private val reserved = Set(
    "match", "where", "return", "with", "order", "by", "skip", "limit",
    "as", "and", "or", "not", "in", "is", "null", "distinct", "asc",
    "desc", "ascending", "descending", "create", "node", "rel", "table",
    "from", "to", "primary", "key", "true", "false", "union", "optional",
    "delete", "detach", "set", "remove", "adj", "index",
    "case", "when", "then", "end", "else", "unwind")

  private def kw(s: String): Parser[String] =
    (s"""(?i)\\b${Regex.quote(s)}\\b""").r ^^ (_ => s)

  private val identRe = """[a-zA-Z_][a-zA-Z0-9_]*""".r

  /** Identifier in an unambiguous position (label, rel type, property key,
    * AS alias, DDL name): reserved words allowed. */
  private def anyIdent: Parser[String] =
    ("""`[^`]+`""".r ^^ (s => s.substring(1, s.length - 1))) | identRe

  /** Identifier, excluding reserved words; backticks lift the restriction. */
  private def ident: Parser[String] =
    ("""`[^`]+`""".r ^^ (s => s.substring(1, s.length - 1))) |
    Parser { in =>
      identRe(in) match {
        case Success(s, next) if !reserved(s.toLowerCase) => Success(s, next)
        case Success(s, _) => Failure(s"reserved word '$s'", in)
        case ns: NoSuccess => Failure(ns.msg, in)
      }
    }

  // ---- literals -----------------------------------------------------------

  private def numberLit: Parser[Expr] =
    """\d+\.\d+([eE][+-]?\d+)?""".r ^^ (s => Expr.Lit(s.toDouble)) |
    """\d+[eE][+-]?\d+""".r ^^ (s => Expr.Lit(s.toDouble)) |
    """\d+""".r ^^ (s => Expr.Lit(s.toLong))

  private def unescape(body: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '\\' && i + 1 < body.length) {
        body.charAt(i + 1) match {
          case 'n'   => sb.append('\n')
          case 't'   => sb.append('\t')
          case 'r'   => sb.append('\r')
          case other => sb.append(other)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def stringLit: Parser[Expr] =
    """'(\\.|[^'\\])*'""".r ^^ (s => Expr.Lit(unescape(s.substring(1, s.length - 1)))) |
    """"(\\.|[^"\\])*"""".r ^^ (s => Expr.Lit(unescape(s.substring(1, s.length - 1))))

  private def literal: Parser[Expr] =
    numberLit | stringLit |
    kw("true") ^^ (_ => Expr.Lit(true)) |
    kw("false") ^^ (_ => Expr.Lit(false)) |
    kw("null") ^^ (_ => Expr.Lit(null))

  // ---- expressions --------------------------------------------------------

  def expression: Parser[Expr] = orExpr

  private def orExpr: Parser[Expr] =
    andExpr ~ rep(kw("or") ~> andExpr) ^^ {
      case h ~ t => t.foldLeft(h)((a, b) => Expr.Bin("OR", a, b))
    }

  private def andExpr: Parser[Expr] =
    notExpr ~ rep(kw("and") ~> notExpr) ^^ {
      case h ~ t => t.foldLeft(h)((a, b) => Expr.Bin("AND", a, b))
    }

  private def notExpr: Parser[Expr] =
    kw("not") ~> notExpr ^^ Expr.Not.apply | comparison

  private def comparison: Parser[Expr] =
    additive ~ rep(compRhs) ^^ { case h ~ t => t.foldLeft(h)((a, f) => f(a)) }

  private def compRhs: Parser[Expr => Expr] =
    (("<=" | ">=" | "<>" | "!=" | "=" | "<" | ">") ~ additive ^^ {
      case op ~ r => (l: Expr) => Expr.Bin(if (op == "!=") "<>" else op, l, r)
    }) |
    (kw("in") ~> additive ^^ { r => (l: Expr) => Expr.Bin("IN", l, r) }) |
    (kw("starts") ~> kw("with") ~> additive ^^ {
      r => (l: Expr) => Expr.Bin("STARTS WITH", l, r) }) |
    (kw("ends") ~> kw("with") ~> additive ^^ {
      r => (l: Expr) => Expr.Bin("ENDS WITH", l, r) }) |
    (kw("contains") ~> additive ^^ {
      r => (l: Expr) => Expr.Bin("CONTAINS", l, r) }) |
    ("=~" ~> additive ^^ { r => (l: Expr) => Expr.Bin("=~", l, r) }) |
    (kw("is") ~> kw("not") ~> kw("null") ^^ { _ => (l: Expr) => Expr.IsNull(l, negated = true) }) |
    (kw("is") ~> kw("null") ^^ { _ => (l: Expr) => Expr.IsNull(l, negated = false) })

  private def additive: Parser[Expr] =
    multiplicative ~ rep(("+" | "-") ~ multiplicative) ^^ {
      case h ~ t => t.foldLeft(h) { case (a, op ~ b) => Expr.Bin(op, a, b) }
    }

  private def multiplicative: Parser[Expr] =
    unary ~ rep(("*" | "/" | "%") ~ unary) ^^ {
      case h ~ t => t.foldLeft(h) { case (a, op ~ b) => Expr.Bin(op, a, b) }
    }

  private def unary: Parser[Expr] =
    "-" ~> unary ^^ Expr.Neg.apply | "+" ~> unary | power

  private def power: Parser[Expr] =
    postfixed ~ opt("^" ~> unary) ^^ {
      case b ~ Some(e) => Expr.Bin("^", b, e)
      case b ~ None    => b
    }

  /** Postfix subscript / slice (openCypher): `l[i]` (0-based, negative
    * counts from the end), `l[a..b]` (from-inclusive, to-exclusive,
    * either bound omissible), `m['key']` (map key / struct field —
    * properties() and map projections return structs). Chains:
    * `m['xs'][0]`. */
  private def postfixed: Parser[Expr] =
    atom ~ rep(subscript) ^^ { case a ~ ss => ss.foldLeft(a)((b, f) => f(b)) }

  private def subscript: Parser[Expr => Expr] =
    ("[" ~> opt(expression) ~ (".." ~> opt(expression)) <~ "]") ^^ {
      case f ~ t => (b: Expr) => Expr.Fn("__slice",
        Seq(b, f.getOrElse(Expr.Lit(null)), t.getOrElse(Expr.Lit(null))))
    } |
    ("[" ~> expression <~ "]") ^^ {
      i => (b: Expr) => Expr.Fn("__subscript", Seq(b, i))
    }

  private def fnCall: Parser[Expr] =
    ident ~ ("(" ~> opt(kw("distinct")) ~ repsep(expression, ",") <~ ")") ^^ {
      case name ~ (d ~ args) => Expr.Fn(name, args, d.isDefined)
    }

  /** Namespaced function call (`duration.between(a, b)`) — tried before
    * propOrVar, which would otherwise bind `duration.between` as a
    * property access and strand the argument list. */
  private def nsFnCall: Parser[Expr] =
    ident ~ ("." ~> identRe) ~ ("(" ~> repsep(expression, ",") <~ ")") ^^ {
      case ns ~ f ~ args => Expr.Fn(s"$ns.$f", args)
    }

  /** openCypher map projection `alias {.prop, .*, key: expr}` — a struct
    * of selected properties plus computed entries. Parses to the internal
    * `__map_proj(Var(alias), name, value, ...)` spelling; the builder
    * expands `.*` from the alias's schema, deduplicates keys last-wins,
    * and folds to the same named struct properties() produces. */
  private def mapProjection: Parser[Expr] = {
    val spread: Parser[Seq[Expr]] = "." ~ "*" ^^ { _ =>
      Seq(Expr.Lit("__spread__"), Expr.Fn("__props_spread", Seq.empty)) }
    def prop(alias: String): Parser[Seq[Expr]] = "." ~> anyIdent ^^ { n =>
      Seq(Expr.Lit(n), Expr.Prop(alias, n)) }
    val kv: Parser[Seq[Expr]] = (anyIdent <~ ":") ~ expression ^^ {
      case k ~ v => Seq(Expr.Lit(k), v) }
    ident >> { a =>
      "{" ~> rep1sep(spread | prop(a) | kv, ",") <~ "}" ^^ { entries =>
        Expr.Fn("__map_proj", Expr.Var(a) +: entries.flatten)
      }
    }
  }

  /** Map literal `{key: expr, ...}` in expression position — the argument
    * form of openCypher temporal constructors (`date({year: 1995, month:
    * 3})`). Reuses the internal `__named_struct` spelling the properties()
    * fold already compiles. */
  private def mapLit: Parser[Expr] =
    "{" ~> repsep((anyIdent <~ ":") ~ expression, ",") <~ "}" ^^ { pairs =>
      Expr.Fn("__named_struct",
        pairs.flatMap { case n ~ v => Seq(Expr.Lit(n), v) })
    }

  private def countStar: Parser[Expr] =
    (identRe.filter(_.equalsIgnoreCase("count")) ~ "(" ~ "*" ~ ")") ^^ {
      _ => Expr.Fn("count", Seq(Expr.Star))
    }

  private def propOrVar: Parser[Expr] =
    ident ~ opt("." ~> anyIdent) ^^ {
      case a ~ Some(c) => Expr.Prop(a, c)
      case a ~ None    => Expr.Var(a)
    }

  /** Searched form `CASE WHEN c THEN v ... END` plus the simple form
    * `CASE subject WHEN val THEN v ... END`, desugared at parse time to
    * the searched form with equality conditions. */
  private def caseExpr: Parser[Expr] =
    kw("case") ~> opt(not(kw("when")) ~> expression) ~
      rep1(kw("when") ~> expression ~ (kw("then") ~> expression)) ~
      opt(kw("else") ~> expression) <~ kw("end") ^^ {
      case subject ~ branches ~ dflt =>
        val bs = branches.map { case c ~ v => (c, v) }
        val desugared = subject match {
          case Some(s) => bs.map { case (c, v) => (Expr.Bin("=", s, c): Expr, v) }
          case None    => bs
        }
        Expr.CaseWhen(desugared, dflt)
    }

  /** `[x IN list WHERE pred | proj]` — tried before the plain list
    * literal; `[1, 2]` fails at the `IN` keyword and backtracks. */
  private def listComp: Parser[Expr] =
    ("[" ~> ident <~ kw("in")) ~ expression ~ opt(kw("where") ~> expression) ~
      opt("|" ~> expression) <~ "]" ^^ {
      case v ~ l ~ w ~ p => Expr.ListComp(v, l, w, p)
    }

  /** `reduce(acc = init, x IN list | step)` — tried before fnCall, which
    * would choke on the `=`. */
  private def reduceFn: Parser[Expr] =
    identRe.filter(_.equalsIgnoreCase("reduce")) ~> "(" ~>
      (ident <~ "=") ~ expression ~ ("," ~> ident <~ kw("in")) ~ expression ~
      ("|" ~> expression) <~ ")" ^^ {
      case a ~ i ~ v ~ l ~ s => Expr.Reduce(a, i, v, l, s)
    }

  /** `any/all/none/single(x IN list WHERE pred)` list predicates — tried
    * before fnCall, which would mis-parse `x IN list` as a Bin(IN).
    * Desugared onto the comprehension node (which carries the lambda
    * scoping) with openCypher TERNARY logic: a NULL predicate result is
    * neither a match nor a non-match — the quantifier is NULL unless the
    * outcome is already decided by the non-null elements (a plain filter
    * count would silently drop NULLs and e.g. turn none() over an
    * all-null list into true — round-6 review). */
  private def listQuantifier: Parser[Expr] = {
    val quant = identRe.filter(n => Set("any", "all", "none", "single")
      .contains(n.toLowerCase))
    quant ~ ("(" ~> ident) ~ (kw("in") ~> expression) ~
      (kw("where") ~> expression <~ ")") ^^ { case q ~ v ~ l ~ p =>
        def trues = Expr.Fn("size", Seq(Expr.ListComp(v, l, Some(p), None)))
        def nulls = Expr.Fn("size",
          Seq(Expr.ListComp(v, l, Some(Expr.IsNull(p, negated = false)), None)))
        def total = Expr.Fn("size", Seq(l))
        val listIsNull = Expr.IsNull(l, negated = false)
        def someNull = Expr.Bin(">", nulls, Expr.Lit(0L))
        q.toLowerCase match {
          case "any" => Expr.CaseWhen(Seq(
            (listIsNull, Expr.Lit(null)),
            (Expr.Bin(">", trues, Expr.Lit(0L)), Expr.Lit(true)),
            (someNull, Expr.Lit(null))), Some(Expr.Lit(false)))
          case "none" => Expr.CaseWhen(Seq(
            (listIsNull, Expr.Lit(null)),
            (Expr.Bin(">", trues, Expr.Lit(0L)), Expr.Lit(false)),
            (someNull, Expr.Lit(null))), Some(Expr.Lit(true)))
          case "all" => Expr.CaseWhen(Seq(
            (listIsNull, Expr.Lit(null)),
            // a definite false exists ⇒ false, regardless of nulls
            (Expr.Bin("<", Expr.Bin("+", trues, nulls), total), Expr.Lit(false)),
            (someNull, Expr.Lit(null))), Some(Expr.Lit(true)))
          case "single" => Expr.CaseWhen(Seq(
            (listIsNull, Expr.Lit(null)),
            (Expr.Bin(">", trues, Expr.Lit(1L)), Expr.Lit(false)),
            (someNull, Expr.Lit(null))),
            Some(Expr.Bin("=", trues, Expr.Lit(1L))))
        }
      }
  }

  private def atom: Parser[Expr] =
    existsSub |
    countSub |
    countStar |
    caseExpr |
    literal |
    ("$" ~> identRe) ^^ Expr.Param.apply |
    listComp |
    patternComp |
    ("[" ~> repsep(expression, ",") <~ "]") ^^ Expr.ListLit.apply |
    patternPredicate |
    reduceFn |
    listQuantifier |
    nsFnCall |
    fnCall |
    mapLit |
    mapProjection |
    propOrVar |
    "*" ^^ (_ => Expr.Star) |
    ("(" ~> expression <~ ")")

  /** `{ [MATCH] (a)-[:R]->(n) [WHERE cond] }` — the braced body shared by
    * EXISTS / COUNT subqueries. Hop-less bodies parse and are rejected in
    * the planner with a specific message (not a cryptic parse error). */
  private def subqueryBody: Parser[(PathPattern, Option[Expr])] =
    "{" ~> opt(kw("match")) ~> nodePattern ~ rep(relPattern ~ nodePattern) ~
      opt(kw("where") ~> expression) <~ "}" ^^ {
      case start ~ hops ~ w =>
        (PathPattern(start, hops.map { case r ~ n => (r, n) }), w)
    }

  private def existsSub: Parser[Expr] =
    identRe.filter(_.equalsIgnoreCase("exists")) ~> subqueryBody ^^ {
      case (p, w) => Expr.ExistsSub(p, w)
    }

  private def countSub: Parser[Expr] =
    identRe.filter(_.equalsIgnoreCase("count")) ~> subqueryBody ^^ {
      case (p, w) => Expr.CountSub(p, w)
    }

  /** `[(a)-[:R]->(n) [WHERE pred] | proj]` pattern comprehension. Tried
    * before the list-literal alternative: a bracketed list whose first
    * element is parenthesized (`[(1+2), 3]`) fails at the relationship
    * hop and backtracks. */
  private def patternComp: Parser[Expr] =
    "[" ~> nodePattern ~ rep1(relPattern ~ nodePattern) ~
      opt(kw("where") ~> expression) ~ ("|" ~> expression) <~ "]" ^^ {
      case start ~ hops ~ w ~ proj =>
        Expr.PatternComp(
          PathPattern(start, hops.map { case r ~ n => (r, n) }), w, proj)
    }

  /** `(a)-[:R]->(b)` as a boolean WHERE predicate (needs >=1 hop, so a
    * plain parenthesized expression backtracks to the alternative below). */
  private def patternPredicate: Parser[Expr] =
    nodePattern ~ rep1(relPattern ~ nodePattern) ^^ {
      case start ~ hops =>
        Expr.PatternPred(PathPattern(start, hops.map { case r ~ n => (r, n) }))
    }

  // ---- patterns -----------------------------------------------------------

  private def mapProps: Parser[Seq[(String, Expr)]] =
    "{" ~> repsep(anyIdent ~ (":" ~> expression), ",") <~ "}" ^^ {
      _.map { case k ~ v => k -> v }
    }

  private def nodePattern: Parser[NodePattern] =
    "(" ~> opt(ident) ~ opt(":" ~> anyIdent) ~ opt(mapProps) <~ ")" ^^ {
      case a ~ l ~ p => NodePattern(a, l, p.getOrElse(Seq.empty))
    }

  /** Hop-composition cap: every var-length level is another distinct-pair
    * self-join, so an absurd upper bound compiles to a join chain that can
    * never finish — reject it loudly at parse time. Whole-graph distances
    * belong to the frontier BFS rounds of `GraphAlgorithms.shortestPaths`,
    * not hop composition. */
  private val MaxVarLengthHops = 30

  private def varLen: Parser[(Int, Int)] =
    "*" ~> opt("""\d+""".r) ~ opt(".." ~> """\d+""".r) ^^ {
      case lo ~ hi =>
        val l = lo.map(_.toInt).getOrElse(1)
        val h = hi.map(_.toInt).orElse(lo.map(_.toInt)).getOrElse(l)
        if (l > h)
          throw new GraftException(s"var-length bounds *$l..$h: lower bound exceeds upper")
        if (h > MaxVarLengthHops)
          throw new GraftException(
            s"var-length upper bound $h exceeds the $MaxVarLengthHops-hop " +
            "composition cap (each level is a distinct-pair self-join); for " +
            "whole-graph distances use GraphAlgorithms.shortestPaths " +
            "(frontier BFS rounds)")
        (l, h)
    }

  /** `:A`, `:A|B`, and the legacy `:A|:B` all parse to the type list. */
  private def relTypes: Parser[Seq[String]] =
    ":" ~> rep1sep(opt(":") ~> anyIdent, "|")

  private def relBody
      : Parser[(Option[String], Seq[String], Seq[(String, Expr)], Option[(Int, Int)])] =
    "[" ~> opt(ident) ~ opt(relTypes) ~ opt(varLen) ~ opt(mapProps) <~ "]" ^^ {
      case a ~ t ~ v ~ p => (a, t.getOrElse(Seq.empty), p.getOrElse(Seq.empty), v)
    }

  private def relPattern: Parser[RelPattern] =
    ("<-" ~> opt(relBody) <~ "-") ~ opt(">") ^^ {
      case _ ~ Some(_) => throw new GraftException("invalid relationship pattern '<-...->'")
      case body ~ None =>
        val (a, t, p, v) = body.getOrElse((None, Seq.empty, Seq.empty, None))
        RelPattern(a, t.headOption, p, Dir.In, v, altTypes = t.drop(1))
    } |
    ("-" ~> opt(relBody) <~ "-") ~ opt(">") ^^ {
      case body ~ arrow =>
        val (a, t, p, v) = body.getOrElse((None, Seq.empty, Seq.empty, None))
        RelPattern(a, t.headOption, p,
          if (arrow.isDefined) Dir.Out else Dir.Undirected, v,
          altTypes = t.drop(1))
    }

  private def pathPattern: Parser[PathPattern] =
    nodePattern ~ rep(relPattern ~ nodePattern) ^^ {
      case start ~ hops => PathPattern(start, hops.map { case r ~ n => (r, n) })
    }

  /** `[p =] shortestPath((a)-[:R*lo..hi]->(b))` — single-hop pattern whose
    * composition keeps minimum pair distances; `length(p)` reads them
    * (and `nodes(p)`/`relationships(p)` materialize one pinned path).
    * `allShortestPaths(...)` keeps EVERY minimum-length path per pair —
    * one row each, always path-materialized. */
  private def shortestPathPattern: Parser[PathPattern] =
    opt(ident <~ "=") ~ (kw("allshortestpaths") | kw("shortestpath")) ~
      ("(" ~> pathPattern <~ ")") ^^ {
      case pa ~ kind ~ p =>
        val all = kind.equalsIgnoreCase("allshortestpaths")
        if (p.hops.size != 1)
          throw new GraftException(
            (if (all) "allShortestPaths" else "shortestPath") +
            " takes a pattern with exactly one relationship")
        val (rel, end) = p.hops.head
        val vl = rel.varLength.getOrElse((1, 1))
        PathPattern(p.start,
          Seq((rel.copy(varLength = Some(vl), shortest = true, pathAlias = pa,
            allShortest = all), end)))
    }

  /** `p = (a)-[:R*lo..hi]->(b)` — plain path binding. Supported for a
    * single bounded var-length relationship: the hop composition then
    * materializes per-path rows with `__nodes`/`__edges`/`__len`, read by
    * `nodes(p)` / `relationships(p)` / `length(p)` (extension —
    * SURVEY.md §8.5). Fixed-length and multi-hop bindings stay rejected
    * with a targeted message instead of letting the consumed `p =`
    * surface as a generic parse error (round-5 advice). */
  private def plainPathBinding: Parser[PathPattern] =
    (ident <~ "=") ~ pathPattern ^^ {
      case pa ~ p if p.hops.size == 1 && p.hops.head._1.varLength.isDefined =>
        val (rel, end) = p.hops.head
        PathPattern(p.start, Seq((rel.copy(pathAlias = Some(pa)), end)))
      case pa ~ _ =>
        throw new GraftException(
          s"path alias '$pa': only single var-length relationships bind as " +
          s"paths ('$pa = (a)-[:R*lo..hi]->(b)' with nodes($pa)/" +
          s"relationships($pa)/length($pa)) or shortestPath(...) with " +
          s"length($pa)")
    }

  private def matchPath: Parser[PathPattern] =
    shortestPathPattern | plainPathBinding | pathPattern

  // ---- clauses ------------------------------------------------------------

  private def returnItem: Parser[ReturnItem] =
    expression ~ opt(kw("as") ~> anyIdent) ^^ { case e ~ a => ReturnItem(e, a) }

  /** openCypher clause order inside WITH: ORDER BY, SKIP, LIMIT, then
    * WHERE (the filter applies AFTER the cut). */
  private def withClause: Parser[WithStage] =
    kw("with") ~> opt(kw("distinct")) ~ rep1sep(returnItem, ",") ~
      opt(kw("order") ~> kw("by") ~> rep1sep(orderItem, ",")) ~
      opt(kw("skip") ~> """\d+""".r) ~
      opt(kw("limit") ~> """\d+""".r) ~
      opt(kw("where") ~> expression) ^^ {
      case d ~ items ~ ord ~ skip ~ limit ~ w =>
        WithStage(items, d.isDefined, w, ord.getOrElse(Seq.empty),
          skip.map(boundedCount(_, "WITH SKIP")),
          limit.map(boundedCount(_, "WITH LIMIT")))
    }

  private def orderItem: Parser[OrderItem] =
    expression ~ opt(kw("asc") | kw("ascending") | kw("desc") | kw("descending")) ^^ {
      case e ~ dir => OrderItem(e, !dir.exists(_.startsWith("desc")))
    }

  /** SKIP/LIMIT counts flow into Dataset.offset/limit (Int): reject
    * values beyond Int.MaxValue at parse time instead of silently
    * wrapping (round-6 review). */
  private def boundedCount(s: String, what: String): Long = {
    val v = BigInt(s)
    if (v > Int.MaxValue)
      throw new GraftException(s"$what $s exceeds the supported maximum ${Int.MaxValue}")
    v.toLong
  }

  private def optionalMatch: Parser[OptionalMatch] =
    kw("optional") ~> kw("match") ~> rep1sep(pathPattern, ",") ~
      opt(kw("where") ~> expression) ^^ {
      case paths ~ w => OptionalMatch(paths, w)
    }

  private def unwindClause: Parser[Unwind] =
    kw("unwind") ~> expression ~ (kw("as") ~> anyIdent) ^^ {
      case e ~ n => Unwind(e, n)
    }

  private def readQuery: Parser[ReadQuery] =
    rep1(kw("match") ~> rep1sep(matchPath, ",")) ~
      opt(kw("where") ~> expression) ~
      rep(optionalMatch) ~
      rep(unwindClause) ~
      rep(withClause ^^ (Left(_): Either[WithStage, MidCall]) |
          midCallClause ^^ (Right(_): Either[WithStage, MidCall])) ~
      (kw("return") ~> opt(kw("distinct")) ~ rep1sep(returnItem, ",")) ~
      opt(kw("order") ~> kw("by") ~> rep1sep(orderItem, ",")) ~
      opt(kw("skip") ~> """\d+""".r) ~
      opt(kw("limit") ~> """\d+""".r) ^^ {
      case pathGroups ~ where ~ opts ~ unwinds ~ stages ~ (dist ~ items) ~ ord ~ skip ~ limit =>
        // consecutive MATCH clauses are inner-joined like comma patterns
        val paths = pathGroups.flatten
        // WITH and CALL { } interleave freely; each call records how many
        // WITH stages precede it so the builder can splice it in place
        val withs = stages.collect { case Left(w) => w }
        var seen = 0
        val calls = stages.flatMap {
          case Left(_)   => seen += 1; None
          case Right(mc) => Some(mc.copy(afterStage = seen))
        }
        ReadQuery(paths, where, withs, items, dist.isDefined,
          ord.getOrElse(Seq.empty), skip.map(boundedCount(_, "SKIP")),
          limit.map(boundedCount(_, "LIMIT")), opts, unwinds, calls)
    }

  /** Mid-query correlated `CALL { WITH imports ... RETURN ... }` between
    * the last WITH stage and RETURN (extension — openCypher's correlated
    * subquery form). The import WITH takes BARE NAMES only (openCypher's
    * importing-WITH rule: no expressions, no aliasing); the body is a full
    * read query whose patterns may anchor on imported node aliases and
    * whose expressions may use imported columns. */
  private def midCallClause: Parser[MidCall] =
    kw("call") ~> "{" ~> opt(kw("with") ~> rep1sep(ident, ",")) ~ readQuery <~ "}" ^^ {
      case imports ~ body => MidCall(imports.getOrElse(Seq.empty), body)
    }

  // ---- DDL ----------------------------------------------------------------

  /** Column dtype: identifier with optional parenthesized args, passed
    * through verbatim like the reference (ddl_query.rs:158-173). */
  private def dtype: Parser[String] =
    identRe ~ opt("(" ~> """[^)]*""".r <~ ")") ^^ {
      case n ~ Some(args) => s"$n($args)"
      case n ~ None       => n
    }

  private def columnDef: Parser[ColumnDef] =
    anyIdent ~ dtype ~ opt(kw("default") ~> literal) ^^ {
      case n ~ t ~ d => ColumnDef(n, t, d)
    }

  private sealed trait NodeElem
  private case class ColElem(c: ColumnDef) extends NodeElem
  private case class PkElem(cols: Seq[String]) extends NodeElem
  private case class IdElem(col: String) extends NodeElem
  private case class FromToElem(from: String, to: String) extends NodeElem
  private case class AdjElem(on: Boolean) extends NodeElem

  private def nodeTableElem: Parser[NodeElem] =
    (kw("primary") ~> kw("key") ~> "(" ~> rep1sep(anyIdent, ",") <~ ")") ^^ PkElem.apply |
    (kw("node") ~> kw("id") ~> "(" ~> anyIdent <~ ")") ^^ IdElem.apply |
    columnDef ^^ ColElem.apply

  private def createNodeTable: Parser[CreateNodeTable] =
    kw("create") ~> kw("node") ~> kw("table") ~> anyIdent ~
      ("(" ~> rep1sep(nodeTableElem, ",") <~ ")") ^^ { case name ~ elems =>
      val cols = elems.collect { case ColElem(c) => c }
      val pk = elems.collect { case PkElem(cs) => cs }.flatten
      val ids = elems.collect { case IdElem(c) => c }
      if (ids.isEmpty) throw new GraftException(s"CREATE NODE TABLE $name: missing NODE ID")
      if (ids.size > 1) throw new GraftException(s"CREATE NODE TABLE $name: multiple NODE ID")
      if (pk.isEmpty) throw new GraftException(s"CREATE NODE TABLE $name: missing PRIMARY KEY")
      CreateNodeTable(name, cols, pk, ids.head)
    }

  private def relTableElem: Parser[NodeElem] =
    (kw("from") ~> anyIdent ~ (kw("to") ~> anyIdent)) ^^ { case f ~ t => FromToElem(f, t) } |
    (kw("adj") ~> kw("index") ~> (kw("true") | kw("false"))) ^^ (b => AdjElem(b == "true")) |
    columnDef ^^ ColElem.apply

  private def createRelTable: Parser[CreateRelTable] =
    kw("create") ~> kw("rel") ~> kw("table") ~> anyIdent ~
      ("(" ~> rep1sep(relTableElem, ",") <~ ")") ^^ { case name ~ elems =>
      val ft = elems.collect { case e: FromToElem => e }
      if (ft.size != 1)
        throw new GraftException(s"CREATE REL TABLE $name: exactly one FROM..TO required")
      val cols = elems.collect { case ColElem(c) => c }
      val adj = elems.collect { case AdjElem(b) => b }.headOption.getOrElse(false)
      CreateRelTable(name, ft.head.from, ft.head.to, cols, adj)
    }

  /** `readQuery (UNION [ALL] readQuery)*` — mixing UNION and UNION ALL in
    * one query is rejected (openCypher). */
  private def readOrUnion: Parser[CypherStatement] =
    readQuery ~ rep((kw("union") ~> opt(kw("all"))) ~ readQuery) ^^ {
      case head ~ Nil  => head
      case head ~ tail =>
        val kinds = tail.map { case a ~ _ => a.isDefined }.distinct
        if (kinds.size > 1)
          throw new GraftException("cannot mix UNION and UNION ALL in one query")
        UnionQuery(head +: tail.map { case _ ~ q => q }, kinds.head)
    }

  /** Leading uncorrelated `CALL { <read query> }` blocks. A correlated
    * import (`CALL { WITH a ... }`) fails the inner readQuery parse — the
    * lookahead gives it a specific error instead of a generic one. */
  private def callBlocks: Parser[CypherStatement] =
    rep1(kw("call") ~> "{" ~>
      (kw("with") ~> err("a leading CALL body cannot import (nothing is in " +
        "scope before it); correlated CALL { WITH ... } is supported after " +
        "MATCH/WITH, immediately before RETURN") | readQuery) <~
      "}") ~ readOrUnion ^^ {
      case calls ~ main => CallQuery(calls, main)
    }

  /** `CREATE (n:Label {props})[, ...]` instance inserts (extension; the
    * reference ignores these — query_planner/mod.rs:21-31). Ordered AFTER
    * the table DDL alternatives so `CREATE NODE TABLE` / `CREATE REL
    * TABLE` never reach it; shape validation runs at execution. */
  private def createInstance: Parser[CreateGraphQuery] =
    kw("create") ~> rep1sep(pathPattern, ",") ^^ CreateGraphQuery.apply

  private def statement: Parser[CypherStatement] =
    opt(kw("explain") | kw("profile")) ~
      ((createNodeTable | createRelTable | createInstance | callBlocks |
        readOrUnion) <~ opt(";")) ^^ {
      case Some(mode) ~ inner => inner match {
        case _: ReadQuery | _: UnionQuery | _: CallQuery =>
          ExplainQuery(inner, profile = mode == "profile")
        case _ => throw new GraftException(
          s"${mode.toUpperCase} only applies to read queries")
      }
      case None ~ inner => inner
    }

  def parse(query: String): CypherStatement =
    parseAll(statement, query) match {
      case Success(ast, _) => ast
      case ns: NoSuccess =>
        // Reference parity: SET/REMOVE/DELETE parse but are rejected as
        // unsupported (handlers.rs:65-76 → UnsupportedDDLQuery); CREATE
        // instance inserts are ignored by the planner — we reject loudly.
        val unsupported = """(?i)\b(detach\s+delete|delete|set|remove)\b""".r
        val createInstance = """(?i)\bcreate\s*\(""".r
        if (createInstance.findFirstIn(query).isDefined)
          throw new GraftException(
            "CREATE instance inserts are not supported; load data by writing " +
            "to the backing tables (reference parity)")
        if (unsupported.findFirstIn(query).isDefined)
          throw new GraftException(
            "SET/REMOVE/DELETE are not supported (reference parity: Update/" +
            "Delete queries are rejected)")
        throw new GraftException(s"parse error at ${ns.next.pos}: ${ns.msg}")
    }
}
