package graft.exec

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.cypher.{Expr, GraftException}

/** Compiles [[graft.cypher.Expr]] trees to Spark [[Column]]s.
  *
  * The reference passes unknown scalar-function names through verbatim to
  * ClickHouse (brahmand/src/clickhouse_query_generator/to_sql_query.rs:279-287);
  * we are deliberately explicit instead: every function name must be in the
  * registry (SURVEY.md §2.2). All entries map to codegen'd
  * `org.apache.spark.sql.functions` builtins — no UDFs.
  *
  * `resolve` maps an alias-qualified property (or bare name) to a Column; the
  * builder supplies a context-appropriate resolver (qualified `alias.col`
  * pre-projection; output names post-projection).
  */
object ExprCompiler {

  type Resolver = Expr => Option[Column]

  def compile(e: Expr, resolve: Resolver): Column = e match {
    case other if resolve(other).isDefined => resolve(other).get
    case Expr.Lit(null)        => lit(null)
    case Expr.Lit(v)           => lit(v)
    case Expr.Star             => lit(1) // only valid inside count(*); guarded there
    case Expr.Prop(a, c)       => col(s"$a.$c")
    case Expr.Var(n)           => col(n)
    case Expr.Param(n)         => throw new GraftException(s"unbound parameter $$$n")
    case Expr.PatternPred(_) | Expr.ExistsSub(_, _) => throw new GraftException(
      "pattern predicates / EXISTS { } are only supported as top-level " +
      "conjuncts of the main MATCH's WHERE clause")
    case Expr.CountSub(_, _) | Expr.PatternComp(_, _, _) =>
      throw new GraftException(
        "COUNT { } / pattern comprehensions are only supported in the " +
        "first WITH/RETURN projection")
    case Expr.ListLit(items)   => array(items.map(compile(_, resolve)): _*)
    case Expr.Neg(x)           => -compile(x, resolve)
    case Expr.Not(x)           => !compile(x, resolve)
    case Expr.IsNull(x, false) => compile(x, resolve).isNull
    case Expr.IsNull(x, true)  => compile(x, resolve).isNotNull

    case Expr.Bin(op, l, r) =>
      lazy val lc = compile(l, resolve)
      op match {
        case "+"   => lc + compile(r, resolve)
        case "-"   => lc - compile(r, resolve)
        case "*"   => lc * compile(r, resolve)
        case "/"   => lc / compile(r, resolve)
        case "%"   => lc % compile(r, resolve)
        case "^"   => pow(lc, compile(r, resolve))
        case "="   => lc === compile(r, resolve)
        case "<>"  => lc =!= compile(r, resolve)
        case "<"   => lc < compile(r, resolve)
        case ">"   => lc > compile(r, resolve)
        case "<="  => lc <= compile(r, resolve)
        case ">="  => lc >= compile(r, resolve)
        case "AND" => lc && compile(r, resolve)
        case "OR"  => lc || compile(r, resolve)
        // Cypher string predicates; NULL-propagating like the comparisons
        case "STARTS WITH" => lc.startsWith(compile(r, resolve))
        case "ENDS WITH"   => lc.endsWith(compile(r, resolve))
        case "CONTAINS"    => lc.contains(compile(r, resolve))
        // openCypher =~ is FULL-string match; Spark regexp_like is search.
        // Wrap the pattern in ^(?:...)$ so Neo4j-ported queries keep their
        // semantics (round-5 advice — the unanchored form silently
        // returned supersets).
        case "=~"          =>
          regexp_like(lc, concat(lit("^(?:"), compile(r, resolve), lit(")$")))
        case "IN" =>
          r match {
            case Expr.ListLit(items) if items.forall {
                case Expr.Lit(_) => true; case _ => false } =>
              // all-literal list → isin (codegen InSet for long lists)
              lc.isin(items.collect { case Expr.Lit(v) => v }: _*)
            case other =>
              // non-literal rhs: Cypher requires a LIST value — compile to
              // array_contains (membership). A scalar rhs fails analysis
              // with a type error, matching Cypher's semantics; the old
              // `isin(col)` form silently degraded to equality.
              array_contains(compile(other, resolve), lc)
          }
        case other => throw new GraftException(s"unknown operator: $other")
      }

    case Expr.CaseWhen(branches, otherwise) =>
      val start = when(compile(branches.head._1, resolve), compile(branches.head._2, resolve))
      val chained = branches.tail.foldLeft(start) { case (acc, (c, v)) =>
        acc.when(compile(c, resolve), compile(v, resolve))
      }
      otherwise.map(o => chained.otherwise(compile(o, resolve))).getOrElse(chained)

    // a call over bound parameters only (`datetime($d)`): Catalyst folds
    // it into a literal, whose value is marked for ParamRefs
    case fn @ Expr.Fn(_, args, false) if args.nonEmpty && args.forall {
        case Expr.Lit(v) => ParamRefs.isBound(v); case _ => false } =>
      ParamRefs.folded(compileFn(fn, resolve))
    case fn @ Expr.Fn(_, _, _) => compileFn(fn, resolve)

    // list comprehension → filter/transform HOFs; the lambda variable
    // shadows outer names via a layered resolver
    case Expr.ListComp(v, listE, whereE, projE) =>
      val listC = compile(listE, resolve)
      def env(x: Column): Resolver = {
        case Expr.Var(n) if n == v => Some(x)
        case other                 => resolve(other)
      }
      val filtered = whereE match {
        case Some(p) => filter(listC, x => compile(p, env(x)))
        case None    => listC
      }
      projE match {
        case Some(pr) => transform(filtered, x => compile(pr, env(x)))
        case None     => filtered
      }

    // reduce → aggregate() left fold (same element order guarantee)
    case Expr.Reduce(accName, initE, v, listE, stepE) =>
      aggregate(compile(listE, resolve), compile(initE, resolve),
        (acc, x) => compile(stepE, {
          case Expr.Var(n) if n == accName => Some(acc)
          case Expr.Var(n) if n == v       => Some(x)
          case other                       => resolve(other)
        }))
  }

  private def percentileP(v: Any): Double = v match {
    case d: Double if d >= 0.0 && d <= 1.0 => d
    case l: Long if l == 0L || l == 1L     => l.toDouble
    case other => throw new GraftException(
      s"percentile: p must be a literal in [0, 1], got $other")
  }

  /** The component map of a temporal constructor's single map-literal
    * argument (`date({year: 1995, ...})`), lowercased keys; None for the
    * string form. Unknown component names are a loud error, not silently
    * ignored (a typoed `mnth:` would otherwise yield month=1). */
  private def temporalMapArgs(fn: Expr.Fn): Option[Map[String, Expr]] =
    fn.args match {
      case Seq(Expr.Fn("__named_struct", pairs, _)) =>
        val m = pairs.grouped(2).map {
          case Seq(Expr.Lit(n: String), v) => n.toLowerCase -> v
          case other => throw new GraftException(s"malformed map pair: $other")
        }.toMap
        val known = Set("year", "month", "day", "hour", "minute", "second")
        val bad = m.keySet.diff(known)
        if (bad.nonEmpty) throw new GraftException(
          s"${fn.name}: unknown temporal component(s) ${bad.mkString(", ")} " +
            s"(expected: ${known.toSeq.sorted.mkString(", ")})")
        if (!m.contains("year")) throw new GraftException(
          s"${fn.name}: the component map requires a year")
        Some(m)
      case _ => None
    }

  private def compileFn(fn: Expr.Fn, resolve: Resolver): Column = {
    val name = fn.name.toLowerCase
    def tempC(m: Map[String, Expr], k: String, dflt: Int = -1): Column =
      m.get(k).map(compile(_, resolve).cast("int"))
        .getOrElse(lit(dflt))
    def arg(i: Int): Column = compile(fn.args(i), resolve)
    def args: Seq[Column] = fn.args.map(compile(_, resolve))
    def litArg(i: Int): Any = fn.args(i) match {
      case Expr.Lit(v) => v
      case other => throw new GraftException(s"$name: argument ${i + 1} must be a literal, got $other")
    }

    name match {
      // ---- aggregates (reference classifier list logical_expr/mod.rs:255) --
      case "count" =>
        fn.args.head match {
          case Expr.Star => count(lit(1))
          case _ if fn.distinct => count_distinct(arg(0), args.drop(1): _*)
          case _ => count(arg(0))
        }
      case "sum"          => if (fn.distinct) sum_distinct(arg(0)) else sum(arg(0))
      // DISTINCT is a no-op under min/max but must not be silently
      // dropped elsewhere (avg(DISTINCT) computing a plain avg would be
      // wrong answers, not an error)
      case "min"          => min(arg(0))
      case "max"          => max(arg(0))
      case "avg" =>
        if (fn.distinct) call_function("graft_avg_distinct", arg(0))
        else avg(arg(0))
      case "collect_list" | "collect" =>
        if (fn.distinct) collect_set(arg(0)) else collect_list(arg(0))
      case "collect_set"  => collect_set(arg(0))
      case _ if fn.distinct =>
        throw new GraftException(
          s"$name(DISTINCT ...) is not supported (DISTINCT applies to " +
            "count, sum, avg, collect)")
      case "stddev"       => stddev(arg(0))
      case "approx_count_distinct" => approx_count_distinct(arg(0))
      case "variance"     => variance(arg(0))
      // openCypher percentile aggregates: Cont = exact linear
      // interpolation (Spark's percentile); Disc = first value whose
      // cumulative distribution >= p (composed: sorted collect + rank
      // index — exact, group-memory-bound like collect itself)
      case "percentilecont" => percentile(arg(0), lit(percentileP(litArg(1))))
      // Disc = smallest value whose cumulative distribution >= p, via the
      // native PercentileDisc aggregate (counts-hashmap state — group
      // memory ∝ distinct values; the previous collect_list + rank-index
      // form materialized every row of the group)
      case "percentiledisc" =>
        call_function("graft_percentile_disc", arg(0),
          lit(percentileP(litArg(1))))
      case "median"       => median(arg(0))

      // ---- scalar registry --------------------------------------------------
      case "toupper" | "upper"       => upper(arg(0))
      case "tolower" | "lower"       => lower(arg(0))
      case "length" | "char_length"  => length(arg(0))
      // Cypher size() is polymorphic (list length / string chars) — Spark's
      // size/length builtins are each mono-typed, so dispatch via the native
      // graft_size expression (type-resolved once at analysis).
      case "size"                    => call_function("graft_size", arg(0))
      case "trim"                    => trim(arg(0))
      case "ltrim"                   => ltrim(arg(0))
      case "rtrim"                   => rtrim(arg(0))
      case "reverse"                 => reverse(arg(0))
      case "replace"                 => regexp_replace(arg(0), java.util.regex.Pattern.quote(litArg(1).toString), litArg(2).toString)
      case "substring" | "substr"    =>
        substring(arg(0), litArg(1).asInstanceOf[Long].toInt, if (fn.args.size > 2) litArg(2).asInstanceOf[Long].toInt else Int.MaxValue)
      case "left"                    => substring(arg(0), 1, litArg(1).asInstanceOf[Long].toInt)
      case "right"                   => call_function("right", arg(0), arg(1))
      case "split"                   => split(arg(0), litArg(1).toString)
      case "concat"                  => concat(args: _*)
      case "startswith"              => arg(0).startsWith(arg(1))
      case "endswith"                => arg(0).endsWith(arg(1))
      case "contains"                => arg(0).contains(arg(1))
      case "abs"                     => abs(arg(0))
      case "round"                   => if (fn.args.size > 1) round(arg(0), litArg(1).asInstanceOf[Long].toInt) else round(arg(0))
      case "floor"                   => floor(arg(0))
      case "ceil" | "ceiling"        => ceil(arg(0))
      case "sqrt"                    => sqrt(arg(0))
      case "exp"                     => exp(arg(0))
      case "ln"                      => log(arg(0))
      case "log10"                   => log10(arg(0))
      case "log2"                    => log2(arg(0))
      case "sign"                    => signum(arg(0))
      case "pow" | "power"           => pow(arg(0), arg(1))
      case "coalesce"                => coalesce(args: _*)
      case "tostring"                => arg(0).cast("string")
      case "tointeger" | "toint"     => arg(0).cast("long")
      case "tofloat"                 => arg(0).cast("double")
      case "toboolean"               => arg(0).cast("boolean")
      case "year"                    => year(arg(0))
      case "month"                   => month(arg(0))
      case "day"                     => dayofmonth(arg(0))
      case "hour"                    => hour(arg(0))
      case "minute"                  => minute(arg(0))
      // date()/datetime() accept a string (to_date/to_timestamp) or the
      // openCypher component-map form `date({year: 1995, month: 3, day: 4})`
      // — the map arrives as the parser's __named_struct spelling and is
      // deconstructed HERE (before compiling) into make_date /
      // make_timestamp component arguments. Missing month/day default to 1,
      // time components to 0, as in openCypher.
      case "date"  | "todate"        =>
        temporalMapArgs(fn) match {
          case Some(m) =>
            make_date(tempC(m, "year"), tempC(m, "month", 1),
              tempC(m, "day", 1))
          case None => to_date(arg(0))
        }
      case "datetime" | "totimestamp" =>
        temporalMapArgs(fn) match {
          case Some(m) =>
            call_function("make_timestamp",
              tempC(m, "year"), tempC(m, "month", 1), tempC(m, "day", 1),
              tempC(m, "hour", 0), tempC(m, "minute", 0),
              tempC(m, "second", 0).cast("decimal(8,6)"))
          case None => to_timestamp(arg(0))
        }
      case "date_trunc"              => date_trunc(litArg(0).toString, arg(1))
      case "date_format"             => date_format(arg(0), litArg(1).toString)
      // duration.* between two temporals. DOCUMENTED DIVERGENCE: returns a
      // scalar count (days / whole seconds elapsed from `from` to `to`),
      // not a Duration object — same divergence class as Parameter
      // (engine-side scalars, no Duration type in Spark SQL).
      // duration({days: 1, hours: 6}) constructor — fixed-length
      // components (weeks..seconds) fold to a scalar second count.
      // Calendar-variable components ({years, months}) have no fixed
      // second length, so an all-calendar map becomes a YEAR-MONTH
      // INTERVAL instead (make_ym_interval — `date + duration({months:
      // 3})` then month-adds with end-of-month clamping on both engines);
      // MIXING the two families in one map stays rejected: no Spark type
      // carries both without silently approximating the calendar part
      case "duration" =>
        fn.args match {
          case Seq(Expr.Fn("__named_struct", pairs, _)) =>
            val m = pairs.grouped(2).map {
              case Seq(Expr.Lit(n: String), v) => n.toLowerCase -> v
              case other =>
                throw new GraftException(s"malformed map pair: $other")
            }.toMap
            val factors = Seq("weeks" -> 604800L, "days" -> 86400L,
              "hours" -> 3600L, "minutes" -> 60L, "seconds" -> 1L)
            val fixed = factors.map(_._1).toSet
            val calendar = Set("years", "months")
            val bad = m.keySet.diff(fixed ++ calendar)
            if (bad.nonEmpty) throw new GraftException(
              s"duration: unsupported component(s) ${bad.mkString(", ")} " +
                s"(supported: ${(fixed ++ calendar).toSeq.sorted.mkString(", ")})")
            if (m.keySet.exists(calendar) && m.keySet.exists(fixed))
              throw new GraftException(
                "duration: calendar components (years, months) cannot mix " +
                "with fixed-length ones in a single map — a month has no " +
                "fixed second length; add the two durations separately")
            if (m.keySet.exists(calendar)) {
              def c(k: String) = m.get(k)
                .map(v => compile(v, resolve).cast("int")).getOrElse(lit(0))
              call_function("make_ym_interval", c("years"), c("months"))
            } else
              factors.collect { case (k, f) if m.contains(k) =>
                compile(m(k), resolve).cast("long") * lit(f)
              }.reduceOption(_ + _).getOrElse(lit(0L))
          case _ => throw new GraftException(
            "duration() takes a component map, e.g. duration({days: 1})")
        }
      case "duration.indays"         => datediff(arg(1), arg(0)).cast("long")
      case "duration.between" | "duration.inseconds" =>
        unix_seconds(arg(1).cast("timestamp")) -
          unix_seconds(arg(0).cast("timestamp"))
      // openCypher list functions: range() is INCLUSIVE on both ends
      // (sequence matches); head/last are NULL on empty lists (element_at)
      // openCypher list-cast functions: element-wise TRY casts —
      // un-castable elements become NULL, as in Neo4j (a plain cast throws
      // under ANSI mode); round-trips with split()/range()
      case "tostringlist"            => transform(arg(0), _.try_cast("string"))
      case "tointegerlist"           => transform(arg(0), _.try_cast("long"))
      case "tofloatlist"             => transform(arg(0), _.try_cast("double"))
      case "tobooleanlist"           => transform(arg(0), _.try_cast("boolean"))
      case "range" =>
        if (fn.args.size > 2) sequence(arg(0), arg(1), arg(2))
        else sequence(arg(0), arg(1))
      case "head"                    => try_element_at(arg(0), lit(1))
      // tail: everything after the head; empty (not NULL) for 1-element
      // lists, NULL passes through
      case "tail" =>
        slice(arg(0), lit(2), greatest(size(arg(0)) - 1, lit(0)))
      case "last"                    => try_element_at(arg(0), lit(-1))
      // native fused-loop vector expressions (graft.functions)
      case "dot_product"             => call_function("graft_dot", arg(0), arg(1))
      case "cosine_similarity"       => call_function("graft_cosine", arg(0), arg(1))
      // openCypher timestamp() = ms since epoch; now() = current instant.
      // Both fold to the query-start clock (Spark's now() is fixed per
      // query), so one query sees one timestamp — as in Neo4j.
      case "timestamp"               => unix_millis(now())
      case "now"                     => now()
      // exists(expr) property form outside MATCH scope (the alias form
      // folds in DataFrameBuilder.rewriteAliasArgs; the pattern form
      // unwraps in the Planner)
      case "exists"                  => arg(0).isNotNull

      // plan-time-folded introspection fns arriving here mean the argument
      // was not a known pattern alias — name the context instead of
      // erroring with a raw unresolved column (round-5 advice)
      case "labels" | "type" | "id" | "keys" | "properties" =>
        throw new GraftException(
          s"$name() requires a node/relationship alias from the current " +
          "MATCH pattern as its argument")
      // postfix subscript: a string-literal key reads a map entry /
      // struct field (UnresolvedExtractValue via getItem); anything else
      // is a 0-based list index, negative counting from the end (both
      // openCypher semantics; out-of-range → NULL via try_element_at)
      case "__subscript" =>
        fn.args(1) match {
          case Expr.Lit(s: String) => arg(0).getItem(s)
          case _ =>
            val i = arg(1).cast("long")
            when(i >= 0, try_element_at(arg(0), (i + lit(1L)).cast("int")))
              .otherwise(try_element_at(arg(0), i.cast("int")))
        }
      // postfix slice l[a..b]: from-inclusive, to-exclusive, 0-based,
      // negative bounds count from the end, omitted bounds span the list
      case "__slice" =>
        val l = arg(0)
        val sz = size(l).cast("long")
        def bound(e: Expr, dflt: Column): Column = e match {
          case Expr.Lit(null) => dflt
          case _ =>
            val v = compile(e, resolve).cast("long")
            when(v < 0, greatest(sz + v, lit(0L))).otherwise(least(v, sz))
        }
        val f = bound(fn.args(1), lit(0L))
        val t = bound(fn.args(2), sz)
        slice(l, (f + lit(1L)).cast("int"),
          greatest(t - f, lit(0L)).cast("int"))
      // reaches compile only outside the main projection pipeline (e.g.
      // inside a pattern-comprehension projection) — reject loudly
      case "__map_proj" | "__props_spread" =>
        throw new GraftException(
          "map projections are only supported in the main query's " +
          "WHERE/WITH/RETURN expressions")
      // internal spelling produced by the properties() fold: alternating
      // (name literal, value) pairs → named struct field list
      case "__named_struct" =>
        val fields = fn.args.grouped(2).map {
          case Seq(Expr.Lit(n: String), v) => compile(v, resolve).as(n)
          case other => throw new GraftException(s"malformed struct pair: $other")
        }.toSeq
        struct(fields: _*)

      case other =>
        // Deliberate divergence from the reference's verbatim pass-through
        // (to_sql_query.rs:279-287): unknown functions are an error.
        throw new GraftException(s"unknown function: $other")
    }
  }
}
