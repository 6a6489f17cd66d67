package graft

import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.ParamRef
import graft.fixtures.TpchGraph
import graft.pipeline.PipelineCaches

/** Bound `$param` values are read through references ([[exec.ParamRefs]]):
  * the answer is the literal's, and one plan shape compiles once whatever
  * the values. Shapes are the `cypher_read` templates of the benchmark,
  * over the sf0.001 fixtures. */
class ParamRefsSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val gs = TpchGraph.session(spark, "/root/testdata/sf0.001")

  private def ks(xs: Long*): Seq[Map[String, Any]] = xs.map(k => Map[String, Any]("k" -> k))
  private def ns(xs: Long*): Seq[Map[String, Any]] = xs.map(n => Map[String, Any]("n" -> n))

  /** (name, Cypher text, value sets): every set warms up the compile
    * count and feeds the answer check. */
  private val templates: Seq[(String, String, Seq[Map[String, Any]])] = Seq(
    ("point", "MATCH (c:Customer) WHERE c.c_custkey = $k " +
      "RETURN c.c_name AS name, c.c_acctbal AS bal;", ks(5, 77, 120, 3)),
    ("hop_index", "MATCH (c:Customer {c_custkey: $k})-[:PLACED]->(o:Order) " +
      "RETURN o.o_orderkey AS o_orderkey;", ks(7, 77, 101, 34)),
    ("hop_edgelist", "MATCH (c:Customer)-[pl:PLACED]->(o:Order) " +
      "WHERE c.c_custkey = $k AND pl.o_orderdate < datetime($d) " +
      "RETURN o.o_orderkey AS o_orderkey;",
      Seq(77L -> "1997-01-01", 13L -> "1999-06-30", 64L -> "2001-01-01", 100L -> "1996-03-15")
        .map { case (k, d) => Map[String, Any]("k" -> k, "d" -> d) }),
    ("chain2", "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region) " +
      "WHERE r.r_name = $r RETURN n.n_name AS n_name, count(*) AS cnt;",
      Seq("AFRICA", "ASIA", "EUROPE").map(r => Map[String, Any]("r" -> r))),
    ("chain3", "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) " +
      "WHERE c.c_custkey = $k RETURN p.p_brand AS brand, count(*) AS cnt;", ks(11, 22, 130, 56)),
    ("agg_traversal", "MATCH (c:Customer)-[:PLACED]->(o:Order) " +
      "WHERE c.c_nationkey = $n AND c.c_custkey < 14000 " +
      "RETURN c.c_mktsegment AS seg, count(*) AS cnt, max(o.o_totalprice) AS max_p;",
      ns(3, 7, 11, 21)),
    ("topk", "MATCH (c:Customer)-[:PLACED]->(o:Order) " +
      "WHERE c.c_mktsegment = $s AND c.c_custkey < 14000 " +
      "RETURN c.c_custkey AS c_custkey, count(o) AS cnt " +
      "ORDER BY cnt DESC, c_custkey ASC SKIP 5 LIMIT 10;",
      Seq("AUTOMOBILE", "BUILDING", "MACHINERY").map(s => Map[String, Any]("s" -> s))),
    ("varlen", "MATCH (a:Nation)-[:NATION_ADJ*1..2]->(b:Nation) WHERE a.n_nationkey = $n " +
      "RETURN b.n_nationkey AS b_id;", ns(0, 5, 10, 16, 20)),
    ("varlen_deep", "MATCH (a:Nation)-[:NATION_RING*1..8]->(b:Nation) WHERE a.n_nationkey = $n " +
      "RETURN b.n_nationkey AS b_id;", ns(1, 9, 13, 2)),
    ("shortest", "MATCH p = shortestPath((a:Nation)-[:NATION_NEXT*1..4]->(b:Nation)) " +
      "WHERE a.n_nationkey = $n RETURN b.n_name AS b_name, length(p) AS len;", ns(2, 6, 8, 16, 4)),
    ("call_union", "CALL { MATCH (n:Nation) RETURN max(n.n_nationkey) AS top } " +
      "MATCH (n:Nation) WHERE n.n_nationkey = top - $d RETURN n.n_name AS name " +
      "UNION MATCH (n:Nation) WHERE n.n_nationkey = top - 24 RETURN n.n_name AS name;",
      Seq(3L, 10L, 15L, 24L).map(d => Map[String, Any]("d" -> d))),
    ("exists", "MATCH (n:Nation) WHERE EXISTS { MATCH (s:Supplier)-[:SUPP_NATION]->(n) " +
      "WHERE s.s_acctbal > $b } RETURN n.n_name AS n_name;",
      Seq(1000.0, 2500.5, 5000.0, 0.0).map(b => Map[String, Any]("b" -> b))))

  /** Per template, values no other statement of this suite binds or
    * writes: the compile count's never-seen pass. */
  private val unseen: Map[String, Map[String, Any]] = Map(
    "point" -> Map("k" -> 149L), "hop_index" -> Map("k" -> 148L),
    "hop_edgelist" -> Map("k" -> 147L, "d" -> "1998-08-02"),
    "chain2" -> Map("r" -> "AMERICA"), "chain3" -> Map("k" -> 146L),
    "agg_traversal" -> Map("n" -> 17L), "topk" -> Map("s" -> "FURNITURE"),
    "varlen" -> Map("n" -> 23L), "varlen_deep" -> Map("n" -> 22L),
    "shortest" -> Map("n" -> 19L), "call_union" -> Map("d" -> 18L),
    "exists" -> Map("b" -> 4321.5))

  /** One statement as the server runs it: built and drained on the calling
    * thread, inside its own cache scope. */
  private def statement(q: String, params: Map[String, Any]): Set[Seq[Any]] =
    PipelineCaches.scoped(rows(gs.cypher(q, params)))

  /** `q` with every `$name` written as a Cypher literal. */
  private def inline(q: String, params: Map[String, Any]): String = {
    def text(v: Any): String = v match {
      case s: String => s"'$s'"
      case xs: Seq[_] => xs.map(text).mkString("[", ", ", "]")
      case other => other.toString
    }
    params.foldLeft(q) { case (acc, (n, v)) =>
      acc.replaceAll("\\$" + n + "\\b", java.util.regex.Matcher.quoteReplacement(text(v)))
    }
  }

  test("compile counts: never-seen values and a second rotation compile no class") {
    def compiles = Profile.codegenCompiles
    def counted(body: => Unit): Long = { val c0 = compiles; body; compiles - c0 }
    // the warm-up runs every value set, so each data-dependent variant of a
    // shape is compiled once: a broadcast join's code differs when its
    // build side's keys are unique, so the var-length pools hold an anchor
    // that reaches several nations, one (16) and none (20) (DESIGN §17)
    templates.foreach { case (_, q, sets) => sets.foreach(statement(q, _)) }
    val fresh = templates.map { case (name, q, _) => name -> counted(statement(q, unseen(name))) }
    val rotation = templates.map { case (name, q, sets) => name -> counted(statement(q, sets.head)) }
    // the hop bases are collected once per write, so a repeat or a new
    // value runs no collect whose stage order could vary (DESIGN §15)
    def over(counts: Seq[(String, Long)]) = counts.filter { case (_, n) => n > 0 }
    info(s"never-seen values: $fresh; second rotation: $rotation")
    assert(over(fresh).isEmpty, s"never-seen values compiled: $fresh")
    assert(over(rotation).isEmpty, s"a second rotation compiled: $rotation")
  }

  test("a bound $param gives the rows of the same value written as a literal") {
    val inList = ("q_param", "MATCH (c:Customer) WHERE c.c_mktsegment = $seg " +
      "AND c.c_nationkey IN $nats RETURN count(*) AS cnt;",
      Seq(Seq(1L, 5L, 9L), Seq(0L, 24L), Seq(3L, 7L, 11L, 13L, 17L, 19L, 23L, 2L, 4L, 6L, 8L, 10L))
        .map(xs => Map[String, Any]("seg" -> "BUILDING", "nats" -> xs)))
    var nonEmpty = 0
    for ((name, q, sets) <- templates :+ inList; params <- sets) {
      val literal = inline(q, params)
      assert(!literal.contains("$"), literal)
      val bound = statement(q, params)
      assert(bound == statement(literal, Map.empty), s"$name $params")
      if (bound.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 40, s"only $nonEmpty of the checked answers have rows")
  }

  private def paramRefs(plan: SparkPlan): Seq[ParamRef] =
    plan.collectWithSubqueries { case p => p.expressions }.flatten
      .flatMap(_.collect { case r: ParamRef => r })

  test("a statement's marks stay on its thread: a concurrent literal plan keeps its literal") {
    val q = templates.head._2
    val df = gs.cypher(q, Map("k" -> 42L))
    val other = new java.util.concurrent.atomic.AtomicReference[SparkPlan]()
    val t = new Thread(() => other.set(
      gs.cypher(inline(q, Map("k" -> 42L)), Map.empty).queryExecution.executedPlan))
    t.start(); t.join()
    assert(paramRefs(df.queryExecution.executedPlan).map(_.value) == Seq(42L))
    assert(paramRefs(other.get).isEmpty, other.get)
    // a statement without parameters drops the thread's marks
    assert(paramRefs(gs.cypher(inline(q, Map("k" -> 43L))).queryExecution.executedPlan).isEmpty)
  }
}
