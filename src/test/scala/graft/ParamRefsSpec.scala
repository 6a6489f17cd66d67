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

  /** Every value set warms up the compile count and feeds the answer
    * check. */
  private val templates = ReadShapes.templates

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
