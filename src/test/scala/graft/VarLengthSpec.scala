package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The two forms of a var-length or distance-only shortestPath hop give
  * the same rows: the hashed one-stage expansion a broadcast-small base
  * with integral ids takes, and the per-level join form every other base
  * takes (forced here with `autoBroadcastJoinThreshold = -1`). */
class VarLengthSpec extends AnyFunSuite {
  import TestSpark._

  private def withJoinForm[A](body: => A): A = {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString(",")).sorted

  private def hashed(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("Generate")

  /** Nodes 1..7. Edges: a 1→2→3→1 cycle, a self-loop on 4, 2→4 twice
    * (parallel), 4→5→6, and one edge with a null endpoint either way. */
  private def session(ids: String): GraftSession = {
    import spark.implicits._
    val g = new GraftSession(spark)
    val edges = Seq[(Option[Long], Option[Long])](
      Some(1L) -> Some(2L), Some(2L) -> Some(3L), Some(3L) -> Some(1L),
      Some(4L) -> Some(4L), Some(2L) -> Some(4L), Some(2L) -> Some(4L),
      Some(4L) -> Some(5L), Some(5L) -> Some(6L),
      Some(6L) -> None, None -> Some(7L))
      .toDF("from_V", "to_V")
    g.registerTable("v", (1L to 7L).toDF("id").selectExpr(s"CAST(id AS $ids) AS id"))
    g.registerTable("E", edges.selectExpr(
      s"CAST(from_V AS $ids) AS from_V", s"CAST(to_V AS $ids) AS to_V"))
    g.registerNode("V", "v", "id")
    g.registerRel("E", "E", "V", "V")
    g
  }

  private val queries = Seq(
    "MATCH (a:V)-[:E*1..3]->(b:V) RETURN a.id AS a, b.id AS b;",
    "MATCH (a:V)-[:E*2..4]->(b:V) RETURN a.id AS a, b.id AS b;",
    "MATCH (a:V)-[:E*1..3]-(b:V) RETURN a.id AS a, b.id AS b;",
    "MATCH (a:V)-[:E*2..5]-(b:V) WHERE a.id = 5 RETURN a.id AS a, b.id AS b;",
    "MATCH p = shortestPath((a:V)-[:E*1..4]->(b:V)) RETURN a.id AS a, b.id AS b, length(p) AS len;",
    "MATCH p = shortestPath((a:V)-[:E*2..4]->(b:V)) RETURN a.id AS a, b.id AS b, length(p) AS len;",
    "MATCH p = shortestPath((a:V)-[:E*1..3]-(b:V)) RETURN a.id AS a, b.id AS b, length(p) AS len;",
    "MATCH p = shortestPath((a:V)-[:E*1..8]->(b:V)) WHERE a.id = 2 RETURN b.id AS b, length(p) AS len;")

  for (ids <- Seq("INT", "BIGINT")) test(s"hashed and join forms give identical rows ($ids ids)") {
    val gs = session(ids)
    for (q <- queries) {
      val viaHash = gs.cypher(q)
      assert(hashed(viaHash), s"expected the hashed form for $q")
      val expected = withJoinForm {
        val viaJoin = gs.cypher(q)
        assert(!hashed(viaJoin), s"expected the join form for $q")
        sorted(viaJoin)
      }
      assert(expected.nonEmpty, q)
      assert(sorted(viaHash) == expected, q)
    }
    graft.pipeline.PipelineCaches.clear()
  }

  test("hop walks cover the cycle, the self-loop and the parallel edge") {
    val gs = session("BIGINT")
    assert(sorted(gs.cypher(
      "MATCH (a:V)-[:E*1..2]->(b:V) WHERE a.id = 2 RETURN b.id AS b;")) ==
      Seq("1", "3", "4", "5"))
    assert(sorted(gs.cypher(
      """MATCH p = shortestPath((a:V)-[:E*1..4]->(b:V)) WHERE a.id = 1
        |RETURN b.id AS b, length(p) AS len;""".stripMargin)) ==
      Seq("1,3", "2,1", "3,2", "4,2", "5,3", "6,4"))
    graft.pipeline.PipelineCaches.clear()
  }

  test("scale guard: *1..4 over 40k edges counts every walk-level pair, hashed no slower") {
    import org.apache.spark.sql.functions._
    val n = 20000L
    val g = new GraftSession(spark)
    val ids = spark.range(n).toDF("id")
    g.registerTable("sv", ids)
    g.registerTable("SE",
      ids.select(col("id").as("from_V"), ((col("id") * 7 + 1) % n).as("to_V"))
        .union(ids.select(col("id").as("from_V"), ((col("id") * 13 + 5) % n).as("to_V"))))
    g.registerNode("V", "sv", "id")
    g.registerRel("E", "SE", "V", "V")
    val q = "MATCH (a:V)-[:E*1..4]->(b:V) RETURN count(*) AS c;"
    def timed(): (Long, Long) = {
      val t0 = System.nanoTime()
      val c = g.cypher(q).collect().head.getLong(0)
      graft.pipeline.PipelineCaches.clear()
      (c, System.nanoTime() - t0)
    }
    // the second run of each form is timed, after JIT and file caches warm
    timed()
    val (viaHash, hashNs) = timed()
    val (viaJoin, joinNs) = withJoinForm { timed(); timed() }
    assert(viaHash == 599750L)
    assert(viaJoin == 599750L)
    assert(hashNs <= joinNs,
      s"hashed ${hashNs / 1e6} ms slower than the join form's ${joinNs / 1e6} ms")
  }
}
