package graft

/** The 12 read templates of the benchmark's `cypher_read` workload, one
  * per gate `q_` shape, with parameter values over the sf0.001 fixtures
  * (FIXTURES.md B). */
object ReadShapes {
  private def ks(xs: Long*): Seq[Map[String, Any]] = xs.map(k => Map[String, Any]("k" -> k))
  private def ns(xs: Long*): Seq[Map[String, Any]] = xs.map(n => Map[String, Any]("n" -> n))

  /** (name, Cypher text, value sets). */
  val templates: Seq[(String, String, Seq[Map[String, Any]])] = Seq(
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
}
