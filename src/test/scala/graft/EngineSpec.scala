package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cypher.{DisconnectedPatternException, GraftException}

/** End-to-end Cypher → DataFrame tests on a small in-memory graph:
  * users 1-5 (u1..u5), Follows = {1→2, 1→3, 2→3, 3→4, 2→1},
  * Posts 10-12, Created = {1→10, 2→10, 2→11, 3→12}. */
class EngineSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val gs: GraftSession = {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("users",
      Seq((1L, "u1", "berlin"), (2L, "u2", "paris"), (3L, "u3", "berlin"),
          (4L, "u4", "rome"), (5L, "u5", "paris"))
        .toDF("id", "name", "city"))
    g.registerTable("posts",
      Seq((10L, "p10"), (11L, "p11"), (12L, "p12")).toDF("id", "title"))
    g.registerTable("Follows",
      Seq((1L, 2L, 2019), (1L, 3L, 2020), (2L, 3L, 2021), (3L, 4L, 2022), (2L, 1L, 2023))
        .toDF("from_User", "to_User", "since"))
    g.registerTable("Created",
      Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 12L)).toDF("from_User", "to_Post"))
    g.registerNode("User", "users", "id")
    g.registerNode("Post", "posts", "id")
    g.registerRel("Follows", "Follows", "User", "User", adjIndex = true)
    g.registerRel("Created", "Created", "User", "Post")
    g
  }

  test("1-hop directed traversal with inline filter") {
    val df = gs.cypher("MATCH (a:User {name:'u1'})-[:Follows]->(b:User) RETURN b.id AS id;")
    assert(longs(df) == Set(2L, 3L))
  }

  test("adjacency-index path and edge-list path agree") {
    val viaIndex = gs.cypher(
      "MATCH (a:User {name:'u1'})-[:Follows]->(b:User) RETURN b.id AS id;")
    val viaEdgeList = gs.cypher( // rel-property filter forces edge list
      "MATCH (a:User {name:'u1'})-[f:Follows]->(b:User) WHERE f.since > 0 RETURN b.id AS id;")
    assert(longs(viaIndex) == longs(viaEdgeList))
  }

  test("2-hop chain") {
    val df = gs.cypher(
      "MATCH (a:User {name:'u1'})-[:Follows]->(b:User)-[:Follows]->(c:User) RETURN c.id AS id;")
    assert(longs(df) == Set(1L, 3L, 4L))
  }

  test("undirected same-label hop is UNION DISTINCT of both orientations") {
    val df = gs.cypher("MATCH (a:User {name:'u2'})-[:Follows]-(b:User) RETURN b.id AS id;")
    assert(longs(df) == Set(1L, 3L))
  }

  test("cycle pattern (standalone-rel double-key join)") {
    val df = gs.cypher(
      """MATCH (a:User)-[:Follows]->(b:User)-[:Follows]->(c:User), (a)-[:Follows]->(c)
        |RETURN a.id AS aid, c.id AS cid;""".stripMargin)
    assert(rows(df) == Set(Seq(1L, 3L), Seq(2L, 3L)))
  }

  test("wrong-direction pattern yields empty result, not an error") {
    val df = gs.cypher("MATCH (p:Post)-[:Created]->(u:User) RETURN u.id AS id;")
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("id"))
  }

  test("grouped aggregate with count(alias) and ordered top-k") {
    val df = gs.cypher(
      """MATCH (a:User)-[:Follows]->(b:User)
        |RETURN a.name AS name, count(b) AS c ORDER BY c DESC, name ASC LIMIT 2;""".stripMargin)
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("u1", 2L), ("u2", 2L)))
  }

  test("global aggregates without GROUP BY") {
    val df = gs.cypher(
      "MATCH (u:User) RETURN count(*) AS n, min(u.id) AS lo, max(u.id) AS hi, avg(u.id) AS m;")
    val r = df.collect().head
    assert(r.getLong(0) == 5L && r.getLong(1) == 1L && r.getLong(2) == 5L && r.getDouble(3) == 3.0)
  }

  test("count(DISTINCT …) and RETURN DISTINCT") {
    val d1 = gs.cypher("MATCH (u:User)-[:Created]->(p:Post) RETURN count(DISTINCT p.id) AS n;")
    assert(d1.collect().head.getLong(0) == 3L)
    val d2 = gs.cypher("MATCH (u:User)-[:Created]->(p:Post) RETURN DISTINCT p.id AS id;")
    assert(longs(d2) == Set(10L, 11L, 12L))
  }

  test("ORDER BY + SKIP + LIMIT") {
    val df = gs.cypher("MATCH (u:User) RETURN u.id AS id ORDER BY id ASC SKIP 1 LIMIT 2;")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("WITH pipeline with post-WITH WHERE (HAVING semantics)") {
    val df = gs.cypher(
      """MATCH (a:User)-[:Follows]->(b:User)
        |WITH a.name AS name, count(b) AS c WHERE c > 1
        |RETURN name, c;""".stripMargin)
    assert(rows(df) == Set(Seq("u1", 2L), Seq("u2", 2L)))
  }

  test("WITH carries node bindings: WITH a, count(b) ... RETURN a.prop") {
    val df = gs.cypher(
      """MATCH (a:User)-[:Follows]->(b:User)
        |WITH a, count(b) AS c WHERE c > 1
        |RETURN a.name AS name, a.city AS city, c AS c;""".stripMargin)
    assert(rows(df) == Set(Seq("u1", "berlin", 2L), Seq("u2", "paris", 2L)))
  }

  test("two chained WITH stages") {
    val df = gs.cypher(
      """MATCH (a:User)-[:Follows]->(b:User)
        |WITH a, count(b) AS c
        |WITH a, c WHERE c > 1
        |RETURN a.name AS name, c AS c ORDER BY name ASC;""".stripMargin)
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("u1", 2L), ("u2", 2L)))
  }

  test("bounded var-length hop: distinct-pair reachability") {
    val df1 = gs.cypher(
      "MATCH (a:User {name:'u1'})-[:Follows*1..2]->(b:User) RETURN b.id AS id;")
    assert(longs(df1) == Set(1L, 2L, 3L, 4L))
    val df2 = gs.cypher(
      "MATCH (a:User {name:'u1'})-[:Follows*2..2]->(b:User) RETURN b.id AS id;")
    assert(longs(df2) == Set(1L, 3L, 4L))
  }

  test("var-length hop: per-edge property FILTERS restrict every traversed edge") {
    // Follows since: 1→2 (2019), 1→3 (2020), 2→3 (2021), 3→4 (2022),
    // 2→1 (2023); since >= 2021 keeps {2→3, 3→4, 2→1}
    val df = gs.cypher(
      """MATCH (a:User)-[f:Follows*1..2]->(b:User) WHERE f.since >= 2021
        |RETURN a.id AS a_id, b.id AS b_id;""".stripMargin)
    assert(rows(df) == Set(
      Seq(2L, 3L), Seq(3L, 4L), Seq(2L, 1L), // the filtered 1-hops
      Seq(2L, 4L)))                          // 2→3→4 (both edges pass)
    // inline-prop spelling restricts the same way
    val inline = gs.cypher(
      "MATCH (a:User)-[:Follows*1..2 {since: 2021}]->(b:User) RETURN b.id AS id;")
    assert(longs(inline) == Set(3L))
  }

  test("var-length hop rejects non-composable and value-addressed rels") {
    assertThrows[GraftException](gs.cypher(
      "MATCH (u:User)-[:Created*1..2]->(p:Post) RETURN p.id AS id;"))
    // READING a rel property out of the hop stays rejected — only
    // per-edge filtering is defined across composed relationships
    val e = intercept[GraftException](gs.cypher(
      "MATCH (a:User)-[f:Follows*1..2]->(b:User) RETURN b.id AS id, f.since AS s;"))
    assert(e.getMessage.contains("filtered"), e.getMessage)
  }

  test("shortestPath composes over the per-edge-filtered hop base") {
    // since >= 2020 removes 1→2 (2019): 1's shortest route to 4 becomes
    // 1→3→4 (still 2); with since >= 2021, 1 loses all outgoing edges
    val df = gs.cypher(
      """MATCH p = shortestPath((a:User)-[f:Follows*1..3]->(b:User))
        |WHERE f.since >= 2020 AND a.id = 1 AND b.id = 4
        |RETURN length(p) AS len;""".stripMargin)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L))
    val none = gs.cypher(
      """MATCH p = shortestPath((a:User)-[f:Follows*1..3]->(b:User))
        |WHERE f.since >= 2021 AND a.id = 1 RETURN length(p) AS len;""".stripMargin)
    assert(none.count() == 0)
  }

  test("OPTIONAL MATCH: unmatched rows survive with nulls, count skips them") {
    val df = gs.cypher(
      """MATCH (u:User)
        |OPTIONAL MATCH (u)-[:Created]->(p:Post)
        |RETURN u.name AS name, count(p) AS n;""".stripMargin)
    assert(rows(df) == Set(
      Seq("u1", 1L), Seq("u2", 2L), Seq("u3", 1L), Seq("u4", 0L), Seq("u5", 0L)))
  }

  test("OPTIONAL MATCH WHERE participates in matching, not row filtering") {
    val df = gs.cypher(
      """MATCH (u:User)
        |OPTIONAL MATCH (u)-[:Follows]->(v:User) WHERE v.city = 'berlin'
        |RETURN u.name AS name, count(v) AS n;""".stripMargin)
    assert(rows(df) == Set(
      Seq("u1", 1L), Seq("u2", 2L), Seq("u3", 0L), Seq("u4", 0L), Seq("u5", 0L)))
  }

  test("main WHERE cannot reference OPTIONAL MATCH aliases (scoping)") {
    assertThrows[GraftException](gs.cypher(
      """MATCH (u:User) WHERE p.id > 0
        |OPTIONAL MATCH (u)-[:Created]->(p:Post)
        |RETURN u.name AS name;""".stripMargin))
  }

  test("RETURN * expands explicitly-named aliases") {
    val df = gs.cypher("MATCH (u:User {name:'u4'})-[]-(v:User) RETURN *;")
    // colliding names from same-label aliases get alias prefixes
    assert(df.columns.toSeq ==
      Seq("u_id", "u_name", "u_city", "v_id", "v_name", "v_city"))
  }

  test("expression vocabulary: IN, NOT, IS NULL, arithmetic, functions") {
    val df = gs.cypher(
      """MATCH (u:User)
        |WHERE u.city IN ['berlin', 'rome'] AND NOT (u.id < 1) AND u.name IS NOT NULL
        |RETURN u.id AS id, u.id * 2 + 1 AS x, toUpper(u.city) AS c;""".stripMargin)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((1L, 3L, "BERLIN"), (3L, 7L, "BERLIN"), (4L, 9L, "ROME")))
  }

  test("CASE WHEN end-to-end") {
    val df = gs.cypher(
      """MATCH (u:User)
        |RETURN CASE WHEN u.city = 'berlin' THEN 'de'
        |            WHEN u.city = 'paris' THEN 'fr' ELSE 'other' END AS cc,
        |       count(*) AS n;""".stripMargin)
    assert(rows(df) == Set(Seq("de", 2L), Seq("fr", 2L), Seq("other", 1L)))
  }

  test("RETURN DISTINCT with non-returned sort key is rejected") {
    assertThrows[GraftException](gs.cypher(
      "MATCH (u:User) RETURN DISTINCT u.city AS c ORDER BY u.id;"))
  }

  test("consecutive MATCH clauses join on shared aliases") {
    val df = gs.cypher(
      """MATCH (a:User {name:'u1'})-[:Follows]->(b:User)
        |MATCH (b)-[:Follows]->(c:User)
        |RETURN c.id AS id;""".stripMargin)
    assert(longs(df) == Set(1L, 3L, 4L))
  }

  test("aggregates in WHERE get a WITH hint, not an analysis error") {
    val e = intercept[GraftException](gs.cypher(
      "MATCH (u:User)-[:Follows]->(v:User) WHERE count(v) > 1 RETURN u.id AS id;"))
    assert(e.getMessage.contains("WITH"))
  }

  test("ORDER BY carried-alias property after WITH") {
    val df = gs.cypher(
      """MATCH (a:User)-[:Follows]->(b:User)
        |WITH a, count(b) AS c
        |RETURN a.name AS name, c AS c ORDER BY a.name DESC LIMIT 2;""".stripMargin)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("u3", "u2"))
  }

  test("UNWIND explodes list literals per row") {
    val df = gs.cypher(
      "MATCH (u:User {name:'u1'}) UNWIND [10, 20] AS x RETURN u.id AS id, x AS x;")
    assert(rows(df) == Set(Seq(1L, 10L), Seq(1L, 20L)))
  }

  test("pattern predicate: positive existential semi-join") {
    val df = gs.cypher(
      "MATCH (a:User) WHERE (a)-[:Follows]->(:User) RETURN a.id AS id;")
    assert(longs(df) == Set(1L, 2L, 3L))
  }

  test("pattern predicate: NOT (anti-join)") {
    val df = gs.cypher(
      "MATCH (a:User) WHERE NOT (a)-[:Follows]->(:User) RETURN a.id AS id;")
    assert(longs(df) == Set(4L, 5L))
  }

  test("pattern predicate: both endpoints bound (non-mutual follows)") {
    val df = gs.cypher(
      """MATCH (a:User)-[:Follows]->(b:User)
        |WHERE NOT (b)-[:Follows]->(a)
        |RETURN a.id AS a_id, b.id AS b_id;""".stripMargin)
    assert(rows(df) == Set(Seq(1L, 3L), Seq(2L, 3L), Seq(3L, 4L)))
  }

  test("pattern predicate: unbound endpoint with inline props") {
    val df = gs.cypher(
      "MATCH (a:User) WHERE (a)-[:Follows]->({city: 'berlin'}) RETURN a.id AS id;")
    assert(longs(df) == Set(1L, 2L))
  }

  test("pattern predicate: rel type inferred from endpoint label") {
    val df = gs.cypher(
      "MATCH (a:User) WHERE NOT (a)-[]->(:Post) RETURN a.id AS id;")
    assert(longs(df) == Set(4L, 5L))
  }

  test("pattern predicate: incoming and undirected directions") {
    val in = gs.cypher(
      "MATCH (a:User) WHERE (a)<-[:Follows]-(:User) RETURN a.id AS id;")
    assert(longs(in) == Set(1L, 2L, 3L, 4L))
    val und = gs.cypher(
      "MATCH (a:User {name:'u4'}) WHERE (a)-[:Follows]-(:User) RETURN a.id AS id;")
    assert(longs(und) == Set(4L)) // only an incoming edge; undirected sees it
  }

  test("labels() and type() fold to schema literals") {
    val df = gs.cypher(
      """MATCH (u:User)-[r:Follows]->(v:User) WHERE u.id = 1
        |RETURN u.id AS id, labels(u) AS ls, type(r) AS t;""".stripMargin)
    val r0 = df.collect().head
    assert(r0.getSeq[String](1) == Seq("User"))
    assert(r0.getString(2) == "Follows")
    // grouping on type() works (it's a literal, not a column)
    val g = gs.cypher(
      "MATCH (u:User)-[r:Follows]->(v:User) RETURN type(r) AS t, count(*) AS n;")
    assert(rows(g) == Set(Seq("Follows", 5L)))
  }

  test("id()/keys()/properties()/exists()/timestamp() entity functions") {
    val df = gs.cypher(
      """MATCH (u:User) WHERE exists(u.city) AND id(u) <= 2
        |RETURN id(u) AS uid, keys(u) AS ks, properties(u) AS props;""".stripMargin)
    val rs = df.collect().sortBy(_.getLong(0))
    assert(rs.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rs.head.getSeq[String](1) == Seq("id", "name", "city"))
    val p0 = rs.head.getStruct(2)
    assert(p0.schema.fieldNames.toSeq == Seq("id", "name", "city"))
    assert(p0.getLong(0) == 1L && p0.getString(1) == "u1" && p0.getString(2) == "berlin")
    // timestamp() is epoch millis at query time; now() a timestamp
    val ts = gs.cypher("MATCH (u:User {id: 1}) RETURN timestamp() AS ms, now() AS t;")
      .collect().head
    assert(math.abs(ts.getLong(0) - System.currentTimeMillis()) < 60000L)
    assert(ts.get(1).isInstanceOf[java.sql.Timestamp])
    // id(rel) is a clear error, not an unresolved column
    val err = intercept[GraftException] {
      gs.cypher("MATCH (u:User)-[r:Follows]->(v:User) RETURN id(r) AS x;")
    }
    assert(err.getMessage.contains("no surrogate id"))
  }

  test("type()/keys() resolve on OPTIONAL MATCH relationship aliases") {
    val df = gs.cypher(
      """MATCH (u:User) WHERE u.id <= 2
        |OPTIONAL MATCH (u)-[r:Created]->(p:Post)
        |RETURN u.id AS uid, type(r) AS t, keys(r) AS ks, p.id AS pid;""".stripMargin)
    val rs = df.collect()
    assert(rs.nonEmpty)
    // type(r) folds to the schema literal even for the optional alias
    assert(rs.forall(_.getString(1) == "Created"))
    assert(rs.head.getSeq[String](2) == Seq("from_User", "to_Post"))
  }

  test("introspection fns are NULL on unmatched OPTIONAL MATCH rows") {
    // users 4 and 5 created no posts: the left-outer preserves them with
    // a null r/p — type()/keys()/labels()/properties() must be NULL too,
    // not the constant fold (openCypher null-entity semantics)
    val rs = gs.cypher(
      """MATCH (u:User) WHERE u.id >= 3
        |OPTIONAL MATCH (u)-[r:Created]->(p:Post)
        |RETURN u.id AS uid, type(r) AS t, keys(r) AS ks,
        |       labels(p) AS ls, properties(p) AS props;""".stripMargin)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(rs(3L).getString(1) == "Created" && !rs(3L).isNullAt(2))
    for (unmatched <- Seq(rs(4L), rs(5L)); i <- 1 to 4)
      assert(unmatched.isNullAt(i),
        s"uid=${unmatched.getLong(0)} col $i should be NULL, got ${unmatched.get(i)}")
  }

  test("list comprehensions and reduce()") {
    val r = gs.cypher(
      """MATCH (u:User {id: 1})
        |RETURN [x IN range(1, 5) WHERE x % 2 = 1 | x * x] AS odds,
        |       [x IN range(1, 3)] AS copy,
        |       reduce(acc = 0, x IN range(1, 10) | acc + x) AS total;""".stripMargin)
      .collect().head
    assert(r.getSeq[Long](0) == Seq(1L, 9L, 25L))
    assert(r.getSeq[Long](1) == Seq(1L, 2L, 3L))
    assert(r.getLong(2) == 55L)
    // comprehension over a property-derived range, used in WHERE
    assert(longs(gs.cypher(
      """MATCH (u:User)
        |WHERE size([x IN range(1, u.id) WHERE x % 2 = 0]) >= 2
        |RETURN u.id AS id;""".stripMargin)) == Set(4L, 5L))
    // a lambda variable shadowing a pattern alias is rejected loudly
    val err = intercept[GraftException](gs.cypher(
      "MATCH (u:User) RETURN [u IN range(1, 2) | u] AS xs;"))
    assert(err.getMessage.contains("shadows"), err.getMessage)
  }

  test("simple-form CASE desugars to searched equality") {
    val r = gs.cypher(
      """MATCH (u:User)
        |RETURN u.id AS id,
        |       CASE u.city WHEN 'berlin' THEN 'de' WHEN 'paris' THEN 'fr'
        |            ELSE '??' END AS cc;""".stripMargin)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(1L -> "de", 2L -> "fr", 3L -> "de", 4L -> "??", 5L -> "fr"))
  }

  test("percentileCont/percentileDisc/median aggregates") {
    // Follows.since values: 2019, 2020, 2021, 2022, 2023
    val r = gs.cypher(
      """MATCH (:User)-[f:Follows]->(:User)
        |RETURN percentileCont(f.since, 0.5) AS c50,
        |       percentileDisc(f.since, 0.5) AS d50,
        |       percentileDisc(f.since, 0.0) AS d0,
        |       median(f.since) AS med;""".stripMargin).collect().head
    assert(r.getDouble(0) == 2021.0 && r.getInt(1) == 2021)
    assert(r.getInt(2) == 2019) // p=0 -> min (rank clamps to 1)
    assert(r.getDouble(3) == 2021.0)
    assertThrows[GraftException](gs.cypher(
      "MATCH (:User)-[f:Follows]->(:User) RETURN percentileCont(f.since, 1.5) AS x;"))
  }

  test("EXPLAIN returns the physical plan without executing") {
    val r = gs.cypher(
      "EXPLAIN MATCH (a:User)-[:Follows]->(b:User) RETURN b.id AS id;")
    assert(r.columns.toSeq == Seq("plan"))
    val text = r.collect().head.getString(0)
    assert(text.contains("Physical Plan"), text.take(200))
  }

  test("WITH ORDER BY / SKIP / LIMIT: top-k stage, WHERE filters after the cut") {
    // per-user follow counts: 1→2, 2→2, 3→1 (out-degree)
    val top = gs.cypher(
      """MATCH (a:User)-[:Follows]->(b:User)
        |WITH a.id AS id, count(b) AS deg ORDER BY deg DESC, id ASC LIMIT 2
        |RETURN id AS id, deg AS deg;""".stripMargin)
    assert(rows(top) == Set(Seq(1L, 2L), Seq(2L, 2L)))
    // SKIP past the top entry; WHERE applies AFTER the cut
    val second = gs.cypher(
      """MATCH (a:User)-[:Follows]->(b:User)
        |WITH a.id AS id, count(b) AS deg ORDER BY deg DESC, id ASC SKIP 1 LIMIT 2
        |WHERE deg > 1
        |RETURN id AS id, deg AS deg;""".stripMargin)
    assert(rows(second) == Set(Seq(2L, 2L))) // row (3,1) cut by WHERE, not LIMIT
    // WITH * carries every named alias forward
    assert(longs(gs.cypher(
      "MATCH (u:User) WITH * WHERE u.id > 3 RETURN u.id AS id;")) == Set(4L, 5L))
  }

  test("UNION dedups, UNION ALL concatenates, mixing and column drift are rejected") {
    val u = gs.cypher(
      """MATCH (a:User {city:'berlin'}) RETURN a.id AS id
        |UNION MATCH (b:User {id: 1}) RETURN b.id AS id;""".stripMargin)
    assert(longs(u) == Set(1L, 3L)) // 1 appears in both parts, kept once
    val ua = gs.cypher(
      """MATCH (a:User {city:'berlin'}) RETURN a.id AS id
        |UNION ALL MATCH (b:User {id: 1}) RETURN b.id AS id;""".stripMargin)
    assert(ua.count() == 3)
    assertThrows[GraftException](gs.cypher(
      """MATCH (a:User) RETURN a.id AS id
        |UNION MATCH (b:User) RETURN b.id AS id
        |UNION ALL MATCH (c:User) RETURN c.id AS id;""".stripMargin))
    val err = intercept[GraftException](gs.cypher(
      """MATCH (a:User) RETURN a.id AS id
        |UNION MATCH (b:User) RETURN b.name AS name;""".stripMargin))
    assert(err.getMessage.contains("different columns"), err.getMessage)
    // same names in a different order are the same shape: unionByName
    // aligns by name (openCypher UNION is by-name, not positional)
    val reord = gs.cypher(
      """MATCH (a:User {id: 1}) RETURN a.id AS id, a.name AS name
        |UNION MATCH (b:User {id: 2}) RETURN b.name AS name, b.id AS id;""".stripMargin)
    assert(reord.columns.toSeq == Seq("id", "name"))
    assert(longs(reord.select("id")) == Set(1L, 2L))
  }

  test("EXISTS { } subquery: named aliases, WHERE on node / rel / hoisted outer") {
    // node-alias filter inside the subquery
    assert(longs(gs.cypher(
      """MATCH (a:User) WHERE EXISTS { MATCH (a)-[:Follows]->(n:User)
        |WHERE n.city = 'berlin' } RETURN a.id AS id;""".stripMargin))
      == Set(1L, 2L))
    // rel-alias filter inside the subquery
    assert(longs(gs.cypher(
      """MATCH (a:User) WHERE EXISTS { (a)-[f:Follows]->()
        |WHERE f.since >= 2022 } RETURN a.id AS id;""".stripMargin))
      == Set(2L, 3L))
    // NOT EXISTS with a subquery-local condition
    assert(longs(gs.cypher(
      """MATCH (a:User) WHERE NOT EXISTS { (a)-[:Follows]->(n:User)
        |WHERE n.city = 'berlin' } RETURN a.id AS id;""".stripMargin))
      == Set(3L, 4L, 5L))
    // outer-only conjunct hoists out of a positive EXISTS
    assert(longs(gs.cypher(
      """MATCH (a:User) WHERE EXISTS { (a)-[:Follows]->()
        |WHERE a.city = 'paris' } RETURN a.id AS id;""".stripMargin))
      == Set(2L))
    // WHERE-less braced form ≡ the bare pattern predicate
    assert(longs(gs.cypher(
      "MATCH (a:User) WHERE EXISTS { MATCH (a)-[:Created]->(:Post) } RETURN a.id AS id;"))
      == Set(1L, 2L, 3L))
  }

  test("COUNT { } subquery: per-row pattern counts in RETURN and WITH") {
    val counts = gs.cypher(
      """MATCH (a:User) RETURN a.id AS id,
        |COUNT { (a)-[:Follows]->(:User) } AS n ORDER BY id;""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 0L, 5L -> 0L))
    val filtered = gs.cypher(
      """MATCH (a:User) RETURN a.id AS id,
        |COUNT { (a)-[:Follows]->(n:User) WHERE n.city = 'berlin' } AS n
        |ORDER BY id;""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(filtered == Map(1L -> 1L, 2L -> 2L, 3L -> 0L, 4L -> 0L, 5L -> 0L))
    // WITH stage: compute, then filter on the alias
    val via = gs.cypher(
      """MATCH (a:User) WITH a.id AS id, COUNT { (a)-[:Follows]->() } AS n
        |WHERE n > 1 RETURN id, n;""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(via == Map(1L -> 2L, 2L -> 2L))
    // expression position: COUNT { } composes like any value
    assert(longs(gs.cypher(
      """MATCH (a:User) WITH a.id AS id,
        |COUNT { (a)-[:Follows]->() } + COUNT { (a)<-[:Follows]-() } AS deg
        |WHERE deg >= 3 RETURN id;""".stripMargin)) == Set(1L, 2L, 3L))
  }

  test("pattern comprehension: projected match lists with [] for no matches") {
    val names = gs.cypher(
      """MATCH (a:User) RETURN a.id AS id,
        |[(a)-[:Follows]->(b:User) | b.name] AS fn ORDER BY id;""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(names == Map(
      1L -> Seq("u2", "u3"), 2L -> Seq("u1", "u3"), 3L -> Seq("u4"),
      4L -> Seq.empty, 5L -> Seq.empty))
    // WHERE inside the brackets filters the matches, not the outer rows
    val berlin = gs.cypher(
      """MATCH (a:User) RETURN a.id AS id,
        |[(a)-[:Follows]->(b:User) WHERE b.city = 'berlin' | b.id] AS fb
        |ORDER BY id;""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(berlin == Map(1L -> Seq(3L), 2L -> Seq(1L, 3L),
      3L -> Seq.empty, 4L -> Seq.empty, 5L -> Seq.empty))
    // relationship properties and computed projections; bare node alias
    // projects its id
    val rel = gs.cypher(
      """MATCH (a:User {id: 1}) RETURN
        |[(a)-[r:Follows]->() | r.since] AS yrs,
        |[(a)-[:Follows]->(b) | b.id * 10] AS tens,
        |[(a)-[:Follows]->(b) | b] AS ids;""".stripMargin).collect().head
    assert(rel.getSeq[Long](0) == Seq(2019L, 2020L))
    assert(rel.getSeq[Long](1) == Seq(20L, 30L))
    assert(rel.getSeq[Long](2) == Seq(2L, 3L))
    // size() composes over the list value; comprehension count matches
    // COUNT { }
    val sz = gs.cypher(
      """MATCH (a:User) WITH a.id AS id,
        |size([(a)-[:Follows]->(b:User) | b.id]) AS n WHERE n > 1
        |RETURN id, n;""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sz == Map(1L -> 2, 2L -> 2))
    // NULL projection values are list ELEMENTS (openCypher keeps them;
    // sorted nulls-first for determinism) — collect_list alone would
    // silently drop them
    val nulls = gs.cypher(
      """MATCH (a:User {id: 2}) RETURN
        |[(a)-[:Created]->(p:Post) |
        |  CASE WHEN p.id = 10 THEN null ELSE p.title END] AS xs;""".stripMargin)
      .collect().head.getSeq[String](0)
    assert(nulls == Seq(null, "p11"), nulls.toString)
    // contradictory direction (Created is User->Post): typed empty lists
    val contra = gs.cypher(
      """MATCH (p:Post) RETURN p.id AS id,
        |[(p)-[:Created]->(u:User) | u.name] AS xs ORDER BY id;""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(contra == Map(10L -> Seq.empty, 11L -> Seq.empty, 12L -> Seq.empty))
    // reverse-bound comprehension: who follows me
    val rev = gs.cypher(
      """MATCH (a:User) RETURN a.id AS id,
        |[(f:User)-[:Follows]->(a) | f.name] AS followers ORDER BY id;""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(rev(1L) == Seq("u2") && rev(3L) == Seq("u1", "u2") && rev(5L) == Seq.empty)
  }

  test("list subscript/slice: 0-based, negative from end, OOB null, open bounds") {
    val r = gs.cypher(
      """MATCH (a:User {id: 1}) RETURN
        |range(0, 4)[0] AS first, range(0, 4)[4] AS lastIdx,
        |range(0, 4)[-1] AS neg, range(0, 4)[9] AS oob,
        |range(0, 4)[1..3] AS midS, range(0, 4)[..2] AS headS,
        |range(0, 4)[3..] AS tailS, range(0, 4)[-2..] AS negS,
        |range(0, 4)[3..1] AS emptyS,
        |split('a-b-c', '-')[1] AS tag,
        |properties(a)['name'] AS pname;""".stripMargin).collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 4L && r.getLong(2) == 4L)
    assert(r.isNullAt(3))
    assert(r.getSeq[Long](4) == Seq(1L, 2L))
    assert(r.getSeq[Long](5) == Seq(0L, 1L))
    assert(r.getSeq[Long](6) == Seq(3L, 4L))
    assert(r.getSeq[Long](7) == Seq(3L, 4L))
    assert(r.getSeq[Long](8) == Seq.empty)
    assert(r.getString(9) == "b")
    assert(r.getString(10) == "u1")
    // chained subscripts and dynamic indexes
    val c = gs.cypher(
      """MATCH (a:User) WITH a.id AS id, range(0, a.id) AS l
        |RETURN id, l[id - 1] AS pen, l[0..id][-1] AS sliceLast
        |ORDER BY id LIMIT 3;""".stripMargin).collect()
    assert(c.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L))
    assert(c.map(_.getLong(2)).toSeq == Seq(0L, 1L, 2L))
  }

  test("map projection: explicit props, computed entries, .* spread, null subject") {
    val m = gs.cypher(
      """MATCH (a:User {id: 1}) RETURN
        |a {.name, .city, upper_name: toUpper(a.name), deg: 2 + 1} AS m;""".stripMargin)
      .collect().head.getStruct(0)
    assert(m.getAs[String]("name") == "u1")
    assert(m.getAs[String]("city") == "berlin")
    assert(m.getAs[String]("upper_name") == "U1")
    assert(m.getAs[Long]("deg") == 3L)
    // .* spreads every schema column; a later explicit entry overrides it
    val star = gs.cypher(
      "MATCH (a:User {id: 2}) RETURN a {.*, name: 'override'} AS m;")
      .collect().head.getStruct(0)
    assert(star.schema.fieldNames.toSeq == Seq("id", "name", "city"))
    assert(star.getAs[Long]("id") == 2L)
    assert(star.getAs[String]("name") == "override")
    // OPTIONAL subject: NULL map on preserved rows (like properties())
    val opt = gs.cypher(
      """MATCH (a:User) OPTIONAL MATCH (a)-[:Created]->(p:Post)
        |RETURN a.id AS id, p {.title} AS pm ORDER BY id;""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!opt(1L) && opt(4L) && opt(5L))
    // relationship alias: explicit props, computed entries, and a `.*`
    // spread that expands the rel's PROPERTY columns only (endpoint key
    // columns are the nodes' ids, not edge properties)
    val rel = gs.cypher(
      """MATCH (a:User {id: 1})-[r:Follows]->(b:User)
        |RETURN b.id AS bid, r {.*, next: r.since + 1} AS m ORDER BY bid;""".stripMargin)
      .collect()
    assert(rel.head.getStruct(1).schema.fieldNames.toSeq == Seq("since", "next"))
    assert(rel.map(x => (x.getLong(0), x.getStruct(1).getInt(0))).toSeq
      == Seq((2L, 2019), (3L, 2020)))
    // OPTIONAL rel subject: NULL map on preserved rows (users 1,2 follow
    // user 3; users 3,4,5 get NULL)
    val optRel = gs.cypher(
      """MATCH (a:User) OPTIONAL MATCH (a)-[r:Follows]->(b:User {id: 3})
        |RETURN a.id AS id, r {.since} AS m ORDER BY id;""".stripMargin)
      .collect().map(x => x.getLong(0) -> x.isNullAt(1)).toMap
    assert(!optRel(1L) && !optRel(2L) && optRel(3L) && optRel(4L) && optRel(5L),
      optRel.toString)
    // unknown alias is loud
    val e2 = intercept[GraftException](gs.cypher(
      "MATCH (a:User) RETURN zzz {.name} AS m;"))
    assert(e2.getMessage.contains("node or relationship alias"), e2.getMessage)
  }

  test("pattern comprehension negative cases: scope, aggregates, position") {
    // outer (bound) alias in the projection: constant per row, rejected
    val e1 = intercept[GraftException](gs.cypher(
      "MATCH (a:User) RETURN [(a)-[:Follows]->(b) | a.name] AS xs;"))
    assert(e1.getMessage.contains("own aliases"), e1.getMessage)
    // aggregate inside the projection
    val e2 = intercept[GraftException](gs.cypher(
      "MATCH (a:User) RETURN [(a)-[:Follows]->(b) | sum(b.id)] AS xs;"))
    assert(e2.getMessage.contains("aggregate"), e2.getMessage)
    // WHERE position points at the WITH idiom
    val e3 = intercept[GraftException](gs.cypher(
      "MATCH (a:User) WHERE size([(a)-[:Follows]->(b) | b.id]) > 1 RETURN a.id AS id;"))
    assert(e3.getMessage.contains("WITH"), e3.getMessage)
    // relationship alias has no value form
    val e4 = intercept[GraftException](gs.cypher(
      "MATCH (a:User) RETURN [(a)-[r:Follows]->(b) | r] AS xs;"))
    assert(e4.getMessage.contains("no value form"), e4.getMessage)
  }

  test("EXISTS { } / COUNT { } negative cases: scope, correlation, position") {
    // undefined alias inside the subquery WHERE
    val e1 = intercept[GraftException](gs.cypher(
      "MATCH (a:User) WHERE EXISTS { (a)-[:Follows]->(n) WHERE m.id = 1 } RETURN a.id AS id;"))
    assert(e1.getMessage.contains("undefined alias"), e1.getMessage)
    // correlated conditions are a round-9 capability (CorrelatedExistsSpec
    // pins the semantics; here: no self-follows exist)
    assert(longs(gs.cypher(
      "MATCH (a:User) WHERE EXISTS { (a)-[:Follows]->(n) WHERE n.id = a.id } RETURN a.id AS id;"))
      == Set.empty)
    // outer-only conjunct under NOT EXISTS stays inside the negation:
    // only u2 (paris AND follows someone) is dropped
    assert(longs(gs.cypher(
      """MATCH (a:User) WHERE NOT EXISTS { (a)-[:Follows]->()
        |WHERE a.city = 'paris' } RETURN a.id AS id;""".stripMargin))
      == Set(1L, 3L, 4L, 5L))
    // subquery referencing a later OPTIONAL MATCH alias is out of scope
    val e4 = intercept[GraftException](gs.cypher(
      """MATCH (a:User) OPTIONAL MATCH (a)-[:Created]->(p:Post)
        |WHERE EXISTS { (p)<-[:Created]-() } RETURN a.id AS id;""".stripMargin))
    assert(e4.getMessage.contains("out of scope") || e4.getMessage.contains("main MATCH"),
      e4.getMessage)
    // COUNT { } in WHERE points at the WITH idiom
    val e5 = intercept[GraftException](gs.cypher(
      "MATCH (a:User) WHERE COUNT { (a)-[:Follows]->() } > 1 RETURN a.id AS id;"))
    assert(e5.getMessage.contains("WITH"), e5.getMessage)
    // both endpoints existential: nothing anchors the subquery
    val e6 = intercept[GraftException](gs.cypher(
      "MATCH (a:User) WHERE EXISTS { (x)-[:Follows]->(y) } RETURN a.id AS id;"))
    assert(e6.getMessage.contains("anchor"), e6.getMessage)
    // subquery alias shadowing an outer alias
    val e7 = intercept[GraftException](gs.cypher(
      "MATCH (a:User)-[:Created]->(p:Post) WHERE EXISTS { (a)-[p:Follows]->() } RETURN a.id AS id;"))
    assert(e7.getMessage.contains("shadows"), e7.getMessage)
  }

  test("list predicates any/all/none/single desugar onto comprehensions") {
    assert(longs(gs.cypher(
      "MATCH (u:User) WHERE any(x IN range(1, u.id) WHERE x = 4) RETURN u.id AS id;"))
      == Set(4L, 5L))
    assert(longs(gs.cypher(
      "MATCH (u:User) WHERE all(x IN range(1, u.id) WHERE x < 3) RETURN u.id AS id;"))
      == Set(1L, 2L))
    assert(longs(gs.cypher(
      "MATCH (u:User) WHERE none(x IN range(1, u.id) WHERE x > 3) RETURN u.id AS id;"))
      == Set(1L, 2L, 3L))
    assert(longs(gs.cypher(
      "MATCH (u:User) WHERE single(x IN range(1, u.id) WHERE x % 2 = 0) RETURN u.id AS id;"))
      == Set(2L, 3L))
    // openCypher ternary logic: a NULL predicate result makes the
    // quantifier NULL unless already decided (WHERE drops NULL rows, so
    // none() over all-null predicates must NOT keep the row)
    assert(longs(gs.cypher(
      """MATCH (u:User {id: 1})
        |WHERE none(x IN [1, 2] WHERE x + null > 0) RETURN u.id AS id;""".stripMargin))
      == Set.empty[Long])
    assert(longs(gs.cypher( // one true decides any() despite the null
      """MATCH (u:User {id: 1})
        |WHERE any(x IN [1, null] WHERE x > 0) RETURN u.id AS id;""".stripMargin))
      == Set(1L))
  }

  test("shortestPath: min hop distances with length(p)") {
    // Follows: 1->2, 1->3, 2->3, 3->4, 2->1
    // from u1: d(2)=1, d(3)=1, d(4)=2 (1->3->4), d(1)=2 (1->2->1)
    val df = gs.cypher(
      """MATCH p = shortestPath((a:User {name:'u1'})-[:Follows*1..3]->(b:User))
        |RETURN b.id AS id, length(p) AS len;""".stripMargin)
    assert(rows(df) == Set(Seq(2L, 1L), Seq(3L, 1L), Seq(4L, 2L), Seq(1L, 2L)))
  }

  test("shortestPath: anonymous form, undirected, and filters on length") {
    val anon = gs.cypher(
      "MATCH shortestPath((a:User {name:'u1'})-[:Follows*1..2]->(b:User)) RETURN b.id AS id;")
    assert(longs(anon) == Set(1L, 2L, 3L, 4L))
    // undirected: u5 has no edges at all -> unreachable from u1
    val und = gs.cypher(
      """MATCH p = shortestPath((a:User {name:'u4'})-[:Follows*1..3]-(b:User))
        |RETURN b.id AS id, length(p) AS len;""".stripMargin)
    // u4: only 3->4 exists; undirected d(3)=1, d(1)=2, d(2)=2, d(4)=2 (4-3-4? no:
    // pair distinct per level: 3->4 back 4 gives d(4)=2 via 4-3-4)
    assert(rows(und) == Set(Seq(3L, 1L), Seq(1L, 2L), Seq(2L, 2L), Seq(4L, 2L)))
    val filtered = gs.cypher(
      """MATCH p = shortestPath((a:User {name:'u1'})-[:Follows*1..3]->(b:User))
        |WHERE length(p) > 1 RETURN b.id AS id;""".stripMargin)
    assert(longs(filtered) == Set(1L, 4L))
  }

  test("shortestPath: frontier-delta path (shuffle-scale edges, long bound)") {
    // disabling broadcast flips shortestPath to the frontier-delta join
    // form, and > 6 levels flips that to lineage-truncated per-level
    // frontiers; results must be identical to the hashed form's (all u1
    // distances are <= 2, so levels 3..8 contribute nothing)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val expected = Set(Seq(2L, 1L), Seq(3L, 1L), Seq(4L, 2L), Seq(1L, 2L))
      val long = gs.cypher(
        """MATCH p = shortestPath((a:User {name:'u1'})-[:Follows*1..8]->(b:User))
          |RETURN b.id AS id, length(p) AS len;""".stripMargin)
      assert(rows(long) == expected)
      val short = gs.cypher( // frontier form without the per-level fence
        """MATCH p = shortestPath((a:User {name:'u1'})-[:Follows*1..3]->(b:User))
          |RETURN b.id AS id, length(p) AS len;""".stripMargin)
      assert(rows(short) == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("shortestPath: bare path alias outside length() is rejected") {
    assertThrows[GraftException](gs.cypher(
      """MATCH p = shortestPath((a:User {name:'u1'})-[:Follows*1..2]->(b:User))
        |RETURN b.id AS id, p + 1 AS bad;""".stripMargin))
  }

  test("string predicates: STARTS WITH / ENDS WITH / CONTAINS / =~") {
    assert(longs(gs.cypher(
      "MATCH (u:User) WHERE u.city STARTS WITH 'ber' RETURN u.id AS id;"))
      == Set(1L, 3L))
    assert(longs(gs.cypher(
      "MATCH (u:User) WHERE u.city ENDS WITH 'is' RETURN u.id AS id;"))
      == Set(2L, 5L))
    assert(longs(gs.cypher(
      "MATCH (u:User) WHERE u.city CONTAINS 'om' RETURN u.id AS id;"))
      == Set(4L))
    assert(longs(gs.cypher(
      "MATCH (u:User) WHERE u.city =~ 'b.rl.n' RETURN u.id AS id;"))
      == Set(1L, 3L))
    // openCypher FULL-string semantics: a substring pattern alone is NOT a
    // match; explicit .* wildcards are
    assert(longs(gs.cypher(
      "MATCH (u:User) WHERE u.city =~ 'erl' RETURN u.id AS id;"))
      == Set.empty[Long])
    assert(longs(gs.cypher(
      "MATCH (u:User) WHERE u.city =~ '.*erl.*' RETURN u.id AS id;"))
      == Set(1L, 3L))
    assert(longs(gs.cypher( // NOT composes
      "MATCH (u:User) WHERE NOT u.city CONTAINS 'r' RETURN u.id AS id;"))
      == Set.empty[Long])
  }

  test("exists() function form of pattern predicates") {
    assert(longs(gs.cypher(
      "MATCH (a:User) WHERE exists((a)-[:Follows]->(:User)) RETURN a.id AS id;"))
      == Set(1L, 2L, 3L))
    assert(longs(gs.cypher(
      "MATCH (a:User) WHERE NOT exists((a)-[:Follows]->(:User)) RETURN a.id AS id;"))
      == Set(4L, 5L))
  }

  test("pattern predicate: undirected + unbound inline props sees both orientations") {
    // u3 (berlin) follows u4; u4 has NO outgoing edge to a berlin user —
    // the match must come through the swapped orientation (round-5 review:
    // restricting before the union dropped exactly this case)
    val df = gs.cypher(
      "MATCH (a:User {name:'u4'}) WHERE (a)-[:Follows]-({city: 'berlin'}) RETURN a.id AS id;")
    assert(longs(df) == Set(4L))
    // and the whole-corpus form agrees with manual orientation union
    val all = gs.cypher(
      "MATCH (a:User) WHERE (a)-[:Follows]-({city: 'berlin'}) RETURN a.id AS id;")
    // edges touching berlin users (1,3): 1->2, 1->3, 2->3, 3->4, 2->1
    assert(longs(all) == Set(1L, 2L, 3L, 4L))
  }

  test("pattern predicate: undefined named alias and non-literal props are rejected") {
    val e = intercept[GraftException](gs.cypher(
      "MATCH (a:User)-[:Follows]->(b:User) WHERE NOT (bb)-[:Follows]->(a) RETURN a.id AS id;"))
    assert(e.getMessage.contains("undefined alias 'bb'"))
    assertThrows[GraftException](gs.cypher(
      "MATCH (a:User) WHERE (a)-[:Follows {since: a.id}]->(:User) RETURN a.id AS id;"))
  }

  test("pattern predicate: rejected outside top-level WHERE conjuncts") {
    assertThrows[GraftException](gs.cypher(
      "MATCH (a:User) WHERE (a)-[:Follows]->(:User) OR a.id = 5 RETURN a.id AS id;"))
    assertThrows[GraftException](gs.cypher(
      "MATCH (a:User) WHERE (a)-[:Follows]->(:User)-[:Follows]->(:User) RETURN a.id AS id;"))
    assertThrows[GraftException](gs.cypher(
      "MATCH (a:User) WHERE (:User)-[:Follows]->(:User) RETURN a.id AS id;"))
  }

  test("collect() groups values into lists; DISTINCT dedups") {
    val df = gs.cypher(
      """MATCH (u:User)-[:Created]->(p:Post)
        |RETURN u.name AS name, collect(p.title) AS titles;""".stripMargin)
    val got = df.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).sorted).toMap
    assert(got == Map("u1" -> Seq("p10"), "u2" -> Seq("p10", "p11"),
                      "u3" -> Seq("p12")))
    // DISTINCT: u2 follows via two cities? use city collect over Follows
    val d = gs.cypher(
      """MATCH (a:User)-[:Follows]->(b:User)
        |RETURN collect(DISTINCT b.city) AS cities;""".stripMargin)
    assert(d.collect().head.getSeq[String](0).sorted == Seq("berlin", "paris", "rome"))
  }

  test("collect() classifies as an aggregate for implicit grouping") {
    // mixed RETURN (key + collect) must group, not error or cross-join
    val df = gs.cypher(
      "MATCH (u:User) RETURN u.city AS city, collect(u.name) AS names;")
    assert(df.count() == 3)
  }

  test("approx_count_distinct is available as an aggregate") {
    val df = gs.cypher(
      "MATCH (u:User) RETURN approx_count_distinct(u.city) AS n;")
    assert(df.collect().head.getLong(0) == 3L)
  }

  test("parameters bind before planning") {
    val df = gs.cypher("MATCH (u:User) WHERE u.city = $c RETURN count(*) AS n;",
      Map("c" -> "paris"))
    assert(df.collect().head.getLong(0) == 2L)
  }

  test("relationship-type inference from endpoint labels") {
    val df = gs.cypher("MATCH (u:User {name:'u2'})-[]->(p:Post) RETURN p.id AS id;")
    assert(longs(df) == Set(10L, 11L))
  }

  test("endpoint label inference from relationship schema") {
    val df = gs.cypher("MATCH (u)-[:Created]->(p) RETURN count(*) AS n;")
    assert(df.collect().head.getLong(0) == 4L)
  }

  test("disconnected multi-pattern is rejected (reference parity)") {
    assertThrows[DisconnectedPatternException](
      gs.cypher("MATCH (a:User), (b:Post) RETURN a.id AS x;"))
  }

  test("standalone anonymous node is rejected (reference parity)") {
    assertThrows[GraftException](gs.cypher("MATCH (:User) RETURN 1 AS x;"))
  }

  test("unknown label / unknown function are explicit errors") {
    assertThrows[GraftException](gs.cypher("MATCH (x:Nope) RETURN x.id AS i;"))
    assertThrows[GraftException](
      gs.cypher("MATCH (u:User) RETURN mystery_fn(u.id) AS z;"))
  }

  test("DDL statements register catalog entries end-to-end") {
    import spark.implicits._
    val g2 = new GraftSession(spark)
    Seq((1L, "a"), (2L, "b")).toDF("nid", "label").createOrReplaceTempView("Thing")
    Seq((1L, 2L)).toDF("from_Thing", "to_Thing").createOrReplaceTempView("Rel")
    g2.cypher("CREATE NODE TABLE Thing (nid UInt64, label String, PRIMARY KEY (nid), NODE ID (nid));")
    g2.cypher("CREATE REL TABLE Rel (FROM Thing TO Thing, ADJ INDEX true);")
    assert(g2.catalog.nodes.contains("Thing") && g2.catalog.rels("Rel").hasAdjIndex)
    val df = g2.cypher("MATCH (a:Thing)-[:Rel]->(b:Thing) RETURN b.label AS l;")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("b"))
    // catalog JSON round-trip
    val json = g2.catalog.toJson
    val back = graft.catalog.GraphCatalog.fromJson(json)
    assert(back.nodes.keySet == g2.catalog.nodes.keySet)
    assert(back.rels("Rel").fromColumn == "from_Thing")
  }

  test("physical DDL: fresh CREATE makes a real parquet table, DEFAULTs apply") {
    val g2 = new GraftSession(spark)
    // no backing table loaded ⇒ a managed parquet table is created with the
    // declared schema (reference ddl_query.rs:158-173)
    g2.cypher(
      "CREATE NODE TABLE Item (iid UInt64, label String DEFAULT 'none', PRIMARY KEY (iid), NODE ID (iid));")
    assert(spark.catalog.tableExists("Item"))
    assert(spark.table("Item").schema("iid").dataType.typeName == "long")
    spark.sql("INSERT INTO Item VALUES (1, 'a'), (2, DEFAULT)")
    val df = g2.cypher("MATCH (i:Item) RETURN i.iid AS id, i.label AS l;")
    assert(rows(df) == Set(Seq(1L, "a"), Seq(2L, "none")))

    // fresh REL table synthesizes from_/to_ key columns typed after the
    // endpoint node ids (ddl_query.rs:259-261), plus declared props
    g2.cypher("CREATE REL TABLE ItemRel (FROM Item TO Item, w Float64);")
    assert(spark.table("ItemRel").columns.toSeq == Seq("from_Item", "to_Item", "w"))
    spark.sql("INSERT INTO ItemRel VALUES (1, 2, 0.5)")
    val d2 = g2.cypher("MATCH (a:Item)-[r:ItemRel]->(b:Item) WHERE r.w > 0.1 RETURN b.label AS l;")
    assert(d2.collect().map(_.getString(0)).toSeq == Seq("none"))

    // declared columns are VALIDATED against an already-loaded table
    // (round 1 silently ignored the column list)
    import spark.implicits._
    Seq((1L, "x")).toDF("vid", "v").createOrReplaceTempView("Vexisting")
    assertThrows[GraftException](g2.cypher(
      "CREATE NODE TABLE Vexisting (nosuch String, PRIMARY KEY (vid), NODE ID (vid));"))

    spark.sql("DROP TABLE Item"); spark.sql("DROP TABLE ItemRel")
  }

  test("node-id dtype validation (reference ddl_query.rs:90-92 parity)") {
    import spark.implicits._
    val g2 = new GraftSession(spark)
    g2.registerTable("bad", Seq(("x", 1L)).toDF("sid", "v"))
    assertThrows[GraftException](g2.registerNode("Bad", "bad", "sid"))
  }

  test("size() is polymorphic: list length and string char count") {
    val df = gs.cypher(
      "MATCH (u:User {name:'u1'}) RETURN size([1, 2, 3]) AS ls, size(u.city) AS cs;")
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((3, 6)))
  }

  test("IN with a list-valued (non-literal) rhs is membership, not equality") {
    // split() returns array<string>; the old isin(col) form compiled this
    // to equality against the array and matched nothing
    val df = gs.cypher(
      "MATCH (u:User) WHERE u.name IN split('u1,u3', ',') RETURN u.id AS id;")
    assert(longs(df) == Set(1L, 3L))
    // list literal containing a non-literal expression
    val df2 = gs.cypher(
      "MATCH (u:User) WHERE 2 IN [u.id, u.id + 1] RETURN u.id AS id;")
    assert(longs(df2) == Set(1L, 2L))
  }

  test("aggregating RETURN rejects a non-aggregate hidden ORDER BY key") {
    // ORDER BY u.name would silently widen the GROUP BY to (city, name)
    assertThrows[GraftException](gs.cypher(
      """MATCH (u:User)-[:Follows]->(b:User)
        |RETURN u.city AS city, count(*) AS c ORDER BY u.name;""".stripMargin))
    // a hidden AGGREGATE sort key is legal: extra agg column, not a key
    val df = gs.cypher(
      """MATCH (u:User)-[:Follows]->(b:User)
        |RETURN u.name AS name ORDER BY count(b.id) DESC, name ASC LIMIT 1;""".stripMargin)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("u1"))
    // an expression built ONLY from returned grouping keys is also legal:
    // grouping by (city, toUpper(city)) cannot change the group count
    val df2 = gs.cypher(
      """MATCH (u:User)-[:Follows]->(b:User)
        |RETURN u.city AS city, count(*) AS c ORDER BY toUpper(u.city) DESC;""".stripMargin)
    assert(df2.collect().map(_.getString(0)).toSeq == Seq("paris", "berlin"))
    // ...and the RETURN-ALIAS spelling of the same query: the alias is
    // substituted by its source expression before compiling the hidden key
    val df3 = gs.cypher(
      """MATCH (u:User)-[:Follows]->(b:User)
        |RETURN u.city AS city, count(*) AS c ORDER BY toUpper(city) DESC;""".stripMargin)
    assert(df3.collect().map(_.getString(0)).toSeq == Seq("paris", "berlin"))
    // alias-expression ORDER BY also works WITHOUT aggregation
    val df4 = gs.cypher(
      """MATCH (u:User) RETURN u.name AS name ORDER BY toUpper(name) DESC LIMIT 2;""".stripMargin)
    assert(df4.collect().map(_.getString(0)).toSeq == Seq("u5", "u4"))
  }

  test("output formats") {
    val df = gs.cypher("MATCH (u:User {name:'u1'}) RETURN u.id AS id, u.name AS name;")
    assert(gs.toJsonEachRow(df) == Seq("""{"id":1,"name":"u1"}"""))
    assert(gs.toCsv(df, header = true) == Seq("id,name", "1,\"u1\""))
    assert(gs.toPretty(df).contains("u1"))
  }

  test("LIMIT/SKIP beyond Int.MaxValue error instead of wrapping") {
    def oob(msg: String) =
      msg.contains("out of range") || msg.contains("exceeds the supported")
    val e = intercept[GraftException](gs.cypher(
      "MATCH (u:User) RETURN u.id AS id LIMIT 3000000000;"))
    assert(oob(e.getMessage))
    val e2 = intercept[GraftException](gs.cypher(
      "MATCH (u:User) RETURN u.id AS id SKIP 3000000000 LIMIT 1;"))
    assert(oob(e2.getMessage))
    val e3 = intercept[GraftException](gs.cypher(
      """MATCH (u:User) WITH u.id AS id ORDER BY id LIMIT 3000000000
        |RETURN id AS id;""".stripMargin))
    assert(oob(e3.getMessage))
  }

  test("avg(DISTINCT) computes over distinct values; unsupported DISTINCT is loud") {
    // Follows.since: 2019, 2020, 2021, 2022, 2023 (all distinct) plus the
    // duplicate-heavy id column exercises the distinct path for real
    val r = gs.cypher(
      """MATCH (u:User)-[f:Follows]->(v:User)
        |RETURN avg(DISTINCT u.id % 2) AS am, sum(DISTINCT u.id % 2) AS sm;""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 0.5 && r.getLong(1) == 1L) // distinct {0,1}
    val e = intercept[GraftException](gs.cypher(
      "MATCH (u:User) RETURN stddev(DISTINCT u.id) AS s;"))
    assert(e.getMessage.contains("DISTINCT"))
  }

  test("temporal component maps: defaults, typo rejection, year required") {
    val df = gs.cypher(
      """MATCH (u:User {name:'u1'})
        |RETURN year(date({year: 1999})) AS y, month(date({year: 1999})) AS m,
        |       duration.inDays(date({year: 1999, month: 1, day: 1}),
        |                       date({year: 1999, month: 2, day: 1})) AS dd;""".stripMargin)
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
      == Seq((1999, 1, 31L)))
    // a typoed component name must be loud, never silently defaulted
    val e1 = intercept[GraftException](gs.cypher(
      "MATCH (u:User) RETURN date({year: 1999, mnth: 2}) AS d;"))
    assert(e1.getMessage.contains("mnth"))
    val e2 = intercept[GraftException](gs.cypher(
      "MATCH (u:User) RETURN date({month: 2}) AS d;"))
    assert(e2.getMessage.contains("year"))
    // unknown namespaced functions fall through to the registry error
    val e3 = intercept[GraftException](gs.cypher(
      "MATCH (u:User) RETURN duration.nope(u.id, u.id) AS d;"))
    assert(e3.getMessage.contains("unknown function"))
    // duration() constructor: fixed-length components compose; the
    // calendar-variable ones are rejected, not approximated
    val d = gs.cypher(
      """MATCH (u:User {name:'u1'})
        |RETURN duration({days: 1, hours: 2, seconds: 5}) AS s;""".stripMargin)
    assert(d.collect().head.getLong(0) == 86400L + 7200L + 5L)
    // all-calendar maps build a YEAR-MONTH interval: date arithmetic
    // month-adds with end-of-month clamping
    val cal = gs.cypher(
      """MATCH (u:User {name:'u1'})
        |RETURN date({year: 2020, month: 1, day: 31}) + duration({months: 1}) AS d;
        |""".stripMargin)
    assert(cal.collect().head.get(0).toString == "2020-02-29")
    // mixing calendar and fixed-length components stays rejected
    val e4 = intercept[GraftException](gs.cypher(
      "MATCH (u:User) RETURN duration({months: 2, days: 1}) AS d;"))
    assert(e4.getMessage.contains("mix"), e4.getMessage)
  }

  test("leading CALL { } subqueries: scalar join, fan-out, rejections") {
    // users: ids 1..5. avg(id) = 3.0 — the classic compute-then-filter
    val df = gs.cypher(
      """CALL { MATCH (u:User) RETURN avg(u.id) AS mean_id }
        |MATCH (u:User) WHERE u.id > mean_id RETURN u.id AS id;""".stripMargin)
    assert(longs(df) == Set(4L, 5L))
    // two CALL blocks compose; call columns project through RETURN
    val df2 = gs.cypher(
      """CALL { MATCH (u:User) RETURN min(u.id) AS lo }
        |CALL { MATCH (u:User) RETURN max(u.id) AS hi }
        |MATCH (u:User) WHERE u.id > lo AND u.id < hi
        |RETURN u.id AS id, lo + hi AS span;""".stripMargin)
    val rows2 = df2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows2 == Set((2L, 6L), (3L, 6L), (4L, 6L)))
    // an n-row subquery fans the main query out n ways (CALL semantics)
    val df3 = gs.cypher(
      """CALL { MATCH (u:User) WHERE u.id <= 2 RETURN u.id AS probe }
        |MATCH (v:User {id: 5}) RETURN v.id AS id, probe AS probe;""".stripMargin)
    assert(df3.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((5L, 1L), (5L, 2L)))
    // duplicate output names across calls are loud
    val e1 = intercept[GraftException](gs.cypher(
      """CALL { MATCH (u:User) RETURN min(u.id) AS x }
        |CALL { MATCH (u:User) RETURN max(u.id) AS x }
        |MATCH (u:User) RETURN u.id AS id;""".stripMargin))
    assert(e1.getMessage.contains("duplicate"))
    // correlated import form is a specific parse error
    val e2 = intercept[GraftException](gs.cypher(
      """MATCH (a:User) CALL { WITH a MATCH (b:User) RETURN count(b) AS c }
        |RETURN a.id AS id;""".stripMargin))
    assert(e2.getMessage.toLowerCase.contains("parse") ||
      e2.getMessage.contains("correlated") || e2.getMessage.contains("CALL"))
    // EXPLAIN composes with CALL
    val plan = gs.cypher(
      """EXPLAIN CALL { MATCH (u:User) RETURN avg(u.id) AS m }
        |MATCH (u:User) WHERE u.id > m RETURN u.id AS id;""".stripMargin)
    assert(plan.columns.sameElements(Array("plan")))
  }

  test("CALL { } scope: RETURN *, OPTIONAL MATCH, UNION main, collisions") {
    // RETURN * includes the call columns (they are in scope)
    val df = gs.cypher(
      """CALL { MATCH (u:User) RETURN max(u.id) AS top }
        |MATCH (v:User {id: 1}) RETURN *;""".stripMargin)
    assert(df.columns.contains("top"))
    assert(df.select("top").head.getLong(0) == 5L)
    // OPTIONAL MATCH WHERE referencing a call column stays residual
    // (previously pushed to a scan where the column does not exist)
    val df2 = gs.cypher(
      """CALL { MATCH (u:User) RETURN min(u.id) + 1 AS lo2 }
        |MATCH (a:User {id: 1}) OPTIONAL MATCH (a)-[:Follows]->(b:User)
        |WHERE b.id > lo2
        |RETURN a.id AS id, b.id AS bid;""".stripMargin)
    val pairs = df2.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(pairs.forall(_._1 == 1L) && pairs.exists(_._2 > 2L))
    // a UNION main executes each call once; both parts see its columns
    val df3 = gs.cypher(
      """CALL { MATCH (u:User) RETURN max(u.id) AS hi2 }
        |MATCH (u:User) WHERE u.id = hi2 RETURN u.id AS id
        |UNION MATCH (u:User) WHERE u.id = hi2 - 4 RETURN u.id AS id;""".stripMargin)
    assert(longs(df3) == Set(5L, 1L))
    // a call column named like a pattern table column is a loud error,
    // not a raw Spark ambiguity failure
    val e = intercept[GraftException](gs.cypher(
      """CALL { MATCH (u:User) RETURN max(u.id) AS id }
        |MATCH (v:User) WHERE v.id < id RETURN v.id AS x;""".stripMargin))
    assert(e.getMessage.contains("collide"))
  }

  test("list casts are element-wise try-casts (malformed element -> NULL)") {
    val df = gs.cypher(
      """MATCH (u:User {name:'u1'})
        |RETURN toIntegerList(split('1;x;3', ';')) AS xs;""".stripMargin)
    assert(df.collect().head.getSeq[Any](0) == Seq(1L, null, 3L))
  }

  test("properties(r): named struct, correct on the adj-indexed path") {
    // Follows is adjacency-indexed; properties(f) must force the
    // edge-list path (the index carries only endpoints)
    val df = gs.cypher(
      """MATCH (a:User {name:'u1'})-[f:Follows]->(b:User)
        |RETURN b.id AS b, properties(f) AS p;""".stripMargin)
    val got = df.collect()
      .map(r => r.getLong(0) -> r.getStruct(1).getAs[Int]("since")).toMap
    assert(got == Map(2L -> 2019, 3L -> 2020))
    // a relationship with no property columns yields an empty struct
    val empty = gs.cypher(
      "MATCH (u:User)-[c:Created]->(p:Post) RETURN properties(c) AS pr LIMIT 1;")
    assert(empty.collect().head.getStruct(0).length == 0)
  }

  // -- [:A|B] relationship-type alternation ---------------------------------

  /** Separate session: a third User→User type in the shared fixture would
    * make the untyped-rel inference tests ambiguous. */
  private lazy val altGs: GraftSession = {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("an", (1L to 4L).map(i => (i, s"v$i")).toDF("id", "name"))
    g.registerTable("pn", Seq((9L, "p9")).toDF("id", "title"))
    // Likes and Knows share (A)->(A); (1,2) exists under BOTH types.
    // Likes carries (w, lo); Knows carries (w) — w is the common prop.
    g.registerTable("Likes", Seq((1L, 2L, 10, 5), (2L, 3L, 20, 6))
      .toDF("from_A", "to_A", "w", "lo"))
    g.registerTable("Knows", Seq((1L, 2L, 30), (1L, 3L, 40))
      .toDF("from_A", "to_A", "w"))
    g.registerTable("Wrote", Seq((1L, 9L)).toDF("from_A", "to_P"))
    g.registerNode("A", "an", "id")
    g.registerNode("P", "pn", "id")
    g.registerRel("Likes", "Likes", "A", "A")
    g.registerRel("Knows", "Knows", "A", "A")
    g.registerRel("Wrote", "Wrote", "A", "P")
    g
  }

  test("[:A|B] alternation: union of edge tables, per-row type(r)") {
    val df = altGs.cypher(
      """MATCH (a:A)-[r:Likes|Knows]->(b:A)
        |RETURN a.id AS a_id, b.id AS b_id, type(r) AS t;""".stripMargin)
    assert(rows(df) == Set(
      Seq(1L, 2L, "Likes"), Seq(2L, 3L, "Likes"),
      Seq(1L, 2L, "Knows"), Seq(1L, 3L, "Knows")))
    // aggregation happens over the unioned pattern, not per branch
    val agg = altGs.cypher(
      "MATCH (a:A)-[r:Likes|Knows]->(b:A) RETURN count(*) AS n;")
    assert(agg.collect().head.getLong(0) == 4L)
    // legacy :A|:B spelling parses to the same thing
    val legacy = altGs.cypher(
      "MATCH (a:A)-[r:Likes|:Knows]->(b:A) RETURN count(*) AS n;")
    assert(legacy.collect().head.getLong(0) == 4L)
  }

  test("[:A|B] alternation: common property filters, missing prop is loud") {
    val df = altGs.cypher(
      """MATCH (a:A)-[r:Likes|Knows]->(b:A) WHERE r.w >= 20
        |RETURN a.id AS a_id, b.id AS b_id, r.w AS w;""".stripMargin)
    assert(rows(df) == Set(Seq(2L, 3L, 20), Seq(1L, 2L, 30), Seq(1L, 3L, 40)))
    val e = intercept[GraftException](altGs.cypher(
      "MATCH (a:A)-[r:Likes|Knows]->(b:A) RETURN r.lo AS x;").collect())
    assert(e.getMessage.contains("Knows") && e.getMessage.contains("lo"))
  }

  test("[:A|B] alternation: undirected keeps one match per type") {
    val df = altGs.cypher(
      "MATCH (a:A {id: 2})-[r:Likes|Knows]-(b:A) RETURN b.id AS b, type(r) AS t;")
    // 1-2 exists under both types (two relationships), 2-3 under Likes
    assert(rows(df) == Set(Seq(1L, "Likes"), Seq(1L, "Knows"), Seq(3L, "Likes")))
  }

  test("[:A|B] alternation: var-length hop runs on the unioned base") {
    val df = altGs.cypher(
      """MATCH (a:A {id: 1})-[:Likes|Knows*1..2]->(b:A)
        |RETURN b.id AS b;""".stripMargin)
    assert(longs(df) == Set(2L, 3L))
  }

  test("[:A|B] alternation composes with OPTIONAL MATCH") {
    val df = altGs.cypher(
      """MATCH (a:A)
        |OPTIONAL MATCH (a)-[r:Likes|Knows]->(b:A)
        |RETURN a.id AS a_id, count(r) AS n;""".stripMargin)
    // 1 has 1 Likes + 2 Knows... Likes(1,2) + Knows(1,2),(1,3) = 3;
    // 2 has Likes(2,3) = 1; 3 and 4 have none but keep their rows
    assert(rows(df) == Set(Seq(1L, 3L), Seq(2L, 1L),
      Seq(3L, 0L), Seq(4L, 0L)))
  }

  test("[:A|B] alternation: endpoint-label mismatch and EXISTS are loud") {
    val e1 = intercept[GraftException](altGs.cypher(
      "MATCH (a:A)-[r:Likes|Wrote]->(b) RETURN b.id AS x;"))
    assert(e1.getMessage.contains("same labels"))
    val e2 = intercept[GraftException](altGs.cypher(
      "MATCH (a:A) WHERE EXISTS { (a)-[:Likes|Knows]->(c:A) } RETURN a.id AS x;"))
    assert(e2.getMessage.contains("MATCH patterns only"))
  }

  // ---- CREATE instance inserts (flag-gated write path) ---------------------

  /** Fresh writable graph per test — CREATE mutates registered tables, so
    * sharing the read-only `gs` fixture would poison unrelated tests. */
  private def writeGs(): GraftSession = {
    import spark.implicits._
    val g = new GraftSession(spark)
    g.registerTable("wusers",
      Seq((1L, "u1", "berlin"), (2L, "u2", "paris"), (3L, "u3", "berlin"))
        .toDF("id", "name", "city"))
    g.registerTable("wposts", Seq((10L, "p10")).toDF("id", "title"))
    g.registerTable("WFollows",
      Seq((1L, 2L, 2019), (2L, 3L, 2021)).toDF("from_User", "to_User", "since"))
    g.registerNode("User", "wusers", "id")
    g.registerNode("Post", "wposts", "id")
    g.registerRel("WFollows", "WFollows", "User", "User", adjIndex = true)
    g
  }

  private def withWrites[A](body: => A): A = {
    spark.conf.set("spark.graft.writes.enabled", "true")
    try body finally spark.conf.set("spark.graft.writes.enabled", "false")
  }

  test("CREATE instance inserts: reference-parity rejection by default") {
    val e = intercept[GraftException](writeGs().cypher(
      "CREATE (:User {id: 9, name: 'u9', city: 'oslo'});"))
    assert(e.getMessage.contains("not supported"), e.getMessage)
    assert(e.getMessage.contains("reference parity"), e.getMessage)
    // the enable hint names the flag
    assert(e.getMessage.contains("spark.graft.writes.enabled"), e.getMessage)
  }

  test("CREATE node + relationship insert, then traverse (writes enabled)") {
    val g = writeGs()
    withWrites {
      // index-backed traversal FIRST so the memoized adjacency index
      // exists and must be invalidated by the relationship insert below
      assert(longs(g.cypher(
        "MATCH (a:User {name:'u1'})-[:WFollows]->(b:User) RETURN b.id AS id;"))
        == Set(2L))
      val s1 = g.cypher("CREATE (:User {id: 6, name: 'u6', city: 'oslo'});")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(s1.toSeq == Seq(("node", "User", 1L)))
      val s2 = g.cypher(
        "CREATE (:User {id: 6})-[:WFollows {since: 2024}]->(:User {id: 1});")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(s2.toSeq == Seq(("rel", "WFollows", 1L)))
      // edge-list path (rel-property filter) sees the new edge + props
      assert(longs(g.cypher(
        """MATCH (a:User {name:'u6'})-[f:WFollows]->(b:User)
          |WHERE f.since = 2024 RETURN b.id AS id;""".stripMargin)) == Set(1L))
      // adjacency-index path rebuilt from the updated table, not stale
      assert(longs(g.cypher(
        "MATCH (a:User {name:'u6'})-[:WFollows]->(b:User) RETURN b.id AS id;"))
        == Set(1L))
      // multiple patterns in one CREATE; absent property -> typed NULL
      g.cypher("CREATE (:Post {id: 13}), (:User {id: 7, name: 'u7', city: 'rome'});")
      assert(rows(g.cypher(
        "MATCH (p:Post) WHERE p.id = 13 RETURN p.id AS id, p.title AS t;"))
        == Set(Seq(13L, null)))
      // bound parameters work as property values
      g.cypher("CREATE (:User {id: $i, name: $n, city: 'paris'});",
        Map("i" -> 8L, "n" -> "u8"))
      assert(longs(g.cypher(
        "MATCH (u:User {name:'u8'}) RETURN u.id AS id;")) == Set(8L))
    }
  }

  test("CREATE from 8 concurrent threads: every acknowledged write reads back") {
    val g = writeGs()
    withWrites {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        // each statement appends to BOTH backing tables (node + edge)
        val writes = (100 until 108).map(i => pool.submit(() =>
          g.cypher(s"CREATE (:User {id: $i, name: 'c$i', city: 'x'}), " +
            s"(:User {id: $i})-[:WFollows {since: 2030}]->(:User {id: 1});")
            .collect()))
        writes.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
      assert(longs(g.cypher("MATCH (u:User) WHERE u.id >= 100 RETURN u.id AS id;"))
        == (100L until 108L).toSet)
      assert(longs(g.cypher(
        """MATCH (a:User)-[f:WFollows]->(b:User {id: 1})
          |WHERE f.since = 2030 RETURN a.id AS id;""".stripMargin))
        == (100L until 108L).toSet)
    }
  }

  test("CREATE validation: every malformed shape is loud, nothing half-applies") {
    val g = writeGs()
    withWrites {
      def bad(q: String, want: String): Unit = {
        val e = intercept[GraftException](g.cypher(q))
        assert(e.getMessage.contains(want), s"$q => ${e.getMessage}")
      }
      bad("CREATE (:User {id: 9, nope: 1});", "unknown property")
      bad("CREATE (:User {name: 'x'});", "id property")
      bad("CREATE (n {id: 9});", "label is required")
      bad("CREATE (:User {id: 9, name: upper('x')});", "must be literals")
      bad("CREATE (:User {id: 6})-[:WFollows]-(:User {id: 1});", "directed")
      bad("CREATE (:User {id: 6})-[:WFollows*1..2]->(:User {id: 1});", "var-length")
      bad("CREATE (:User {id: 6})-[]->(:User {id: 1});", "explicit type")
      bad("CREATE (:Post {id: 6})-[:WFollows]->(:User {id: 1});",
        "does not match")
      bad("CREATE (:User {id: 6, name: 'x'})-[:WFollows]->(:User {id: 1});",
        "only carry the id property")
      bad("CREATE (:User {id: 6})-[:WFollows {from_User: 3}]->(:User {id: 1});",
        "come from the endpoints")
      bad("CREATE (:User {id: 6})-[:WFollows]->(:User {id: 1})-[:WFollows]->(:User {id: 2});",
        "single relationships")
      // type mismatch caught BEFORE the cast can NULL the literal
      bad("CREATE (:User {id: 9, name: 77});", "does not fit")
      // nothing from the failed statements landed
      assert(g.cypher("MATCH (u:User) RETURN count(u.id) AS n;")
        .collect().head.getLong(0) == 3L)
    }
  }

  test("CREATE relationship insert maintains a persisted adjacency index in place") {
    val g = writeGs()
    g.persistAdjIndex("WFollows", buckets = 2, partGroups = 2)
    withWrites {
      g.cypher("CREATE (:User {id: 6, name: 'u6', city: 'x'});")
      g.cypher("CREATE (:User {id: 6})-[:WFollows {since: 2030}]->(:User {id: 2});")
      // the persisted index absorbed the delta: a STRICT attach (refuse if
      // stale) succeeds because appendEdges refreshed the fingerprint
      g.attachAdjIndex("WFollows", rebuildIfStale = false)
      assert(longs(g.cypher(
        "MATCH (a:User {name:'u6'})-[:WFollows]->(b:User) RETURN b.id AS id;"))
        == Set(2L))
    }
  }

  test("CREATE multi-pattern atomicity: a late pattern's error applies nothing") {
    val g = writeGs()
    withWrites {
      // second pattern's type error must not leave the first appended
      intercept[GraftException](g.cypher(
        "CREATE (:User {id: 30, name: 'a', city: 'x'}), (:Post {id: 31, title: 99});"))
      assert(g.cypher("MATCH (u:User) WHERE u.id = 30 RETURN u.id AS id;")
        .collect().isEmpty)
      // node pattern + relationship pattern whose OTHER endpoint is a typo:
      // the endpoint check fails the statement before the node lands
      intercept[GraftException](g.cypher(
        """CREATE (:User {id: 40, name: 'u40', city: 'x'}),
          |       (:User {id: 40})-[:WFollows {since: 1}]->(:User {id: 999});""".stripMargin))
      assert(g.cypher("MATCH (u:User) WHERE u.id = 40 RETURN u.id AS id;")
        .collect().isEmpty)
    }
  }

  test("CREATE endpoint ids must reference existing or same-statement nodes") {
    val g = writeGs()
    withWrites {
      // a typo'd endpoint would insert a traversal-invisible dangling
      // edge; it errors loudly instead
      val e = intercept[GraftException](g.cypher(
        "CREATE (:User {id: 1})-[:WFollows {since: 1}]->(:User {id: 999});"))
      assert(e.getMessage.contains("999") &&
        e.getMessage.contains("does not match any existing"), e.getMessage)
      // ...but a node created by the SAME statement resolves
      g.cypher(
        """CREATE (:User {id: 50, name: 'u50', city: 'x'}),
          |       (:User {id: 50})-[:WFollows {since: 7}]->(:User {id: 1});""".stripMargin)
      assert(longs(g.cypher(
        "MATCH (a:User {name:'u50'})-[:WFollows]->(b:User) RETURN b.id AS id;"))
        == Set(1L))
    }
  }

  test("CREATE literal checks close the silent-cast holes") {
    import spark.implicits._
    val g = writeGs()
    g.registerTable("wevents", Seq(
      (20L, java.sql.Date.valueOf("2024-01-01"),
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 5))
      .toDF("id", "d", "ts", "n"))
    g.registerNode("Event", "wevents", "id")
    withWrites {
      def bad(q: String, want: String): Unit = {
        val e = intercept[GraftException](g.cypher(q))
        assert(e.getMessage.contains(want), s"$q => ${e.getMessage}")
      }
      // a garbage date/timestamp STRING passes a class check but
      // cast()s to silent NULL — it must parse eagerly on the driver
      bad("CREATE (:Event {id: 21, d: 'garbage'});", "yyyy-MM-dd")
      bad("CREATE (:Event {id: 21, d: '2024-02-30'});", "yyyy-MM-dd")
      bad("CREATE (:Event {id: 21, ts: 'soon'});", "does not fit")
      // out-of-range integral into an INT column wraps/NULLs in a cast —
      // range-checked instead
      bad("CREATE (:Event {id: 21, n: 99999999999});", "range")
      // the valid forms land with their exact values
      g.cypher("CREATE (:Event {id: 22, d: '2024-02-29', " +
        "ts: '2024-01-02 03:04:05', n: 7});")
      val r = g.cypher(
        "MATCH (e:Event) WHERE e.id = 22 RETURN e.d AS d, e.ts AS ts, e.n AS n;")
        .collect().head
      assert(r.getDate(0).toString == "2024-02-29")
      assert(r.getTimestamp(1).toString.startsWith("2024-01-02 03:04:05"))
      assert(r.getInt(2) == 7)
    }
  }
}
