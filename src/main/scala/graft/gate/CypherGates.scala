package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.fixtures.TpchGraph

/** `q_` gate entries: Cypher text run end to end through the engine (parse →
  * plan → DataFrame) against the graph derived from the sf-dir tables
  * (FIXTURES.md §B), each beside the equivalent ANSI SQL over the same
  * parquet files. */
private[gate] object CypherGates {

  private def cy(query: String, params: Map[String, Any] = Map.empty)
      : (SparkSession, String) => DataFrame =
    (s, dir) => TpchGraph.session(s, dir).cypher(query, params)

  def entries: Seq[GateEntry] = Seq(
    // Scan + Projection (§2.1 #2/#6)
    GateEntry("q_node_scan", cy(
      "MATCH (c:Customer) RETURN c.c_custkey AS c_custkey, c.c_name AS c_name;"),
      "SELECT c_custkey, c_name FROM customer"),

    // Filter with AND / literals (§2.1 #5, §2.2 operators)
    GateEntry("q_node_filter", cy(
      """MATCH (c:Customer) WHERE c.c_acctbal > 5000.0 AND c.c_mktsegment = 'BUILDING'
        |RETURN c.c_custkey AS c_custkey, c.c_acctbal AS c_acctbal;""".stripMargin),
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal > 5000.0 AND c_mktsegment = 'BUILDING'""".stripMargin),

    // 1-hop traversal via the adjacency-index path (bitmap analogue —
    // no rel props referenced, index available)
    GateEntry("q_hop_index", cy(
      """MATCH (c:Customer {c_mktsegment: 'BUILDING'})-[:PLACED]->(o:Order)
        |RETURN c.c_custkey AS c_custkey, o.o_orderkey AS o_orderkey;""".stripMargin),
      """SELECT c_custkey, o_orderkey FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin),

    // 1-hop forced onto the edge-list path (rel property filter —
    // filter_tagging.rs:152-154 semantics)
    GateEntry("q_hop_edgelist", cy(
      """MATCH (c:Customer)-[pl:PLACED]->(o:Order)
        |WHERE pl.o_orderdate < datetime('1997-01-01') AND c.c_mktsegment = 'AUTOMOBILE'
        |RETURN c.c_custkey AS c_custkey, o.o_orderkey AS o_orderkey;""".stripMargin),
      """SELECT c_custkey, o_orderkey FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |WHERE o_orderdate < TIMESTAMP '1997-01-01' AND c_mktsegment = 'AUTOMOBILE'""".stripMargin),

    // 2-hop chain + implicit GROUP BY from mixed RETURN
    GateEntry("q_2hop", cy(
      """MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region)
        |WHERE r.r_name = 'ASIA'
        |RETURN n.n_name AS n_name, count(*) AS cnt;""".stripMargin),
      """SELECT n_name, count(*) AS cnt FROM customer
        |JOIN nation ON n_nationkey = c_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |WHERE r_name = 'ASIA' GROUP BY n_name""".stripMargin),

    // 3-hop chain through two adjacency indexes (PLACED, CONTAINS —
    // bitmap semantics dedup (order,part) pairs like groupBitmap)
    GateEntry("q_3hop", cy(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part)
        |RETURN c.c_mktsegment AS seg, count(*) AS cnt;""".stripMargin),
      // adjacency-index path dedups (order,part) pairs — groupBitmap semantics
      """SELECT c_mktsegment AS seg, count(*) AS cnt FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) l
        |  ON l.l_orderkey = o_orderkey
        |GROUP BY c_mktsegment""".stripMargin),

    // global aggregates, no GROUP BY (group_by_building.rs:30-41)
    GateEntry("q_agg_global", cy(
      """MATCH (o:Order) RETURN count(*) AS cnt, min(o.o_totalprice) AS min_p,
        |max(o.o_totalprice) AS max_p, round(avg(o.o_totalprice), 2) AS avg_p,
        |round(sum(o.o_totalprice), 2) AS sum_p;""".stripMargin),
      """SELECT count(*) AS cnt, min(o_totalprice) AS min_p, max(o_totalprice) AS max_p,
        |round(avg(o_totalprice), 2) AS avg_p, round(sum(o_totalprice), 2) AS sum_p
        |FROM orders""".stripMargin),

    // count(DISTINCT …) — unary Distinct wrap (expression.rs:113-121)
    GateEntry("q_count_distinct", cy(
      """MATCH (o:Order)-[l:CONTAINS]->(p:Part)
        |RETURN count(DISTINCT p.p_partkey) AS n_parts;""".stripMargin),
      "SELECT count(DISTINCT l_partkey) AS n_parts FROM lineitem"),

    // grouped agg over a traversal + ordered top-k (count(alias)→count(id))
    GateEntry("q_topk", cy(
      """MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_mktsegment = 'BUILDING'
        |RETURN c.c_custkey AS c_custkey, count(o) AS cnt
        |ORDER BY cnt DESC, c_custkey ASC LIMIT 10;""".stripMargin),
      """SELECT c_custkey, count(o_orderkey) AS cnt FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_custkey ORDER BY cnt DESC, c_custkey ASC LIMIT 10""".stripMargin),

    // ORDER BY + SKIP + LIMIT (LIMIT skip,n semantics — to_sql_query.rs:25-33)
    GateEntry("q_skip_limit", cy(
      """MATCH (c:Customer) RETURN c.c_custkey AS c_custkey, c.c_acctbal AS bal
        |ORDER BY bal DESC, c_custkey ASC SKIP 10 LIMIT 20;""".stripMargin),
      """SELECT c_custkey, c_acctbal AS bal FROM customer
        |ORDER BY bal DESC, c_custkey ASC LIMIT 20 OFFSET 10""".stripMargin),

    // undirected same-label hop ⇒ UNION DISTINCT of both orientations
    GateEntry("q_undirected", cy(
      """MATCH (a:Nation)-[:NATION_ADJ]-(b:Nation)
        |RETURN a.n_name AS a_name, b.n_name AS b_name;""".stripMargin),
      """WITH e AS (
        |  SELECT n1.n_nationkey AS f, n2.n_nationkey AS t
        |  FROM nation n1 JOIN nation n2
        |    ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey),
        |u AS (SELECT f, t FROM e UNION SELECT t, f FROM e)
        |SELECT na.n_name AS a_name, nb.n_name AS b_name FROM u
        |JOIN nation na ON na.n_nationkey = u.f
        |JOIN nation nb ON nb.n_nationkey = u.t""".stripMargin),

    // cycle pattern ⇒ standalone-rel double-key join
    GateEntry("q_cycle", cy(
      """MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region),
        |      (c)-[:CUST_REGION]->(r)
        |RETURN r.r_name AS r_name, count(*) AS cnt;""".stripMargin),
      """SELECT r_name, count(*) AS cnt FROM customer
        |JOIN nation ON n_nationkey = c_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |GROUP BY r_name""".stripMargin),

    // wrong-direction pattern ⇒ EMPTY result, not an error
    // (query_planner/mod.rs:50-60)
    GateEntry("q_wrong_direction", cy(
      "MATCH (o:Order)-[:PLACED]->(c:Customer) RETURN c.c_custkey AS c_custkey;"),
      "SELECT c_custkey FROM customer WHERE 1 = 0"),

    // working WITH pipeline + post-WITH WHERE (HAVING semantics) — extension
    // over the reference, which parses WITH then drops it
    GateEntry("q_with_having", cy(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |WITH c.c_custkey AS ck, count(o) AS cnt
        |WHERE cnt > 12
        |RETURN ck AS ck, cnt AS cnt;""".stripMargin),
      """SELECT c_custkey AS ck, count(o_orderkey) AS cnt FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey HAVING count(o_orderkey) > 12""".stripMargin),

    // RETURN * expansion (projection_tagging.rs:31-59)
    GateEntry("q_return_star", cy(
      "MATCH (n:Nation)-[:IN_REGION]->(r:Region) RETURN *;"),
      """SELECT n_nationkey, n_name, n_regionkey, r_regionkey, r_name
        |FROM nation JOIN region ON r_regionkey = n_regionkey""".stripMargin),

    // expression operator vocabulary: IN list, NOT, IS NOT NULL, arithmetic
    GateEntry("q_expr_ops", cy(
      """MATCH (o:Order)
        |WHERE o.o_orderstatus IN ['O', 'F'] AND NOT (o.o_totalprice < 1000.0)
        |  AND o.o_orderdate IS NOT NULL
        |RETURN o.o_orderkey AS k, o.o_totalprice / 2.0 + 10.0 AS adj;""".stripMargin),
      """SELECT o_orderkey AS k, o_totalprice / 2.0 + 10.0 AS adj
        |FROM orders
        |WHERE o_orderstatus IN ('O', 'F') AND NOT (o_totalprice < 1000.0)
        |  AND o_orderdate IS NOT NULL""".stripMargin),

    // leading CALL { } subquery: corpus-level scalar computed once, then
    // joined onto every row (compute-then-filter)
    GateEntry("q_call", cy(
      """CALL { MATCH (o:Order) RETURN round(avg(o.o_totalprice), 2) AS avg_p }
        |MATCH (o:Order) WHERE o.o_totalprice > avg_p * 1.5
        |RETURN count(*) AS cnt, round(min(avg_p), 2) AS avg_seen;""".stripMargin),
      """SELECT count(*) AS cnt, round(min(avg_p), 2) AS avg_seen FROM orders
        |CROSS JOIN (SELECT round(avg(o_totalprice), 2) AS avg_p FROM orders)
        |WHERE o_totalprice > avg_p * 1.5""".stripMargin),

    // Multi-key DISTINCT aggregate: count(DISTINCT k1, k2) counts
    // distinct tuples (maps to Spark's n-ary count_distinct)
    GateEntry("q_agg_multikey", cy(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |RETURN c.c_mktsegment AS seg,
        |       count(DISTINCT c.c_nationkey, o.o_orderpriority) AS combos;
        |""".stripMargin),
      """SELECT c_mktsegment AS seg,
        |       count(DISTINCT (c_nationkey, o_orderpriority)) AS combos
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),

    // Plain path binding: per-path rows, nodes(p)/length(p) arrays
    // (NATION_ADJ is acyclic — key<key — so trails = simple paths here;
    // the cyclic trail semantics are pinned in PathValueSpec). The Cypher
    // surface returns nodes(p) as an array; the gate entry joins it into a
    // scalar string because the driver's pandas hasher cannot sort/hash
    // list cells (same pattern as q_collect).
    GateEntry("q_path_fns", (s, dir) => {
      import org.apache.spark.sql.functions.{array_join, col}
      TpchGraph.session(s, dir).cypher(
        """MATCH p = (a:Nation)-[:NATION_ADJ*1..2]->(b:Nation)
          |RETURN a.n_nationkey AS a_key, b.n_nationkey AS b_key,
          |       nodes(p) AS path, length(p) AS len;""".stripMargin)
        .withColumn("path", array_join(col("path").cast("array<string>"), "-"))
    },
      """WITH e AS (
        |  SELECT a.n_nationkey AS f, b.n_nationkey AS t
        |  FROM nation a JOIN nation b
        |    ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey)
        |SELECT f AS a_key, t AS b_key,
        |       CAST(f AS VARCHAR) || '-' || CAST(t AS VARCHAR) AS path,
        |       CAST(1 AS BIGINT) AS len
        |FROM e
        |UNION ALL
        |SELECT e1.f, e2.t,
        |       CAST(e1.f AS VARCHAR) || '-' || CAST(e1.t AS VARCHAR)
        |         || '-' || CAST(e2.t AS VARCHAR),
        |       CAST(2 AS BIGINT)
        |FROM e e1 JOIN e e2 ON e1.t = e2.f""".stripMargin),

    // Mid-query correlated CALL { WITH ... }: per-customer grouped
    // subquery, decorrelated into one grouped aggregate + one left join
    // (zero-order customers keep the row with count 0 / sum 0)
    GateEntry("q_call_mid", cy(
      """MATCH (c:Customer) WHERE c.c_acctbal > 9000.0
        |CALL { WITH c MATCH (c)-[:PLACED]->(o:Order)
        |       RETURN count(o) AS order_cnt, sum(o.o_totalprice) AS raw_spent }
        |RETURN c.c_custkey AS c_custkey, order_cnt, round(raw_spent, 2) AS spent
        |ORDER BY c_custkey;""".stripMargin),
      """SELECT c_custkey, coalesce(cnt, 0) AS order_cnt,
        |       round(coalesce(s, 0), 2) AS spent
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, count(*) AS cnt, sum(o_totalprice) AS s
        |  FROM orders GROUP BY o_custkey) ON c_custkey = o_custkey
        |WHERE c_acctbal > 9000.0 ORDER BY c_custkey""".stripMargin),

    // Var-length hop with a per-edge relationship filter: every traversed
    // edge must satisfy it (filter applied to the hop base pre-composition)
    GateEntry("q_varlen_filter", cy(
      """MATCH (a:Nation)-[r:NATION_ADJ*1..2]->(b:Nation) WHERE r.n_dist <= 10
        |RETURN a.n_nationkey AS a_id, b.n_nationkey AS b_id;""".stripMargin),
      """WITH e AS (
        |  SELECT a.n_nationkey AS f, b.n_nationkey AS t
        |  FROM nation a JOIN nation b
        |    ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
        |   AND b.n_nationkey - a.n_nationkey <= 10)
        |SELECT DISTINCT a_id, b_id FROM (
        |  SELECT f AS a_id, t AS b_id FROM e
        |  UNION ALL
        |  SELECT e1.f, e2.t FROM e e1 JOIN e e2 ON e1.t = e2.f)""".stripMargin),

    // Correlated EXISTS: the subquery's WHERE compares its own column
    // against the outer row (rides the semi-join condition)
    GateEntry("q_exists_corr", cy(
      """MATCH (c:Customer)
        |WHERE EXISTS { (c)-[:PLACED]->(o:Order)
        |               WHERE o.o_totalprice > c.c_acctbal * 20.0 }
        |RETURN count(*) AS cnt;""".stripMargin),
      """SELECT count(*) AS cnt FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c.c_custkey
        |                AND o_totalprice > c.c_acctbal * 20.0)""".stripMargin),

    // Interleaved CALL → WITH: the stage filters and aggregates over the
    // call's per-row output (compute-then-filter, the canonical shape)
    GateEntry("q_call_filter", cy(
      """MATCH (c:Customer)
        |CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) RETURN count(o) AS n_orders }
        |WITH c, n_orders WHERE n_orders >= 20
        |RETURN c.c_mktsegment AS seg, count(*) AS heavy_customers,
        |       max(n_orders) AS max_orders;""".stripMargin),
      """SELECT c_mktsegment AS seg, count(*) AS heavy_customers,
        |       max(n) AS max_orders
        |FROM customer JOIN (
        |  SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey)
        |  ON c_custkey = o_custkey
        |WHERE n >= 20 GROUP BY c_mktsegment""".stripMargin),

    // CALL block shared by both parts of a UNION main (executes once,
    // persisted; columns visible in every part)
    GateEntry("q_call_union", cy(
      """CALL { MATCH (n:Nation) RETURN max(n.n_nationkey) AS top }
        |MATCH (n:Nation) WHERE n.n_nationkey = top RETURN n.n_name AS name
        |UNION
        |MATCH (n:Nation) WHERE n.n_nationkey = top - 24 RETURN n.n_name AS name;""".stripMargin),
      """SELECT n_name AS name FROM nation
        |WHERE n_nationkey = (SELECT max(n_nationkey) FROM nation)
        |UNION
        |SELECT n_name AS name FROM nation
        |WHERE n_nationkey = (SELECT max(n_nationkey) FROM nation) - 24""".stripMargin),

    // DISTINCT inside avg/sum aggregates (the openCypher spelling)
    GateEntry("q_agg_distinct", cy(
      """MATCH (o:Order)
        |RETURN avg(DISTINCT o.o_orderkey % 7) AS ad,
        |       sum(DISTINCT o.o_orderkey % 7) AS sd;""".stripMargin),
      """SELECT avg(DISTINCT o_orderkey % 7) AS ad,
        |CAST(sum(DISTINCT o_orderkey % 7) AS BIGINT) AS sd FROM orders""".stripMargin),

    // client parameters, bound before planning
    GateEntry("q_param", cy(
      """MATCH (c:Customer) WHERE c.c_mktsegment = $seg AND c.c_nationkey IN $nats
        |RETURN count(*) AS cnt;""".stripMargin,
      Map("seg" -> "BUILDING", "nats" -> Seq(1L, 5L, 9L))),
      """SELECT count(*) AS cnt FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_nationkey IN (1, 5, 9)""".stripMargin),

    // relationship-type inference from endpoint labels
    // (schema_inference.rs:375-391)
    GateEntry("q_anon_rel", cy(
      "MATCH (n:Nation)-[]->(r:Region) RETURN n.n_name AS n_name, r.r_name AS r_name;"),
      """SELECT n_name, r_name FROM nation
        |JOIN region ON r_regionkey = n_regionkey""".stripMargin),

    // endpoint label inference from the relationship schema
    GateEntry("q_label_infer", cy(
      "MATCH (c:Customer)-[:PLACED]->(o) RETURN count(*) AS cnt;"),
      """SELECT count(*) AS cnt FROM customer
        |JOIN orders ON o_custkey = c_custkey""".stripMargin),

    // consecutive MATCH clauses join on shared aliases
    GateEntry("q_multi_match", cy(
      """MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)
        |MATCH (n)-[:IN_REGION]->(r:Region)
        |RETURN r.r_name AS r_name, count(*) AS cnt;""".stripMargin),
      """SELECT r_name, count(*) AS cnt FROM customer
        |JOIN nation ON n_nationkey = c_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |GROUP BY r_name""".stripMargin),

    // UNWIND: list explode joined to the pattern
    GateEntry("q_unwind", cy(
      """MATCH (r:Region) UNWIND [1, 2, 3] AS x
        |RETURN r.r_name AS name, x AS x;""".stripMargin),
      """SELECT r_name AS name, x FROM region
        |CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS x)""".stripMargin),

    // CASE WHEN expression + grouping on it
    GateEntry("q_case", cy(
      """MATCH (o:Order)
        |RETURN CASE WHEN o.o_totalprice > 250000.0 THEN 'big'
        |            WHEN o.o_totalprice > 100000.0 THEN 'mid'
        |            ELSE 'small' END AS bucket,
        |       count(*) AS cnt;""".stripMargin),
      """SELECT CASE WHEN o_totalprice > 250000.0 THEN 'big'
        |            WHEN o_totalprice > 100000.0 THEN 'mid'
        |            ELSE 'small' END AS bucket, count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin),

    // schema introspection: type(r) folds to a literal at plan time
    // (one table per label); grouping on it still works
    GateEntry("q_type_fn", cy(
      """MATCH (c:Customer)-[r:PLACED]->(o:Order)
        |RETURN type(r) AS t, count(*) AS cnt;""".stripMargin),
      "SELECT 'PLACED' AS t, count(*) AS cnt FROM orders"),

    // openCypher entity functions a user migrating from the reference's
    // pass-through world types first: id() (node id column), keys()
    // (schema-static property list), exists(n.prop) (IS NOT NULL)
    GateEntry("q_fn_registry", cy(
      """MATCH (c:Customer)
        |WHERE exists(c.c_mktsegment) AND id(c) <= 100
        |RETURN id(c) AS cid, size(keys(c)) AS nkeys, c.c_name AS name;""".stripMargin),
      // keys(c) folds to the customer table's 5 columns at plan time
      """SELECT c_custkey AS cid, CAST(5 AS INTEGER) AS nkeys, c_name AS name
        |FROM customer WHERE c_mktsegment IS NOT NULL AND c_custkey <= 100""".stripMargin),

    // openCypher list functions: range() inclusive on both ends, head/last
    GateEntry("q_list_fns", cy(
      """MATCH (r:Region) UNWIND range(0, 8, 2) AS x
        |RETURN r.r_regionkey AS rk, x AS x, head(range(1, 3)) AS h,
        |       last(range(1, 3)) AS l, size(range(1, 3)) AS sz,
        |       head(tail(range(0, r.r_regionkey))) AS t2;""".stripMargin),
      // DuckDB generate_series is inclusive like Cypher range()
      """SELECT r_regionkey AS rk, x, CAST(1 AS BIGINT) AS h,
        |       CAST(3 AS BIGINT) AS l, CAST(3 AS INTEGER) AS sz,
        |       CASE WHEN r_regionkey >= 1 THEN CAST(1 AS BIGINT) END AS t2
        |FROM region CROSS JOIN (SELECT unnest(generate_series(0, 8, 2)) AS x)""".stripMargin),

    // openCypher list-cast round-trips (toStringList/toIntegerList/
    // toFloatList/toBooleanList) composed with split()/range()/reduce()
    GateEntry("q_fn_casts", cy(
      """MATCH (n:Nation) WHERE n.n_nationkey % 5 = 0
        |RETURN n.n_nationkey AS k,
        |       reduce(acc = 0, x IN toIntegerList(toStringList(range(0, n.n_nationkey))) | acc + x) AS total,
        |       head(toFloatList(split('3.5;4.5', ';'))) AS hf,
        |       size(toBooleanList(['true', 'false', 'nope'])) AS nb;""".stripMargin),
      // list-cast round-trip: sum(0..k) has the closed form; the boolean
      // list keeps its un-castable element as NULL (size still 3)
      """SELECT n_nationkey AS k,
        |       CAST(n_nationkey * (n_nationkey + 1) / 2 AS BIGINT) AS total,
        |       CAST(3.5 AS DOUBLE) AS hf, CAST(3 AS INTEGER) AS nb
        |FROM nation WHERE n_nationkey % 5 = 0""".stripMargin),

    // temporal constructors (component-map form) + duration.* scalars
    // (documented divergence: day/second counts, not Duration objects)
    GateEntry("q_fn_temporal", cy(
      """MATCH (o:Order) WHERE o.o_orderkey % 500 = 0
        |RETURN o.o_orderkey AS k,
        |       duration.inDays(date({year: 1995, month: 1, day: 1}), o.o_orderdate) AS dd,
        |       duration.between(date({year: 1995, month: 1, day: 1}), o.o_orderdate) AS ds,
        |       duration.inSeconds(datetime({year: 1995, month: 1, day: 1, hour: 6}),
        |                          datetime({year: 1995, month: 1, day: 2})) AS hs,
        |       duration({minutes: o.o_orderkey % 10, seconds: 30}) AS dsec,
        |       year(date({year: 2001, month: 7})) AS yy;""".stripMargin),
      """SELECT o_orderkey AS k,
        |       CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS dd,
        |       date_diff('second', DATE '1995-01-01', o_orderdate) AS ds,
        |       date_diff('second', make_timestamp(1995, 1, 1, 6, 0, 0.0),
        |                 make_timestamp(1995, 1, 2, 0, 0, 0.0)) AS hs,
        |       o_orderkey % 10 * 60 + 30 AS dsec,
        |       CAST(2001 AS INTEGER) AS yy
        |FROM orders WHERE o_orderkey % 500 = 0""".stripMargin),

    // calendar-variable duration: an all-calendar component map is a
    // YEAR-MONTH interval; temporal + duration month-adds with
    // end-of-month clamping on both engines
    GateEntry("q_duration_cal", cy(
      """MATCH (o:Order) WHERE o.o_orderkey % 500 = 0
        |RETURN o.o_orderkey AS k,
        |       o.o_orderdate + duration({months: 3}) AS m3,
        |       o.o_orderdate + duration({years: 1, months: -2}) AS adj;""".stripMargin),
      """SELECT o_orderkey AS k,
        |       o_orderdate + INTERVAL 3 MONTH AS m3,
        |       o_orderdate + INTERVAL 10 MONTH AS adj
        |FROM orders WHERE o_orderkey % 500 = 0""".stripMargin),

    // list comprehension + reduce() over data-dependent ranges; the array
    // column joins to a string for the driver's scalar hasher (like
    // q_collect)
    GateEntry("q_list_comp", (s, dir) => {
      import org.apache.spark.sql.functions.{col, concat_ws, transform}
      cy("""MATCH (r:Region)
           |RETURN r.r_regionkey AS rk,
           |       [x IN range(1, r.r_regionkey + 2) WHERE x % 2 = 0 | x * 10] AS evens,
           |       reduce(acc = 0, x IN range(0, r.r_regionkey) | acc + x) AS total,
           |       all(x IN range(0, r.r_regionkey) WHERE x < 3) AS all_small;""".stripMargin)(s, dir)
        .withColumn("evens",
          concat_ws(",", transform(col("evens"), _.cast("string"))))
    },
      // list_filter/list_transform mirror the comprehension; reduce() of
      // 0..rk is the closed-form rk(rk+1)/2
      """SELECT r_regionkey AS rk,
        |  array_to_string(list_transform(
        |    list_filter(generate_series(1, r_regionkey + 2), x -> x % 2 = 0),
        |    x -> CAST(x * 10 AS VARCHAR)), ',') AS evens,
        |  CAST(r_regionkey * (r_regionkey + 1) // 2 AS BIGINT) AS total,
        |  r_regionkey <= 2 AS all_small
        |FROM region""".stripMargin),

    // openCypher percentile aggregates (exact Cont interpolation, Disc
    // first-at-or-above rank) + median, per market segment
    GateEntry("q_percentile", cy(
      """MATCH (c:Customer)
        |RETURN c.c_mktsegment AS seg,
        |       round(percentileCont(c.c_acctbal, 0.25), 4) AS p25,
        |       percentileDisc(c.c_acctbal, 0.5) AS p50d,
        |       round(median(c.c_acctbal), 4) AS med;""".stripMargin),
      """SELECT c_mktsegment AS seg,
        |       round(quantile_cont(c_acctbal, 0.25), 4) AS p25,
        |       quantile_disc(c_acctbal, 0.5) AS p50d,
        |       round(quantile_cont(c_acctbal, 0.5), 4) AS med
        |FROM customer GROUP BY 1""".stripMargin),

    // WITH ... ORDER BY ... SKIP/LIMIT: top-k-then-continue stage form
    GateEntry("q_with_topk", cy(
      """MATCH (c:Customer)
        |WITH c.c_mktsegment AS seg, count(*) AS cnt
        |ORDER BY cnt DESC, seg ASC SKIP 1 LIMIT 3
        |RETURN seg AS seg, cnt AS cnt;""".stripMargin),
      """SELECT seg, cnt FROM (
        |  SELECT c_mktsegment AS seg, count(*) AS cnt FROM customer
        |  GROUP BY 1 ORDER BY cnt DESC, seg ASC LIMIT 3 OFFSET 1) t""".stripMargin),

    // UNION (distinct) of two independent read queries (extension)
    GateEntry("q_union", cy(
      """MATCH (n:Nation)-[:IN_REGION]->(r:Region {r_name: 'ASIA'})
        |RETURN n.n_name AS name
        |UNION
        |MATCH (n:Nation)-[:IN_REGION]->(r:Region {r_name: 'AFRICA'})
        |RETURN n.n_name AS name;""".stripMargin),
      """SELECT n_name AS name FROM nation JOIN region ON r_regionkey = n_regionkey
        |WHERE r_name = 'ASIA'
        |UNION
        |SELECT n_name AS name FROM nation JOIN region ON r_regionkey = n_regionkey
        |WHERE r_name = 'AFRICA'""".stripMargin),

    // flag-gated write path (extension; default mode keeps the reference-
    // parity rejection): CREATE a Nation node and an IN_REGION edge via
    // the engine on a FRESH session (each invocation rebuilds, so bench
    // iterations are idempotent), then traverse the mutated graph — the
    // oracle replays the insert as UNION ALL VALUES over the parquet
    GateEntry("q_create_insert", (s, dir) => {
      val gs = TpchGraph.build(s, dir)
      // the throwaway session pins one RDD per mutated table
      // (appendTableRows); close it when the consumer's cache scope is
      // released after the result is consumed, instead of leaking per
      // invocation
      graft.pipeline.PipelineCaches.onClear(gs)(_.close())
      s.conf.set("spark.graft.writes.enabled", "true")
      try {
        gs.cypher(
          "CREATE (:Nation {n_nationkey: 99, n_name: 'ATLANTIS', n_regionkey: 2});")
        gs.cypher(
          "CREATE (:Nation {n_nationkey: 99})-[:IN_REGION]->(:Region {r_regionkey: 2});")
      } finally s.conf.set("spark.graft.writes.enabled", "false")
      gs.cypher(
        """MATCH (n:Nation)-[:IN_REGION]->(r:Region)
          |RETURN r.r_regionkey AS region, count(n.n_nationkey) AS n_nations
          |ORDER BY region;""".stripMargin)
    },
      // the engine-side insert replayed in SQL: the IN_REGION edge table is
      // the nation (key, regionkey) projection, so the post-insert graph is
      // that projection UNION ALL the inserted edge's VALUES
      """WITH e AS (
        |  SELECT n_nationkey AS f, n_regionkey AS t FROM nation
        |  UNION ALL SELECT 99, 2)
        |SELECT r.r_regionkey AS region, count(*) AS n_nations
        |FROM e JOIN region r ON e.t = r.r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // shortestPath + length(p) (extension): min hop distances over the
    // sparse per-region NATION_NEXT chain, where the true distance is the
    // within-region rank difference — a closed-form oracle
    GateEntry("q_shortest_path", cy(
      """MATCH p = shortestPath((a:Nation)-[:NATION_NEXT*1..4]->(b:Nation))
        |RETURN a.n_name AS a_name, b.n_name AS b_name, length(p) AS len;""".stripMargin),
      // NATION_NEXT chains nations by ascending key within a region, so the
      // shortest hop count is exactly the rank difference
      """WITH r AS (
        |  SELECT n_nationkey, n_name, n_regionkey,
        |         row_number() OVER (PARTITION BY n_regionkey
        |                            ORDER BY n_nationkey) AS rk
        |  FROM nation)
        |SELECT a.n_name AS a_name, b.n_name AS b_name,
        |       CAST(b.rk - a.rk AS BIGINT) AS len
        |FROM r a JOIN r b ON a.n_regionkey = b.n_regionkey
        |WHERE b.rk - a.rk BETWEEN 1 AND 4""".stripMargin),

    // allShortestPaths: EVERY min-length path per pair, one row each —
    // the banded NATION_ADJ graph has pairs with several 2-hop shortest
    // paths through different intermediates
    GateEntry("q_all_shortest", (s, dir) => {
      import org.apache.spark.sql.functions.{array_join, col}
      cy("""MATCH p = allShortestPaths((a:Nation)-[r:NATION_ADJ*1..2]->(b:Nation))
           |WHERE r.n_dist <= 10
           |RETURN a.n_nationkey AS ak, b.n_nationkey AS bk,
           |       length(p) AS len, nodes(p) AS path;""".stripMargin)(s, dir)
        .withColumn("path", array_join(col("path").cast("array<string>"), "-"))
    },
      """WITH e AS (
        |  SELECT a.n_nationkey AS f, b.n_nationkey AS t
        |  FROM nation a JOIN nation b
        |    ON a.n_regionkey = b.n_regionkey
        |   AND a.n_nationkey < b.n_nationkey
        |   AND b.n_nationkey - a.n_nationkey <= 10)
        |SELECT f AS ak, t AS bk, CAST(1 AS BIGINT) AS len,
        |       CAST(f AS VARCHAR) || '-' || CAST(t AS VARCHAR) AS path
        |FROM e
        |UNION ALL
        |SELECT e1.f, e2.t, CAST(2 AS BIGINT),
        |       CAST(e1.f AS VARCHAR) || '-' || CAST(e1.t AS VARCHAR)
        |         || '-' || CAST(e2.t AS VARCHAR)
        |FROM e e1 JOIN e e2 ON e1.t = e2.f
        |WHERE NOT EXISTS
        |      (SELECT 1 FROM e WHERE e.f = e1.f AND e.t = e2.t)""".stripMargin),

    // nodes(p) on a shortestPath binding: the pinned min-length path per
    // pair, joined to a string for the driver's hasher (the chain graph
    // has a unique shortest path — tie determinism is pinned in
    // PathValueSpec's diamond case)
    GateEntry("q_shortest_nodes", (s, dir) => {
      import org.apache.spark.sql.functions.{array_join, col}
      cy("""MATCH p = shortestPath((a:Nation)-[:NATION_NEXT*1..4]->(b:Nation))
           |RETURN a.n_nationkey AS ak, b.n_nationkey AS bk,
           |       length(p) AS len, nodes(p) AS path;""".stripMargin)(s, dir)
        .withColumn("path", array_join(col("path").cast("array<string>"), "-"))
    },
      """WITH r AS (
        |  SELECT n_nationkey, n_regionkey,
        |         row_number() OVER (PARTITION BY n_regionkey
        |                            ORDER BY n_nationkey) AS rk
        |  FROM nation)
        |SELECT a.n_nationkey AS ak, b.n_nationkey AS bk,
        |       CAST(b.rk - a.rk AS BIGINT) AS len,
        |       (SELECT string_agg(CAST(m.n_nationkey AS VARCHAR), '-'
        |                          ORDER BY m.rk)
        |        FROM r m WHERE m.n_regionkey = a.n_regionkey
        |          AND m.rk BETWEEN a.rk AND b.rk) AS path
        |FROM r a JOIN r b ON a.n_regionkey = b.n_regionkey
        |WHERE b.rk - a.rk BETWEEN 1 AND 4""".stripMargin),

    // pattern predicate under NOT ⇒ left anti join (extension): customers
    // not from NATION_7 — the unbound endpoint carries an inline prop filter,
    // so the anti-joined pair set is pre-restricted by a nested semi-join
    GateEntry("q_not_exists", cy(
      """MATCH (c:Customer) WHERE NOT (c)-[:FROM_NATION]->({n_name: 'NATION_7'})
        |RETURN c.c_custkey AS c_custkey, c.c_mktsegment AS seg;""".stripMargin),
      """SELECT c_custkey, c_mktsegment AS seg FROM customer
        |WHERE c_nationkey NOT IN
        |      (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_7')""".stripMargin),

    // positive pattern predicate ⇒ left semi join: nations with at least
    // one supplier
    GateEntry("q_exists", cy(
      """MATCH (n:Nation) WHERE (:Supplier)-[:SUPP_NATION]->(n)
        |RETURN n.n_name AS n_name;""".stripMargin),
      """SELECT n_name FROM nation
        |WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)""".stripMargin),

    // braced EXISTS { } subquery (extension): named subquery alias + WHERE
    // filter on it, desugared onto the same semi-join machinery
    GateEntry("q_exists_sub", cy(
      """MATCH (n:Nation) WHERE EXISTS { MATCH (s:Supplier)-[:SUPP_NATION]->(n)
        |WHERE s.s_acctbal > 5000.0 } RETURN n.n_name AS n_name;""".stripMargin),
      """SELECT n_name FROM nation
        |WHERE n_nationkey IN
        |      (SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000.0)""".stripMargin),

    // COUNT { } projection subquery (extension): per-row pattern count via
    // a grouped count left-joined back (0 for nations with no match)
    GateEntry("q_count_sub", cy(
      """MATCH (n:Nation) RETURN n.n_name AS n_name,
        |COUNT { (s:Supplier)-[:SUPP_NATION]->(n) WHERE s.s_acctbal > 2500.0 }
        |AS suppliers;""".stripMargin),
      """SELECT n_name,
        |       (SELECT count(*) FROM supplier
        |        WHERE s_nationkey = n_nationkey AND s_acctbal > 2500.0) AS suppliers
        |FROM nation""".stripMargin),

    // pattern comprehension (extension): per-row projected match lists via
    // the COUNT { } grouped join with collect_list — [] for no matches;
    // the array column joins to one string for the driver's scalar hasher
    // (like q_collect), and size() over a second comprehension exercises
    // the list-value form
    GateEntry("q_pattern_comp", (s, dir) => {
      import org.apache.spark.sql.functions.{col, concat_ws}
      cy("""MATCH (n:Nation)
           |RETURN n.n_name AS n_name,
           |  [(sp:Supplier)-[:SUPP_NATION]->(n) WHERE sp.s_acctbal > 4000.0 | sp.s_name]
           |    AS snames,
           |  size([(c:Customer)-[:FROM_NATION]->(n) WHERE c.c_acctbal < 0.0 | c.c_custkey])
           |    AS poor;""".stripMargin)(s, dir)
        .withColumn("snames", concat_ws(",", col("snames")))
    },
      """SELECT n_name,
        |       coalesce(array_to_string(
        |         (SELECT list_sort(list(s_name)) FROM supplier
        |          WHERE s_nationkey = n_nationkey AND s_acctbal > 4000.0),
        |         ','), '') AS snames,
        |       CAST((SELECT count(*) FROM customer
        |             WHERE c_nationkey = n_nationkey AND c_acctbal < 0.0)
        |            AS INTEGER) AS poor
        |FROM nation""".stripMargin),

    // map projection c {.prop, key: expr} — a named struct; the gate
    // flattens its fields to scalar columns for the driver's hasher (the
    // Cypher surface itself returns the struct value)
    // postfix list subscript/slice + struct-field subscript — 0-based,
    // negative from the end, from-inclusive/to-exclusive slices (array
    // column joins to a string for the driver's hasher)
    GateEntry("q_list_index", (s, dir) => {
      import org.apache.spark.sql.functions.{col, concat_ws, transform => tfm}
      cy("""MATCH (n:Nation)
           |RETURN n.n_nationkey AS k,
           |       range(0, n.n_nationkey + 3)[2] AS third,
           |       range(0, n.n_nationkey + 3)[-1] AS last_el,
           |       range(0, n.n_nationkey + 3)[1..3] AS mid,
           |       split(n.n_name, '_')[1] AS tag,
           |       properties(n)['n_name'] AS pname;""".stripMargin)(s, dir)
        .withColumn("mid", concat_ws(",", tfm(col("mid"), _.cast("string"))))
    },
      """WITH t AS (
        |  SELECT n_nationkey AS k, n_name,
        |         range(0, n_nationkey + 4) AS r
        |  FROM nation)
        |SELECT k, r[3] AS third, r[-1] AS last_el,
        |       array_to_string(r[2:3], ',') AS mid,
        |       string_split(n_name, '_')[2] AS tag,
        |       n_name AS pname
        |FROM t""".stripMargin),

    // properties(r) on an ADJ-INDEXED relationship: the expansion must
    // force the edge-list path (the index carries only endpoints — the
    // latent bug this entry pins); struct flattened for the hasher
    GateEntry("q_rel_props", (s, dir) => {
      import org.apache.spark.sql.functions.col
      cy("""MATCH (c:Customer)-[r:PLACED]->(o:Order)
           |WHERE o.o_orderkey % 500 = 0
           |RETURN o.o_orderkey AS k, properties(r) AS p;""".stripMargin)(s, dir)
        .select(col("k"), col("p.o_orderdate").cast("date").cast("string")
          .as("odate"))
    },
      """SELECT o_orderkey AS k, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate
        |FROM orders WHERE o_orderkey % 500 = 0""".stripMargin),

    GateEntry("q_map_proj", (s, dir) => {
      import org.apache.spark.sql.functions.col
      cy("""MATCH (c:Customer) WHERE c.c_custkey % 100 = 0
           |RETURN c.c_custkey AS k,
           |       c {.c_name, .c_acctbal, seg: c.c_mktsegment,
           |          bal2: c.c_acctbal * 2} AS m;""".stripMargin)(s, dir)
        .select(col("k"), col("m.c_name").as("name"),
          col("m.c_acctbal").as("bal"), col("m.seg").as("seg"),
          col("m.bal2").as("bal2"))
    },
      """SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal,
        |       c_mktsegment AS seg, c_acctbal * 2 AS bal2
        |FROM customer WHERE c_custkey % 100 = 0""".stripMargin),

    // map projection on a RELATIONSHIP alias — `.*` spreads the rel's
    // property columns (endpoint keys excluded); flattened for the hasher
    GateEntry("q_map_proj_rel", (s, dir) => {
      import org.apache.spark.sql.functions.col
      cy("""MATCH (a:Nation)-[r:NATION_ADJ]->(b:Nation)
           |RETURN a.n_nationkey AS ak, b.n_nationkey AS bk,
           |       r {.*, d2: r.n_dist * 2} AS m;""".stripMargin)(s, dir)
        .select(col("ak"), col("bk"), col("m.n_dist").as("dist"),
          col("m.d2").as("d2"))
    },
      """SELECT a.n_nationkey AS ak, b.n_nationkey AS bk,
        |       b.n_nationkey - a.n_nationkey AS dist,
        |       (b.n_nationkey - a.n_nationkey) * 2 AS d2
        |FROM nation a JOIN nation b
        |  ON a.n_regionkey = b.n_regionkey
        | AND a.n_nationkey < b.n_nationkey""".stripMargin),

    // collect() list aggregate (Cypher extension; the reference's engine
    // would map it to a grouped-array aggregate). Parallel aggregation
    // gives no stable element order, so the gate entry sorts and joins the
    // list into one scalar string the driver's pandas checker can hash —
    // the Cypher surface itself returns the array.
    GateEntry("q_collect", (s, dir) => {
      import org.apache.spark.sql.functions.{array_join, col, sort_array}
      TpchGraph.session(s, dir).cypher(
        """MATCH (n:Nation)-[:IN_REGION]->(r:Region)
          |RETURN r.r_name AS r_name, collect(n.n_name) AS names,
          |       count(*) AS cnt;""".stripMargin)
        .withColumn("names", array_join(sort_array(col("names")), ","))
    },
      """SELECT r_name, array_to_string(list_sort(list(n_name)), ',') AS names,
        |       count(*) AS cnt
        |FROM nation JOIN region ON r_regionkey = n_regionkey
        |GROUP BY r_name""".stripMargin),

    // Cypher string predicates (STARTS WITH / ENDS WITH / CONTAINS) and
    // the =~ regex operator (openCypher FULL-string match — anchored at
    // compile time, mirrored by the oracle's regexp_full_match)
    GateEntry("q_string_pred", cy(
      """MATCH (c:Customer)
        |WHERE c.c_name STARTS WITH 'Customer#' AND c.c_name ENDS WITH '7'
        |  AND c.c_mktsegment CONTAINS 'ING'
        |RETURN c.c_custkey AS k, c.c_name AS name,
        |       c.c_name =~ '.*17' AS rx;""".stripMargin),
      """SELECT c_custkey AS k, c_name AS name, regexp_full_match(c_name, '.*17') AS rx
        |FROM customer
        |WHERE c_name LIKE 'Customer#%' AND c_name LIKE '%7'
        |  AND c_mktsegment LIKE '%ING%'""".stripMargin),

    // scalar string-function registry
    GateEntry("q_string_fns", cy(
      """MATCH (c:Customer) WHERE c.c_custkey % 50 = 0
        |RETURN c.c_custkey AS k, toUpper(c.c_name) AS un,
        |       substring(c.c_name, 1, 4) AS pre, right(c.c_name, 3) AS suf,
        |       length(c.c_name) AS len;""".stripMargin),
      """SELECT c_custkey AS k, upper(c_name) AS un, substring(c_name, 1, 4) AS pre,
        |right(c_name, 3) AS suf, CAST(length(c_name) AS INTEGER) AS len
        |FROM customer WHERE c_custkey % 50 = 0""".stripMargin),

    // scalar math-function registry (IEEE-exact ops only — no rounding
    // boundary sensitivity)
    GateEntry("q_math_fns", cy(
      """MATCH (o:Order) WHERE o.o_orderkey % 100 = 0
        |RETURN o.o_orderkey AS k, sqrt(o.o_totalprice) AS sq,
        |       floor(o.o_totalprice) AS fl, ceil(o.o_totalprice) AS ce,
        |       abs(o.o_totalprice - 1000.0) AS ab;""".stripMargin),
      """SELECT o_orderkey AS k, sqrt(o_totalprice) AS sq,
        |CAST(floor(o_totalprice) AS BIGINT) AS fl,
        |CAST(ceil(o_totalprice) AS BIGINT) AS ce,
        |abs(o_totalprice - 1000.0) AS ab
        |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin),

    // RETURN DISTINCT
    GateEntry("q_return_distinct", cy(
      "MATCH (c:Customer) RETURN DISTINCT c.c_mktsegment AS seg;"),
      "SELECT DISTINCT c_mktsegment AS seg FROM customer"),

    // undirected hop between DIFFERENT labels: orientation resolved from
    // the relationship schema (no union needed)
    GateEntry("q_undirected_hetero", cy(
      """MATCH (c:Customer)-[:PLACED]-(o:Order) WHERE c.c_mktsegment = 'MACHINERY'
        |RETURN count(*) AS cnt;""".stripMargin),
      """SELECT count(*) AS cnt FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'MACHINERY'""".stripMargin),

    // bounded var-length hop (extension; distinct-pair reachability)
    GateEntry("q_varlen", cy(
      """MATCH (a:Nation)-[:NATION_ADJ*1..2]->(b:Nation)
        |RETURN a.n_nationkey AS a_id, b.n_nationkey AS b_id;""".stripMargin),
      """WITH e AS (
        |  SELECT n1.n_nationkey AS f, n2.n_nationkey AS t
        |  FROM nation n1 JOIN nation n2
        |    ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey),
        |h2 AS (SELECT e1.f, e2.t FROM e e1 JOIN e e2 ON e1.t = e2.f),
        |u AS (SELECT f, t FROM e UNION SELECT f, t FROM h2)
        |SELECT f AS a_id, t AS b_id FROM u""".stripMargin),

    // [:A|B] type alternation: one hop over the UNION of two edge tables
    // sharing endpoint labels; type(r) is the per-row branch tag, and the
    // aggregate runs over the unioned pattern, not per branch
    GateEntry("q_alt_types", cy(
      """MATCH (a:Nation)-[r:NATION_NEXT|NATION_ADJ]->(b:Nation)
        |RETURN a.n_nationkey AS a_key, count(*) AS deg,
        |       sum(CASE WHEN type(r) = 'NATION_ADJ' THEN 1 ELSE 0 END)
        |         AS adj_edges;""".stripMargin),
      """WITH adj AS (
        |  SELECT CAST(n1.n_nationkey AS BIGINT) AS f, 1 AS is_adj
        |  FROM nation n1 JOIN nation n2
        |    ON n1.n_regionkey = n2.n_regionkey
        |   AND n1.n_nationkey < n2.n_nationkey),
        |nxt AS (
        |  SELECT CAST(n1.n_nationkey AS BIGINT) AS f, 0 AS is_adj
        |  FROM nation n1 JOIN nation n2
        |    ON n1.n_regionkey = n2.n_regionkey
        |   AND n2.n_nationkey > n1.n_nationkey
        |  GROUP BY n1.n_nationkey),
        |u AS (SELECT * FROM adj UNION ALL SELECT * FROM nxt)
        |SELECT f AS a_key, count(*) AS deg,
        |       CAST(sum(is_adj) AS BIGINT) AS adj_edges
        |FROM u GROUP BY f""".stripMargin),

    // OPTIONAL MATCH (left-outer semantics; WHERE joins the ON condition)
    GateEntry("q_optional", cy(
      """MATCH (c:Customer)
        |OPTIONAL MATCH (c)-[:PLACED]->(o:Order) WHERE o.o_totalprice > 100000.0
        |RETURN c.c_custkey AS ck, count(o) AS cnt;""".stripMargin),
      """SELECT c_custkey AS ck, count(o_orderkey) AS cnt FROM customer
        |LEFT JOIN orders ON o_custkey = c_custkey AND o_totalprice > 100000.0
        |GROUP BY c_custkey""".stripMargin),

    // WITH carrying a node binding + second aggregation over it
    GateEntry("q_with_carry", cy(
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |WITH c, count(o) AS cnt WHERE cnt >= 15
        |RETURN c.c_mktsegment AS seg, count(*) AS n, max(cnt) AS mx;""".stripMargin),
      """SELECT c_mktsegment AS seg, count(*) AS n, max(cnt) AS mx FROM (
        |  SELECT c_custkey, c_mktsegment, count(*) AS cnt FROM customer
        |  JOIN orders ON o_custkey = c_custkey
        |  GROUP BY c_custkey, c_mktsegment HAVING count(*) >= 15)
        |GROUP BY c_mktsegment""".stripMargin),
  )
}
