package graft.gate

import org.apache.spark.sql.functions._

import graft.fixtures.TpchGraph
import graft.graph.GraphAlgorithms

/** `g_` gate entries: [[graft.graph.GraphAlgorithms]] over the TPC-H graph
  * fixtures, each beside its DuckDB mirror (fixed-iteration loops unrolled
  * into CTE chains, closures as recursive CTEs). */
private[gate] object GraphGates {

  def entries: Seq[GateEntry] = Seq(
    // connected components (min-label rounds) over the same-label
    // NATION_ADJ edge list; component id = min member id ⇒ SQL-oracle-checkable
    GateEntry("g_concomp", (s, dir) =>
      GraphAlgorithms.connectedComponents(TpchGraph.session(s, dir), "NATION_ADJ"),
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |       CAST(MIN(n_nationkey) OVER (PARTITION BY n_regionkey) AS BIGINT) AS component
        |FROM nation""".stripMargin),

    // static PageRank, fixed 10 iterations — oracle-checked against
    // an unrolled-iteration DuckDB mirror; ranks rounded to 6 dp, putting
    // the ~1e-15 message-sum-order noise nine orders of magnitude below
    // the rounding quantum (a rank sitting exactly on a 5e-7 boundary
    // could still flip in principle — measure-zero in practice)
    GateEntry("g_pagerank", (s, dir) =>
      GraphAlgorithms.pageRank(TpchGraph.session(s, dir), "NATION_ADJ")
        .withColumn("rank", round(col("rank"), 6)),
      // DuckDB mirror of [[GraphAlgorithms.pageRank]] on the NATION_ADJ edge list:
      // ranks start at 1.0 and iterate rank = 0.15 + 0.85·Σ(in-rank/out-deg)
      // — unrolled to `iters` chained CTEs (no recursion needed for a fixed
      // iteration count), then normalized so ranks sum to the vertex count
      // (the SPARK-18847 sink correction the engine applies). All
      // arithmetic forced to DOUBLE (DuckDB defaults numeric literals to
      // DECIMAL).
      {
        val iters = 10
        val steps = (1 to iters).map { i =>
          s"""p$i AS (
             |  SELECT v.id, CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * COALESCE(m.s, 0) AS rank
             |  FROM v LEFT JOIN (
             |    SELECT e.t AS id, sum(p${i - 1}.rank / d.dout) AS s
             |    FROM e JOIN p${i - 1} ON p${i - 1}.id = e.f JOIN d ON d.f = e.f
             |    GROUP BY e.t) m ON m.id = v.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (
           |  SELECT CAST(n1.n_nationkey AS BIGINT) AS f, CAST(n2.n_nationkey AS BIGINT) AS t
           |  FROM nation n1 JOIN nation n2
           |    ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey),
           |d AS (SELECT f, count(*) AS dout FROM e GROUP BY f),
           |v AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation),
           |p0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM v),
           |$steps,
           |tot AS (SELECT sum(rank) AS s, count(*) AS n FROM p$iters)
           |SELECT id, round(rank * tot.n / tot.s, 6) AS rank FROM p$iters, tot""".stripMargin
      }),

    // degree distribution from the edge list — oracle-checked
    GateEntry("g_degrees", (s, dir) =>
      GraphAlgorithms.degrees(TpchGraph.session(s, dir), "NATION_ADJ"),
      """WITH e AS (
        |  SELECT n1.n_nationkey AS f, n2.n_nationkey AS t
        |  FROM nation n1 JOIN nation n2
        |    ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey),
        |o AS (SELECT CAST(f AS BIGINT) AS id, count(*) AS out_degree FROM e GROUP BY 1),
        |i AS (SELECT CAST(t AS BIGINT) AS id, count(*) AS in_degree FROM e GROUP BY 1)
        |SELECT COALESCE(o.id, i.id) AS id,
        |       COALESCE(out_degree, 0) AS out_degree,
        |       COALESCE(in_degree, 0) AS in_degree
        |FROM o FULL OUTER JOIN i ON o.id = i.id""".stripMargin),

    // per-vertex triangle count over NATION_ADJ (each region is a
    // K5 clique ⇒ 6 per vertex) — oracle-checked against a triangle-
    // enumeration CTE
    // synchronous label propagation (5 fixed rounds, min-label ties) on
    // the banded subgraph; per-region communities converge to the
    // region's smallest nation key — oracle: unrolled-iteration CTEs
    GateEntry("g_labelprop", (s, dir) =>
      GraphAlgorithms.labelPropagation(
        TpchGraph.session(s, dir), "NATION_ADJ", iters = 5,
        edgePred = Some(col("n_dist") <= 10)),
      // Unrolled synchronous label propagation: each level joins neighbor
      // labels, takes the (count DESC, label ASC) mode per vertex, and
      // coalesces to the previous label — the exact Spark rule.
      {
        val iters = 5
        s"""WITH ${labelPropCtesSql(iters)}
           |SELECT id, label FROM l$iters""".stripMargin
      }),

    // per-edge link-prediction features (common neighbors / Jaccard /
    // Adamic-Adar) on the banded subgraph — oracle-checked
    GateEntry("g_linkpred", (s, dir) =>
      GraphAlgorithms.linkFeatures(
        TpchGraph.session(s, dir), "NATION_ADJ", Some(col("n_dist") <= 10)),
      """WITH e AS (
        |  SELECT CAST(n1.n_nationkey AS BIGINT) AS a,
        |         CAST(n2.n_nationkey AS BIGINT) AS b
        |  FROM nation n1 JOIN nation n2
        |    ON n1.n_regionkey = n2.n_regionkey
        |   AND n1.n_nationkey < n2.n_nationkey
        |   AND n2.n_nationkey - n1.n_nationkey <= 10),
        |und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT a AS id, count(*) AS deg FROM und GROUP BY a),
        |w AS (SELECT x.a AS pa, y.a AS pb, x.b AS cw
        |      FROM und x JOIN und y ON x.b = y.b AND x.a < y.a),
        |ov AS (SELECT pa, pb, count(*) AS common,
        |              list_sum(list_sort(list(1.0 / ln(CAST(d.deg AS DOUBLE)))))
        |                AS aa
        |       FROM w JOIN deg d ON d.id = w.cw GROUP BY pa, pb)
        |SELECT e.a, e.b,
        |       CAST(coalesce(common, 0) AS BIGINT) AS common,
        |       round(CAST(coalesce(common, 0) AS DOUBLE)
        |             / (da.deg + db.deg - coalesce(common, 0)), 6) AS jaccard,
        |       round(coalesce(aa, 0.0), 6) AS adamic_adar
        |FROM e LEFT JOIN ov ON ov.pa = e.a AND ov.pb = e.b
        |JOIN deg da ON da.id = e.a
        |JOIN deg db ON db.id = e.b""".stripMargin),

    // local clustering coefficient on the n_dist<=10 NATION_ADJ subgraph
    // (the full per-region graph is complete — cc 1.0 everywhere — so the
    // filtered band graph gives the oracle varied degrees/triangles)
    GateEntry("g_clustcoef", (s, dir) =>
      GraphAlgorithms.clusteringCoefficient(
        TpchGraph.session(s, dir), "NATION_ADJ", Some(col("n_dist") <= 10)),
      // triangle enumeration over the canonical (f < t) edge set: each
      // triangle a<b<c found once, per-vertex count = appearances in any
      // corner; vertices with edges but no triangles still get a 0 row
      // (the vertex set = edge endpoints)
      """WITH e AS (
        |  SELECT n1.n_nationkey AS a, n2.n_nationkey AS b
        |  FROM nation n1 JOIN nation n2
        |    ON n1.n_regionkey = n2.n_regionkey
        |   AND n1.n_nationkey < n2.n_nationkey
        |   AND n2.n_nationkey - n1.n_nationkey <= 10),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |m AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
        |      UNION ALL SELECT z FROM tri),
        |tc AS (SELECT id, count(*) AS triangles FROM m GROUP BY id),
        |deg AS (SELECT id, count(*) AS degree FROM
        |        (SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id)
        |SELECT CAST(deg.id AS BIGINT) AS id,
        |       CAST(degree AS BIGINT) AS degree,
        |       CAST(coalesce(triangles, 0) AS BIGINT) AS triangles,
        |       CASE WHEN degree >= 2
        |            THEN round(2.0 * coalesce(triangles, 0)
        |                       / (degree * (degree - 1)), 6)
        |            ELSE 0.0 END AS cc
        |FROM deg LEFT JOIN tc ON tc.id = deg.id""".stripMargin),

    GateEntry("g_triangles", (s, dir) =>
      GraphAlgorithms.triangleCount(TpchGraph.session(s, dir), "NATION_ADJ"),
      """WITH e AS (
        |  SELECT n1.n_nationkey AS f, n2.n_nationkey AS t
        |  FROM nation n1 JOIN nation n2
        |    ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey),
        |tri AS (
        |  SELECT e1.f AS a, e1.t AS b, e2.t AS c
        |  FROM e e1 JOIN e e2 ON e2.f = e1.t
        |  JOIN e e3 ON e3.f = e1.f AND e3.t = e2.t),
        |m AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri),
        |verts AS (SELECT f AS id FROM e UNION SELECT t AS id FROM e),
        |cnt AS (SELECT id, count(*) AS triangles FROM m GROUP BY id)
        |SELECT CAST(verts.id AS BIGINT) AS id,
        |       CAST(COALESCE(cnt.triangles, 0) AS BIGINT) AS triangles
        |FROM verts LEFT JOIN cnt ON cnt.id = verts.id""".stripMargin),

    // frontier-BFS shortest paths (hop counts) to fixed landmarks over
    // the sparse NATION_NEXT successor chain — oracle-checked against a
    // recursive-CTE BFS. Distances follow edge direction (v → … → lm).
    GateEntry("g_shortest", (s, dir) =>
      GraphAlgorithms.shortestPaths(TpchGraph.session(s, dir), "NATION_NEXT",
        Seq(24L, 10L, 3L)),
      """WITH RECURSIVE nxt AS (
        |  SELECT n1.n_nationkey AS f, min(n2.n_nationkey) AS t
        |  FROM nation n1 JOIN nation n2
        |    ON n1.n_regionkey = n2.n_regionkey AND n2.n_nationkey > n1.n_nationkey
        |  GROUP BY n1.n_nationkey),
        |bfs AS (
        |  SELECT CAST(lm AS BIGINT) AS id, CAST(lm AS BIGINT) AS landmark,
        |         0 AS dist
        |  FROM (VALUES (24), (10), (3)) t(lm)
        |  UNION ALL
        |  SELECT CAST(nxt.f AS BIGINT), bfs.landmark, bfs.dist + 1
        |  FROM bfs JOIN nxt ON CAST(nxt.t AS BIGINT) = bfs.id)
        |SELECT id, landmark, CAST(dist AS BIGINT) AS distance FROM bfs""".stripMargin),

    // weighted shortest paths: min-plus over NATION_ADJ's n_dist weights,
    // bounded hops (oracle: recursive CTE walk + final min)
    GateEntry("g_wshortest", (s, dir) =>
      GraphAlgorithms.weightedShortestPaths(TpchGraph.session(s, dir),
        "NATION_ADJ", "n_dist", Seq(24L, 10L), maxHops = 4),
      // BFS from each landmark expanding BACKWARD along the successor
      // chain (shortestPaths messages flow dst→src, so a vertex's
      // distance is the directed hop count v → … → landmark); the chain
      // next() is a function so each (id, landmark) appears exactly once
      """WITH RECURSIVE e AS (
        |  SELECT a.n_nationkey AS f, b.n_nationkey AS t,
        |         CAST(b.n_nationkey - a.n_nationkey AS DOUBLE) AS w
        |  FROM nation a JOIN nation b
        |    ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey),
        |walk AS (
        |  SELECT f AS id, t AS landmark, w AS dist, 1 AS hops
        |  FROM e WHERE t IN (24, 10)
        |  UNION ALL
        |  SELECT e.f, walk.landmark, e.w + walk.dist, walk.hops + 1
        |  FROM e JOIN walk ON e.t = walk.id WHERE walk.hops < 4)
        |SELECT CAST(id AS BIGINT) AS id, CAST(landmark AS BIGINT) AS landmark,
        |       min(dist) AS dist
        |FROM (SELECT id, landmark, dist FROM walk
        |      UNION ALL
        |      SELECT lm, lm, 0.0 FROM (VALUES (24), (10)) t(lm))
        |GROUP BY id, landmark""".stripMargin),

    // 2-core of the even-gap NATION_ADJ subgraph — the one filter (of the
    // band/parity family) whose peel is PARTIAL at the gate: 15 of 25
    // nations survive and the removals cascade, so the oracle checks real
    // peel rounds, not a no-op or an empty set; oracle: unrolled peel
    // CTEs, identical fixed-round semantics since peeling is idempotent
    // after convergence
    GateEntry("g_kcore", (s, dir) =>
      GraphAlgorithms.kCore(TpchGraph.session(s, dir), "NATION_ADJ", k = 2,
        maxRounds = 8, edgePred = Some(col("n_dist") % 2 === 0)),
      // DuckDB mirror of [[GraphAlgorithms.kCore]]: `rounds` unrolled peel
      // CTEs over the symmetric banded edge list — each round keeps edges
      // whose BOTH endpoints still have degree >= k. Peeling is idempotent
      // once converged, so a fixed unroll that covers convergence equals the
      // Spark side's early-exit loop exactly. Rounds are MATERIALIZED:
      // each references its predecessor three times, and DuckDB's default
      // CTE inlining would otherwise expand the base scan 3^rounds times
      // (observed as fd exhaustion, the same doubling an iterative DataFrame
      // plan hits; the Spark side runs RDD rounds).
      {
        val k = 2
        val rounds = 8
        val steps = (1 to rounds).map { i =>
          s"""c$i AS MATERIALIZED (
             |  SELECT u.a, u.b FROM c${i - 1} u
             |  WHERE u.a IN (SELECT a FROM c${i - 1} GROUP BY a
             |                HAVING count(*) >= $k)
             |    AND u.b IN (SELECT a FROM c${i - 1} GROUP BY a
             |                HAVING count(*) >= $k))""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (
           |  SELECT CAST(n1.n_nationkey AS BIGINT) AS a,
           |         CAST(n2.n_nationkey AS BIGINT) AS b
           |  FROM nation n1 JOIN nation n2
           |    ON n1.n_regionkey = n2.n_regionkey
           |   AND n1.n_nationkey < n2.n_nationkey
           |   AND (n2.n_nationkey - n1.n_nationkey) % 2 = 0),
           |c0 AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
           |$steps
           |SELECT a AS id, count(*) AS degree FROM c$rounds GROUP BY a""".stripMargin
      }),

    // HITS over directed NATION_ADJ (key<key DAG ⇒ region-min nations are
    // pure hubs, region-max pure authorities) — oracle: unrolled
    // normalize-per-half-step CTEs, 6-dp rounded like g_pagerank
    GateEntry("g_hits", (s, dir) =>
      GraphAlgorithms.hits(TpchGraph.session(s, dir), "NATION_ADJ",
        iters = 10),
      // DuckDB mirror of [[GraphAlgorithms.hits]]: the identical
      // UNNORMALIZED power iteration (authority = sum of in-neighbor hubs,
      // hub = sum of out-neighbor authorities, sparse frames), L1-normalized
      // once at the end over the edge-defined vertex set with COALESCE(0)
      // for missing sides, 6-dp rounded. Per-round CTEs are MATERIALIZED so
      // DuckDB evaluates each round once rather than inlining the chain.
      {
        val iters = 10
        val steps = (1 to iters).map { i =>
          s"""a$i AS MATERIALIZED (
             |  SELECT e.t AS id, sum(h${i - 1}.hub) AS authority
             |  FROM e JOIN h${i - 1} ON h${i - 1}.id = e.f GROUP BY e.t),
             |h$i AS MATERIALIZED (
             |  SELECT e.f AS id, sum(a$i.authority) AS hub
             |  FROM e JOIN a$i ON a$i.id = e.t GROUP BY e.f)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (
           |  SELECT DISTINCT CAST(n1.n_nationkey AS BIGINT) AS f,
           |         CAST(n2.n_nationkey AS BIGINT) AS t
           |  FROM nation n1 JOIN nation n2
           |    ON n1.n_regionkey = n2.n_regionkey
           |   AND n1.n_nationkey < n2.n_nationkey),
           |v AS (SELECT f AS id FROM e UNION SELECT t FROM e),
           |h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM v),
           |$steps,
           |ht AS (SELECT sum(hub) AS s FROM h$iters),
           |at AS (SELECT sum(authority) AS s FROM a$iters)
           |SELECT v.id,
           |       round(COALESCE(h.hub / ht.s, 0.0), 6) AS hub,
           |       round(COALESCE(a.authority / at.s, 0.0), 6) AS authority
           |FROM v
           |LEFT JOIN h$iters h ON h.id = v.id
           |LEFT JOIN a$iters a ON a.id = v.id, ht, at""".stripMargin
      }),

    // deterministic seeded random walks over directed NATION_ADJ (walks
    // stop at region-max sinks) — oracle: unrolled step joins computing
    // the identical LCG step mix in BIGINT arithmetic
    GateEntry("g_walks", (s, dir) =>
      GraphAlgorithms.randomWalks(TpchGraph.session(s, dir), "NATION_ADJ",
        walkLen = 4, walksPerNode = 2, seed = 42L),
      // DuckDB mirror of [[GraphAlgorithms.randomWalks]]: ranked adjacency
      // (row_number by neighbor id), then `walkLen` unrolled step joins
      // computing the identical LCG mix in BIGINT arithmetic. Constants are
      // spliced from the same [[GraphAlgorithms]] fields the Spark side
      // uses, so the two engines cannot drift.
      {
        val walkLen = 4
        val walksPerNode = 2
        val seed: Long = 42L
        import GraphAlgorithms.{WalkMixMod, WalkMixNode, WalkMixPrime,
          WalkMixRep, WalkMixStart, WalkMixStep}
        val steps = (1 to walkLen).map { i =>
          s"""w$i AS (
             |  SELECT w.start, w.rep, CAST($i AS BIGINT) AS step, adj.t AS node
             |  FROM w${i - 1} w
             |  JOIN dg ON dg.f = w.node
             |  JOIN adj ON adj.f = w.node
             |   AND adj.idx = (((w.node % $WalkMixPrime) * $WalkMixNode
             |     + (w.start % $WalkMixPrime) * $WalkMixStart
             |     + w.rep * $WalkMixRep
             |     + CAST($i AS BIGINT) * $WalkMixStep
             |     + $seed) % $WalkMixMod) % dg.deg)""".stripMargin
        }.mkString(",\n")
        val all = (0 to walkLen).map(i => s"SELECT * FROM w$i")
          .mkString("\n", "\nUNION ALL ", "")
        s"""WITH e AS (
           |  SELECT DISTINCT CAST(n1.n_nationkey AS BIGINT) AS f,
           |         CAST(n2.n_nationkey AS BIGINT) AS t
           |  FROM nation n1 JOIN nation n2
           |    ON n1.n_regionkey = n2.n_regionkey
           |   AND n1.n_nationkey < n2.n_nationkey),
           |adj AS (
           |  SELECT f, t,
           |         CAST(row_number() OVER (PARTITION BY f ORDER BY t) - 1
           |              AS BIGINT) AS idx
           |  FROM e),
           |dg AS (SELECT f, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY f),
           |v AS (SELECT f AS id FROM e UNION SELECT t FROM e),
           |w0 AS (
           |  SELECT v.id AS start, CAST(r.rep AS BIGINT) AS rep,
           |         CAST(0 AS BIGINT) AS step, v.id AS node
           |  FROM v CROSS JOIN
           |    (SELECT unnest(range(0, $walksPerNode)) AS rep) r),
           |$steps
           |SELECT start, rep, step, node FROM ($all)""".stripMargin
      }),

    // personalized PageRank from two sources over the sparse NATION_NEXT
    // successor chain (rank decays geometrically downstream of each
    // source; off-chain nations stay exactly 0) — oracle: unrolled
    // rounds with the identical source-teleport formula
    GateEntry("g_ppr", (s, dir) =>
      GraphAlgorithms.personalizedPageRank(TpchGraph.session(s, dir),
        "NATION_NEXT", sourceIds = Seq(0L, 10L), iters = 10),
      // DuckDB mirror of [[GraphAlgorithms.personalizedPageRank]] over the
      // NATION_NEXT successor chain: identical explicit formula — r₀ = s,
      // rᵢ = (1−resetProb)·Σ in-contributions + resetProb·s — with the
      // constants pre-folded in Scala and spliced as their shortest
      // round-trip decimal repr, so both engines parse the SAME doubles.
      // Rank frames stay sparse (FULL JOIN with the source rows); the final
      // select fills the edge-defined vertex set with exact zeros.
      {
        val sources: Seq[Long] = Seq(0L, 10L)
        val iters = 10
        val resetProb: Double = 0.15
        val sprob = 1.0 / sources.size
        val oneMinus = 1.0 - resetProb
        val vals = sources.map(s => s"($s, $sprob)").mkString(", ")
        val steps = (1 to iters).map { i =>
          s"""r$i AS MATERIALIZED (
             |  SELECT COALESCE(m.id, s.id) AS id,
             |         $oneMinus * COALESCE(m.ms, 0)
             |           + $resetProb * COALESCE(s.sprob, 0) AS rank
             |  FROM (SELECT e.t AS id, sum(r${i - 1}.rank / d.deg) AS ms
             |        FROM e JOIN r${i - 1} ON r${i - 1}.id = e.f
             |        JOIN d ON d.f = e.f
             |        GROUP BY e.t) m
             |  FULL JOIN s ON s.id = m.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (
           |  SELECT CAST(n1.n_nationkey AS BIGINT) AS f,
           |         CAST(min(n2.n_nationkey) AS BIGINT) AS t
           |  FROM nation n1 JOIN nation n2
           |    ON n1.n_regionkey = n2.n_regionkey
           |   AND n2.n_nationkey > n1.n_nationkey
           |  GROUP BY n1.n_nationkey),
           |d AS (SELECT f, count(*) AS deg FROM e GROUP BY f),
           |v AS (SELECT f AS id FROM e UNION SELECT t FROM e),
           |s AS (SELECT CAST(sid AS BIGINT) AS id, CAST(sp AS DOUBLE) AS sprob
           |      FROM (VALUES $vals) t(sid, sp)),
           |r0 AS (SELECT id, sprob AS rank FROM s),
           |$steps
           |SELECT v.id, round(COALESCE(r.rank, 0.0), 6) AS rank
           |FROM v LEFT JOIN r$iters r ON r.id = v.id""".stripMargin
      }),

    // node2vec-style biased walks (p=2 return-averse, q=0.5 exploratory)
    // over directed NATION_ADJ — oracle: unrolled candidate/cumulative-
    // weight CTEs computing the identical float arithmetic
    GateEntry("g_walks_biased", (s, dir) =>
      GraphAlgorithms.biasedRandomWalks(TpchGraph.session(s, dir),
        "NATION_ADJ", walkLen = 3, walksPerNode = 2, seed = 42L,
        p = 2.0, q = 0.5),
      // DuckDB mirror of [[GraphAlgorithms.biasedRandomWalks]]: ranked
      // adjacency + uniform first step, then per unrolled step a candidate
      // CTE (weights via the same CASE) and a pick CTE reproducing the
      // engine's float arithmetic exactly — sequential window cumsum,
      // `cum - w <= thresh < cum`, threshold = LCG fraction × total. The
      // 1/p and 1/q weights are folded in Scala and spliced, so both
      // engines parse identical doubles.
      {
        val walkLen = 3
        val walksPerNode = 2
        val seed: Long = 42L
        val p: Double = 2.0
        val q: Double = 0.5
        import GraphAlgorithms.{WalkMixMod, WalkMixNode, WalkMixPrime,
          WalkMixRep, WalkMixStart, WalkMixStep}
        val retW = 1.0 / p
        val farW = 1.0 / q
        def mixSql(nodeCol: String, step: Int): String =
          s"""((($nodeCol % $WalkMixPrime) * $WalkMixNode
             |     + (start % $WalkMixPrime) * $WalkMixStart
             |     + rep * $WalkMixRep
             |     + CAST($step AS BIGINT) * $WalkMixStep
             |     + $seed) % $WalkMixMod)""".stripMargin
        val steps = (2 to walkLen).map { s =>
          s"""c$s AS MATERIALIZED (
             |  SELECT fr.start, fr.rep, fr.prev, fr.node, adj.t AS x,
             |         CASE WHEN adj.t = fr.prev THEN $retW
             |              WHEN chk.t IS NOT NULL THEN 1.0
             |              ELSE $farW END AS w
             |  FROM f${s - 1} fr JOIN adj ON adj.f = fr.node
             |  LEFT JOIN e chk ON chk.f = fr.prev AND chk.t = adj.t),
             |f$s AS MATERIALIZED (
             |  SELECT start, rep, node AS prev, x AS node
             |  FROM (SELECT c.*,
             |          sum(w) OVER (PARTITION BY start, rep ORDER BY x) AS cum,
             |          sum(w) OVER (PARTITION BY start, rep) AS tot
             |        FROM c$s c)
             |  WHERE cum - w <= CAST(${mixSql("node", s)} AS DOUBLE)
             |          / 2147483647.0 * tot
             |    AND CAST(${mixSql("node", s)} AS DOUBLE)
             |          / 2147483647.0 * tot < cum)""".stripMargin
        }.mkString(",\n")
        val outs = (2 to walkLen)
          .map(s => s"SELECT start, rep, CAST($s AS BIGINT) AS step, node FROM f$s")
        val all = (Seq(
          "SELECT start, rep, CAST(0 AS BIGINT) AS step, node FROM w0",
          "SELECT start, rep, CAST(1 AS BIGINT) AS step, node FROM f1") ++ outs)
          .mkString("\n", "\nUNION ALL ", "")
        s"""WITH e AS (
           |  SELECT DISTINCT CAST(n1.n_nationkey AS BIGINT) AS f,
           |         CAST(n2.n_nationkey AS BIGINT) AS t
           |  FROM nation n1 JOIN nation n2
           |    ON n1.n_regionkey = n2.n_regionkey
           |   AND n1.n_nationkey < n2.n_nationkey),
           |adj AS (
           |  SELECT f, t,
           |         CAST(row_number() OVER (PARTITION BY f ORDER BY t) - 1
           |              AS BIGINT) AS idx
           |  FROM e),
           |dg AS (SELECT f, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY f),
           |vv AS (SELECT f AS id FROM e UNION SELECT t FROM e),
           |w0 AS (
           |  SELECT vv.id AS start, CAST(r.rep AS BIGINT) AS rep, vv.id AS node
           |  FROM vv CROSS JOIN
           |    (SELECT unnest(range(0, $walksPerNode)) AS rep) r),
           |f1 AS MATERIALIZED (
           |  SELECT w.start, w.rep, w.node AS prev, adj.t AS node
           |  FROM w0 w
           |  JOIN dg ON dg.f = w.node
           |  JOIN adj ON adj.f = w.node
           |   AND adj.idx = ${mixSql("w.node", 1)} % dg.deg),
           |$steps
           |SELECT start, rep, step, node FROM ($all)""".stripMargin
      }),

    // modularity of the labelprop communities on the banded subgraph —
    // two operators composing end-to-end, oracle re-derives both
    GateEntry("g_modularity", (s, dir) => {
      val gs = TpchGraph.session(s, dir)
      GraphAlgorithms.modularity(gs, "NATION_ADJ",
        GraphAlgorithms.labelPropagation(gs, "NATION_ADJ", iters = 5,
          edgePred = Some(col("n_dist") <= 10)),
        edgePred = Some(col("n_dist") <= 10))
    },
      // DuckDB mirror of [[GraphAlgorithms.modularity]] over the labelprop
      // communities: re-derives the same banded edges and label rounds, then
      // per-community internal edges / degree sums / Newman contribution.
      {
        val iters = 5
        s"""WITH ${labelPropCtesSql(iters)},
           |mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM e),
           |led AS (
           |  SELECT e.a, e.b, COALESCE(la.label, e.a) AS la,
           |         COALESCE(lb.label, e.b) AS lb
           |  FROM e LEFT JOIN l$iters la ON la.id = e.a
           |         LEFT JOIN l$iters lb ON lb.id = e.b),
           |ein AS (SELECT la AS community, CAST(count(*) AS BIGINT) AS internal_edges
           |        FROM led WHERE la = lb GROUP BY la),
           |ds AS (SELECT community, CAST(count(*) AS BIGINT) AS degree_sum
           |       FROM (SELECT la AS community FROM led
           |             UNION ALL SELECT lb FROM led) GROUP BY community)
           |SELECT ds.community,
           |       COALESCE(ein.internal_edges, 0) AS internal_edges,
           |       ds.degree_sum,
           |       round(COALESCE(ein.internal_edges, 0) / mm.m
           |             - power(ds.degree_sum / (2.0 * mm.m), 2), 6)
           |         AS contribution
           |FROM ds LEFT JOIN ein ON ein.community = ds.community, mm""".stripMargin
      }),

    // degree assortativity of the banded subgraph (varied degrees 2..4)
    GateEntry("g_assort", (s, dir) =>
      GraphAlgorithms.assortativity(TpchGraph.session(s, dir),
        "NATION_ADJ", Some(col("n_dist") <= 10)),
      """WITH e AS (
        |  SELECT CAST(n1.n_nationkey AS BIGINT) AS a,
        |         CAST(n2.n_nationkey AS BIGINT) AS b
        |  FROM nation n1 JOIN nation n2
        |    ON n1.n_regionkey = n2.n_regionkey
        |   AND n1.n_nationkey < n2.n_nationkey
        |   AND n2.n_nationkey - n1.n_nationkey <= 10),
        |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT a AS id, CAST(count(*) AS DOUBLE) AS d
        |        FROM sym GROUP BY a),
        |p AS (SELECT da.d AS x, db.d AS y
        |      FROM sym JOIN deg da ON da.id = sym.a
        |                JOIN deg db ON db.id = sym.b),
        |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x * y) AS sxy, sum(x * x) AS sxx,
        |             sum(y * y) AS syy FROM p)
        |SELECT CAST(n / 2 AS BIGINT) AS edges,
        |       round((n * sxy - sx * sy)
        |             / NULLIF(sqrt(n * sxx - sx * sx)
        |                      * sqrt(n * syy - sy * sy), 0.0),
        |             6) AS r
        |FROM s""".stripMargin),

    // full core decomposition on the even-gap subgraph (coreness 1 for
    // the parity-peeled 10 nations, 2 for the surviving 15) — oracle:
    // nested unroll (peel rounds within ascending k) mirroring the
    // incremental start-from-previous-core peel
    GateEntry("g_coreness", (s, dir) =>
      GraphAlgorithms.coreNumbers(TpchGraph.session(s, dir), "NATION_ADJ",
        maxK = 4, edgePred = Some(col("n_dist") % 2 === 0)),
      // DuckDB mirror of [[GraphAlgorithms.coreNumbers]] on the even-gap
      // subgraph: for each k (ascending), `rounds` unrolled peel CTEs
      // starting from the PREVIOUS k's survivors; the vertices each k-peel
      // removes get coreness k−1, and anything alive after maxK gets maxK —
      // the same incremental semantics as the engine loop. All iterated
      // CTEs are MATERIALIZED (3 predecessor references per round).
      {
        val maxK = 4
        val rounds = 8
        def peel(k: Int): String = {
          val steps = (1 to rounds).map { r =>
            val prev = if (r == 1) s"s${k - 1}" else s"c${k}_${r - 1}"
            s"""c${k}_$r AS MATERIALIZED (
               |  SELECT u.a, u.b FROM $prev u
               |  WHERE u.a IN (SELECT a FROM $prev GROUP BY a
               |                HAVING count(*) >= $k)
               |    AND u.b IN (SELECT a FROM $prev GROUP BY a
               |                HAVING count(*) >= $k))""".stripMargin
          }.mkString(",\n")
          s"""$steps,
             |s$k AS MATERIALIZED (SELECT a, b FROM c${k}_$rounds),
             |d$k AS MATERIALIZED (
             |  SELECT id, CAST(${k - 1} AS BIGINT) AS coreness FROM (
             |    SELECT DISTINCT a AS id FROM s${k - 1}
             |    EXCEPT SELECT DISTINCT a FROM s$k))""".stripMargin
        }
        val ks = (2 to maxK + 1).map(peel).mkString(",\n")
        val unions = ((2 to maxK + 1).map(k => s"SELECT * FROM d$k") :+
          s"""SELECT id, CAST($maxK AS BIGINT) AS coreness
             |FROM (SELECT DISTINCT a AS id FROM s${maxK + 1})""".stripMargin)
          .mkString("\nUNION ALL ")
        s"""WITH e AS (
           |  SELECT CAST(n1.n_nationkey AS BIGINT) AS a,
           |         CAST(n2.n_nationkey AS BIGINT) AS b
           |  FROM nation n1 JOIN nation n2
           |    ON n1.n_regionkey = n2.n_regionkey
           |   AND n1.n_nationkey < n2.n_nationkey
           |   AND (n2.n_nationkey - n1.n_nationkey) % 2 = 0),
           |s1 AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
           |$ks
           |$unions""".stripMargin
      }),

    // landmark closeness/harmonic over NATION_NEXT hop distances (same
    // landmarks as g_shortest) — oracle: the recursive BFS CTE + an
    // ordered-fold aggregation
    GateEntry("g_closeness", (s, dir) =>
      GraphAlgorithms.closenessCentrality(TpchGraph.session(s, dir),
        "NATION_NEXT", Seq(24L, 10L, 3L)),
      // same recursive-BFS distances as g_shortest; the harmonic sum folds
      // over the SORTED (distance, landmark) pairs left to right, exactly
      // like the Spark side's sorted-collect aggregate
      """WITH RECURSIVE nxt AS (
        |  SELECT n1.n_nationkey AS f, min(n2.n_nationkey) AS t
        |  FROM nation n1 JOIN nation n2
        |    ON n1.n_regionkey = n2.n_regionkey AND n2.n_nationkey > n1.n_nationkey
        |  GROUP BY n1.n_nationkey),
        |bfs AS (
        |  SELECT CAST(lm AS BIGINT) AS id, CAST(lm AS BIGINT) AS landmark,
        |         0 AS dist
        |  FROM (VALUES (24), (10), (3)) t(lm)
        |  UNION ALL
        |  SELECT CAST(nxt.f AS BIGINT), bfs.landmark, bfs.dist + 1
        |  FROM bfs JOIN nxt ON CAST(nxt.t AS BIGINT) = bfs.id),
        |b AS (SELECT id, CAST(dist AS BIGINT) AS d, landmark
        |      FROM bfs WHERE dist > 0),
        |s AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS reached,
        |         sum(d) AS sumd,
        |         list_sort(list(struct_pack(distance := d,
        |                                    landmark := landmark))) AS pairs
        |  FROM b GROUP BY id)
        |SELECT id, reached,
        |       round(list_reduce(list_transform(pairs, p -> 1.0 / p.distance),
        |                         (a, x) -> a + x), 6) AS harmonic,
        |       round(CAST(reached AS DOUBLE) / sumd, 6) AS closeness
        |FROM s""".stripMargin),

    // betweenness on the banded subgraph: the default bounded landmark
    // sample covers all 25 nations (min(V, 64) lowest ids ⊇ V here), so
    // the result IS the exact all-vertices betweenness — oracle: the
    // CLOSED FORM Σ σ(s,v)·σ(v,t)/σ(s,t) over all-pairs shortest-path
    // counts, a deliberately different derivation from the engine's
    // Brandes sweep (oracles need correctness, not scale)
    GateEntry("g_between", (s, dir) =>
      GraphAlgorithms.betweennessCentrality(TpchGraph.session(s, dir),
        "NATION_ADJ", maxDepth = 8, edgePred = Some(col("n_dist") <= 10)),
      // DuckDB mirror of [[GraphAlgorithms.betweennessCentrality]] on the
      // banded symmetric graph, via the CLOSED FORM rather than Brandes:
      // σ(s,v) = walks of length dist(s,v) (a walk of exactly shortest
      // length cannot revisit), built from `levels` unrolled walk-count
      // CTEs; then B(v) = Σ_{s,t} σ(s,v)·σ(v,t)/σ(s,t) over ordered pairs
      // whose distances compose. An independent derivation of the same
      // quantity — the strongest kind of mirror.
      {
        val levels = 8
        val steps = (1 to levels).map { l =>
          s"""w$l AS MATERIALIZED (
             |  SELECT w.s, sym.b AS v, SUM(w.c) AS c
             |  FROM w${l - 1} w JOIN sym ON sym.a = w.v
             |  GROUP BY w.s, sym.b)""".stripMargin
        }.mkString(",\n")
        val unions = (0 to levels)
          .map(l => s"SELECT s, v, $l AS l, c FROM w$l")
          .mkString("\nUNION ALL ")
        s"""WITH e AS (
           |  SELECT CAST(n1.n_nationkey AS BIGINT) AS a,
           |         CAST(n2.n_nationkey AS BIGINT) AS b
           |  FROM nation n1 JOIN nation n2
           |    ON n1.n_regionkey = n2.n_regionkey
           |   AND n1.n_nationkey < n2.n_nationkey
           |   AND n2.n_nationkey - n1.n_nationkey <= 10),
           |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
           |vv AS (SELECT DISTINCT a AS id FROM sym),
           |w0 AS (SELECT id AS s, id AS v, CAST(1.0 AS DOUBLE) AS c FROM vv),
           |$steps,
           |allw AS ($unions),
           |dd AS (SELECT s, v, min(l) AS d FROM allw GROUP BY s, v),
           |sp AS MATERIALIZED (
           |  SELECT dd.s, dd.v, dd.d, a.c AS sigma
           |  FROM dd JOIN allw a ON a.s = dd.s AND a.v = dd.v AND a.l = dd.d),
           |bt AS (
           |  SELECT sv.v AS id, SUM(sv.sigma * vt.sigma / st.sigma) AS b
           |  FROM sp sv
           |  JOIN sp vt ON vt.s = sv.v AND vt.d > 0
           |  JOIN sp st ON st.s = sv.s AND st.v = vt.v
           |             AND st.d = sv.d + vt.d
           |  WHERE sv.d > 0
           |  GROUP BY sv.v)
           |SELECT vv.id, round(COALESCE(bt.b, 0.0), 6) AS betweenness
           |FROM vv LEFT JOIN bt ON bt.id = vv.id""".stripMargin
      }),

    // weighted PageRank over NATION_ADJ's n_dist weights (close nations
    // get more rank mass than the uniform split) — oracle: unrolled
    // rounds on the identical share formula
    GateEntry("g_wpagerank", (s, dir) =>
      GraphAlgorithms.weightedPageRank(TpchGraph.session(s, dir),
        "NATION_ADJ", "n_dist", iters = 10),
      // DuckDB mirror of [[GraphAlgorithms.weightedPageRank]] over
      // NATION_ADJ's n_dist weights: identical share formula
      // (w / out-weight sum), dense rounds with the reset base, 6-dp round
      // at the end — the weighted sibling of the `g_pagerank` oracle, with
      // constants folded in Scala and spliced.
      {
        val iters = 10
        val resetProb: Double = 0.15
        val oneMinus = 1.0 - resetProb
        val steps = (1 to iters).map { i =>
          s"""r$i AS MATERIALIZED (
             |  SELECT v.id, $resetProb + $oneMinus * COALESCE(m.s, 0) AS rank
             |  FROM v LEFT JOIN (
             |    SELECT ew.t AS id, sum(r${i - 1}.rank * ew.share) AS s
             |    FROM ew JOIN r${i - 1} ON r${i - 1}.id = ew.f
             |    GROUP BY ew.t) m ON m.id = v.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (
           |  SELECT CAST(n1.n_nationkey AS BIGINT) AS f,
           |         CAST(n2.n_nationkey AS BIGINT) AS t,
           |         CAST(n2.n_nationkey - n1.n_nationkey AS DOUBLE) AS w
           |  FROM nation n1 JOIN nation n2
           |    ON n1.n_regionkey = n2.n_regionkey
           |   AND n1.n_nationkey < n2.n_nationkey),
           |ws AS (SELECT f AS wf, sum(w) AS wsum FROM e GROUP BY f),
           |ew AS (SELECT e.f, e.t, e.w / ws.wsum AS share
           |       FROM e JOIN ws ON ws.wf = e.f),
           |v AS (SELECT f AS id FROM e UNION SELECT t FROM e),
           |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM v),
           |$steps
           |SELECT id, round(rank, 6) AS rank FROM r$iters""".stripMargin
      }),

    // eigenvector centrality on the banded subgraph's symmetric form
    // (degree variance ⇒ non-uniform Perron weights) — oracle: unrolled
    // unnormalized power-iteration CTEs, one final L1 normalize
    GateEntry("g_eigen", (s, dir) =>
      GraphAlgorithms.eigenvectorCentrality(TpchGraph.session(s, dir),
        "NATION_ADJ", iters = 10, edgePred = Some(col("n_dist") <= 10)),
      // DuckDB mirror of [[GraphAlgorithms.eigenvectorCentrality]] on the
      // banded symmetric graph: unnormalized power-iteration rounds (sparse
      // sums, each referencing its predecessor once) + one final L1
      // normalize, 6-dp rounded — the [[GraphAlgorithms.hits]] oracle's
      // single-score sibling.
      {
        val iters = 10
        val steps = (1 to iters).map { i =>
          s"""x$i AS MATERIALIZED (
             |  SELECT sym.b AS id, sum(x${i - 1}.x) AS x
             |  FROM sym JOIN x${i - 1} ON x${i - 1}.id = sym.a
             |  GROUP BY sym.b)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (
           |  SELECT CAST(n1.n_nationkey AS BIGINT) AS a,
           |         CAST(n2.n_nationkey AS BIGINT) AS b
           |  FROM nation n1 JOIN nation n2
           |    ON n1.n_regionkey = n2.n_regionkey
           |   AND n1.n_nationkey < n2.n_nationkey
           |   AND n2.n_nationkey - n1.n_nationkey <= 10),
           |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
           |vv AS (SELECT DISTINCT a AS id FROM sym),
           |x0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS x FROM vv),
           |$steps,
           |tt AS (SELECT sum(x) AS s FROM x$iters)
           |SELECT vv.id, round(COALESCE(xx.x, 0.0) / tt.s, 6) AS centrality
           |FROM vv LEFT JOIN x$iters xx ON xx.id = vv.id, tt""".stripMargin
      }),

    // strongly connected components over the cyclic NATION_RING fixture
    // (per-region directed rings + one-way bridges): SCCs stay one per
    // ring while undirected reachability is a single component, so the
    // oracle witnesses MUTUAL reachability — recursive-CTE transitive
    // closure + min over the symmetric-reach pairs
    GateEntry("g_scc", (s, dir) =>
      GraphAlgorithms.stronglyConnectedComponents(
        TpchGraph.session(s, dir), "NATION_RING"),
      // DuckDB mirror of [[GraphAlgorithms.stronglyConnectedComponents]]
      // over the NATION_RING fixture: re-derives the ring edges (per-region
      // successor chain + wrap + one-way bridges), builds the transitive
      // closure with a recursive CTE, and assigns each vertex the MINIMUM id
      // among mutually-reachable vertices (self included) — the
      // lowest-id-in-SCC convention of [[GraphAlgorithms.connectedComponents]]. A deliberately different derivation
      // from the engine's coloring algorithm (oracles need correctness, not
      // scale).
      s"""WITH RECURSIVE rmm AS (
         |  SELECT n_regionkey AS rg, CAST(min(n_nationkey) AS BIGINT) AS mn,
         |         CAST(max(n_nationkey) AS BIGINT) AS mx
         |  FROM nation GROUP BY n_regionkey),
         |e AS (
         |  SELECT f, t FROM (
         |    SELECT CAST(n_nationkey AS BIGINT) AS f,
         |           CAST(lead(n_nationkey) OVER (PARTITION BY n_regionkey
         |             ORDER BY n_nationkey) AS BIGINT) AS t
         |    FROM nation) WHERE t IS NOT NULL
         |  UNION ALL SELECT mx, mn FROM rmm
         |  UNION ALL SELECT r1.mn, r2.mn FROM rmm r1
         |    JOIN rmm r2 ON r1.rg = 0 AND r2.rg = 1),
         |v AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation),
         |r AS (SELECT f AS src, t AS dst FROM e
         |      UNION
         |      SELECT r.src, e.t FROM r JOIN e ON e.f = r.dst),
         |mut AS (SELECT id, id AS o FROM v
         |        UNION ALL
         |        SELECT a.src AS id, a.dst AS o
         |        FROM r a JOIN r b ON b.src = a.dst AND b.dst = a.src)
         |SELECT id, min(o) AS component FROM mut GROUP BY id""".stripMargin),

    // full multi-level Louvain (2 levels × 4 synchronous bit-staggered
    // rounds, exact integer modularity-gain scores) on the banded
    // subgraph — level 1 under-merges by construction (fixed rounds
    // split regions), level 2's contraction completes the per-region
    // communities, so the gate exercises local moving AND the weighted
    // self-loop contraction; oracle: the identical integer arithmetic
    // unrolled through the contraction
    GateEntry("g_louvain", (s, dir) =>
      GraphAlgorithms.louvain(TpchGraph.session(s, dir), "NATION_ADJ",
        rounds = 4, levels = 2, edgePred = Some(col("n_dist") <= 10)),
      // DuckDB mirror of [[GraphAlgorithms.louvain]], levels × rounds fully
      // unrolled. Per round the EXACT INTEGER score
      // `totW2·k − s·(vol − [c = cur]·s)` ranks candidate communities
      // (row_number, ties → smallest community id) and only vertices with
      // bit (round−1) mod 64 of the id CLEAR may move; between levels the
      // edge list contracts via least/greatest community endpoints so
      // internal edges fold into self-loops (strength counts them twice).
      // Round and contraction CTEs are MATERIALIZED: each round references
      // its predecessor three times, the same 3^rounds blow-up an iterative
      // DataFrame plan would hit (the Spark side runs RDD rounds).
      {
        val rounds = 4
        val levels = 2
        def levelCtes(l: Int): String = {
          val prep =
            s"""sym$l AS (SELECT a, b, w FROM e$l WHERE a <> b
               |  UNION ALL SELECT b, a, w FROM e$l WHERE a <> b),
               |v$l AS (SELECT DISTINCT id FROM (
               |  SELECT a AS id FROM e$l UNION ALL SELECT b AS id FROM e$l)),
               |st$l AS MATERIALIZED (
               |  SELECT v.id, COALESCE(sw.s, 0) + 2 * COALESCE(se.s, 0) AS s
               |  FROM v$l v
               |  LEFT JOIN (SELECT a AS id, sum(w) AS s FROM sym$l GROUP BY a) sw
               |    ON sw.id = v.id
               |  LEFT JOIN (SELECT a AS id, sum(w) AS s FROM e$l WHERE a = b
               |             GROUP BY a) se ON se.id = v.id),
               |tot$l AS (SELECT sum(s) AS t2 FROM st$l),
               |c${l}_0 AS (SELECT id, id AS c FROM st$l)""".stripMargin
          val rnds = (1 to rounds).map { t =>
            s"""sc${l}_$t AS (
               |  SELECT cand.a, cand.cc, cur.c AS curc,
               |         tot.t2 * cand.k - st.s *
               |           (vol.vol - CASE WHEN cand.cc = cur.c THEN st.s
               |                           ELSE 0 END) AS s
               |  FROM (SELECT a, cc, max(k) AS k FROM (
               |          SELECT u.a, p.c AS cc, sum(u.w) AS k
               |          FROM sym$l u JOIN c${l}_${t - 1} p ON p.id = u.b
               |          GROUP BY u.a, p.c
               |          UNION ALL SELECT id, c, 0 FROM c${l}_${t - 1})
               |        GROUP BY a, cc) cand
               |  JOIN st$l st ON st.id = cand.a
               |  JOIN (SELECT p.c AS cc, sum(st2.s) AS vol
               |        FROM c${l}_${t - 1} p JOIN st$l st2 ON st2.id = p.id
               |        GROUP BY p.c) vol ON vol.cc = cand.cc
               |  JOIN c${l}_${t - 1} cur ON cur.id = cand.a, tot$l tot),
               |c${l}_$t AS MATERIALIZED (
               |  SELECT a AS id,
               |         CASE WHEN ((a >> ${(t - 1) % 64}) & 1) = 0 THEN cc
               |              ELSE curc END AS c
               |  FROM (SELECT a, cc, curc,
               |               row_number() OVER (PARTITION BY a
               |                 ORDER BY s DESC, cc ASC) AS rk
               |        FROM sc${l}_$t) WHERE rk = 1)""".stripMargin
          }.mkString(",\n")
          prep + ",\n" + rnds
        }
        val body = (0 until levels).map { l =>
          val contraction = if (l == 0) "" else
            s"""e$l AS MATERIALIZED (
               |  SELECT least(ca.c, cb.c) AS a, greatest(ca.c, cb.c) AS b,
               |         sum(e.w) AS w
               |  FROM e${l - 1} e
               |  JOIN c${l - 1}_$rounds ca ON ca.id = e.a
               |  JOIN c${l - 1}_$rounds cb ON cb.id = e.b
               |  GROUP BY 1, 2),
               |""".stripMargin
          contraction + levelCtes(l)
        }.mkString(",\n")
        val compose = (1 until levels).foldLeft(s"SELECT id, c FROM c0_$rounds") {
          (acc, l) =>
            s"SELECT m.id, n.c FROM ($acc) m JOIN c${l}_$rounds n ON n.id = m.c"
        }
        s"""WITH e0 AS (
           |  SELECT CAST(n1.n_nationkey AS BIGINT) AS a,
           |         CAST(n2.n_nationkey AS BIGINT) AS b, CAST(1 AS BIGINT) AS w
           |  FROM nation n1 JOIN nation n2
           |    ON n1.n_regionkey = n2.n_regionkey
           |   AND n1.n_nationkey < n2.n_nationkey
           |   AND n2.n_nationkey - n1.n_nationkey <= 10),
           |$body
           |SELECT id, CAST(c AS BIGINT) AS community FROM ($compose)""".stripMargin
      }),
  )

  /** The shared banded-edge + label-propagation-round CTE body (through
    * `l<iters>`) used by both the labelprop oracle and the modularity
    * oracle — one source of truth so the two cannot drift. */
  private def labelPropCtesSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""t$i AS (
         |  SELECT id, label FROM (
         |    SELECT u.a AS id, p.label,
         |           row_number() OVER (PARTITION BY u.a
         |             ORDER BY count(*) DESC, p.label ASC) AS rk
         |    FROM und u JOIN l${i - 1} p ON p.id = u.b
         |    GROUP BY u.a, p.label) WHERE rk = 1),
         |l$i AS (
         |  SELECT v.id, COALESCE(t.label, v.label) AS label
         |  FROM l${i - 1} v LEFT JOIN t$i t ON t.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""e AS (
       |  SELECT CAST(n1.n_nationkey AS BIGINT) AS a, CAST(n2.n_nationkey AS BIGINT) AS b
       |  FROM nation n1 JOIN nation n2
       |    ON n1.n_regionkey = n2.n_regionkey
       |   AND n1.n_nationkey < n2.n_nationkey
       |   AND n2.n_nationkey - n1.n_nationkey <= 10),
       |und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
       |l0 AS (SELECT DISTINCT a AS id, a AS label FROM und),
       |$steps""".stripMargin
  }
}
