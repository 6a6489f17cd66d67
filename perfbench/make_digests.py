#!/usr/bin/env python3
"""Regenerates `digests.json`, the expected answers of every workload input.

    python3 perfbench/make_digests.py

Each answer is computed in DuckDB over the benchmark's copy of the sf0.1
tables, never by the program under test:
  - Cypher templates: one SQL twin per template (below), run for every value
    of the template's parameter pool;
  - small-graph calls and pipeline calls: the gate's `SparkEntry.oracleSql`
    for the entry with the same arguments (printed by `perfbench.Oracles`),
    except the two all-pairs dedup oracles, replaced by an equi-join twin
    that is checked against them on a sample first;
  - large-graph calls: SQL twins of the same algorithms over SUPPLIED_BY.
"""
import json
import subprocess
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import digests  # noqa: E402
import workloads as W  # noqa: E402

DATA = Path(__file__).resolve().parent / "data" / "sf0.1"
TABLES = ["customer", "orders", "lineitem", "part", "supplier", "nation", "region",
          "documents", "embeddings"]

NATION_ADJ = """SELECT CAST(n1.n_nationkey AS BIGINT) AS f, CAST(n2.n_nationkey AS BIGINT) AS t
  FROM nation n1 JOIN nation n2
    ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey"""

# NATION_RING: per-region successor chain, the wrap edge, and one bridge
# from region 0's smallest key to region 1's (fixtures/TpchGraph.scala)
NATION_RING = """SELECT f, t FROM (
    SELECT CAST(n_nationkey AS BIGINT) AS f,
           CAST(lead(n_nationkey) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS BIGINT) AS t
    FROM nation) WHERE t IS NOT NULL
  UNION ALL SELECT mx, mn FROM rmm
  UNION ALL SELECT r1.mn, r2.mn FROM rmm r1 JOIN rmm r2 ON r1.rg = 0 AND r2.rg = 1"""

RMM = """SELECT n_regionkey AS rg, CAST(min(n_nationkey) AS BIGINT) AS mn,
         CAST(max(n_nationkey) AS BIGINT) AS mx FROM nation GROUP BY n_regionkey"""

READ_TWINS = {
    "point": "SELECT c_name AS name, c_acctbal AS bal FROM customer WHERE c_custkey = $k",
    "hop_index": "SELECT o_orderkey FROM orders WHERE o_custkey = $k",
    "hop_edgelist": """SELECT o_orderkey FROM orders
        WHERE o_custkey = $k AND o_orderdate < CAST($d AS TIMESTAMP)""",
    "chain2": """SELECT n_name, count(*) AS cnt FROM customer
        JOIN nation ON n_nationkey = c_nationkey JOIN region ON r_regionkey = n_regionkey
        WHERE r_name = $r GROUP BY n_name""",
    # the adjacency-index path dedups (order, part) pairs, like q_3hop
    "chain3": """SELECT p_brand AS brand, count(*) AS cnt FROM orders
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) l ON l.l_orderkey = o_orderkey
        JOIN part ON p_partkey = l.l_partkey
        WHERE o_custkey = $k GROUP BY p_brand""",
    "agg_traversal": """SELECT c_mktsegment AS seg, count(*) AS cnt, max(o_totalprice) AS max_p
        FROM customer JOIN orders ON o_custkey = c_custkey
        WHERE c_nationkey = $n AND c_custkey < 14000 GROUP BY c_mktsegment""",
    "topk": """SELECT c_custkey, count(o_orderkey) AS cnt FROM customer
        JOIN orders ON o_custkey = c_custkey
        WHERE c_mktsegment = $s AND c_custkey < 14000
        GROUP BY c_custkey ORDER BY cnt DESC, c_custkey ASC LIMIT 10 OFFSET 5""",
    "varlen": f"""WITH e AS ({NATION_ADJ}),
        h2 AS (SELECT e1.f, e2.t FROM e e1 JOIN e e2 ON e1.t = e2.f),
        u AS (SELECT f, t FROM e UNION SELECT f, t FROM h2)
        SELECT t AS b_id FROM u WHERE f = $n""",
    "varlen_deep": f"""WITH RECURSIVE rmm AS ({RMM}), e AS ({NATION_RING}),
        r AS (SELECT t AS dst, 1 AS d FROM e WHERE f = $n
              UNION SELECT e.t, r.d + 1 FROM r JOIN e ON e.f = r.dst WHERE r.d < 8)
        SELECT DISTINCT dst AS b_id FROM r""",
    "shortest": """WITH r AS (
          SELECT n_nationkey, n_name, n_regionkey,
                 row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rk
          FROM nation)
        SELECT b.n_name AS b_name, CAST(b.rk - a.rk AS BIGINT) AS len
        FROM r a JOIN r b ON a.n_regionkey = b.n_regionkey
        WHERE a.n_nationkey = $n AND b.rk - a.rk BETWEEN 1 AND 4""",
    "call_union": """SELECT n_name AS name FROM nation
        WHERE n_nationkey = (SELECT max(n_nationkey) FROM nation) - $d
        UNION SELECT n_name AS name FROM nation
        WHERE n_nationkey = (SELECT max(n_nationkey) FROM nation) - 24""",
    "exists": """SELECT n_name FROM nation WHERE n_nationkey IN
        (SELECT s_nationkey FROM supplier WHERE s_acctbal > $b)""",
}

# gate entries with the same arguments as the small-graph calls
SMALL_GRAPH_ORACLES = {
    "connectedComponents.small": "g_concomp",
    "pageRank.small": "g_pagerank",
    "kCore.small": "g_kcore",
    "louvain.small": "g_louvain",
    "stronglyConnectedComponents.small": "g_scc",
    "labelPropagation.small": "g_labelprop",
    "coreNumbers.small": "g_coreness",
}

# SUPPLIED_BY as the algorithms see it: distinct (part, supplier) pairs
SUPPLIED_BY = """SELECT DISTINCT CAST(l_partkey AS BIGINT) AS a, CAST(l_suppkey AS BIGINT) AS b
  FROM lineitem"""
# the simple undirected graph kCore and labelPropagation build from it
CANON = f"""SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM ({SUPPLIED_BY}) WHERE a <> b"""


def kcore_sql(k: int, rounds: int) -> str:
    steps = ",\n".join(
        f"""c{i} AS MATERIALIZED (
          SELECT u.a, u.b FROM c{i - 1} u
          WHERE u.a IN (SELECT a FROM c{i - 1} GROUP BY a HAVING count(*) >= {k})
            AND u.b IN (SELECT a FROM c{i - 1} GROUP BY a HAVING count(*) >= {k}))"""
        for i in range(1, rounds + 1))
    return f"""WITH e AS ({CANON}),
      c0 AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
      {steps}
      SELECT a AS id, count(*) AS degree FROM c{rounds} GROUP BY a"""


def labelprop_sql(iters: int) -> str:
    steps = ",\n".join(
        f"""t{i} AS MATERIALIZED (
          SELECT id, label FROM (
            SELECT u.a AS id, p.label,
                   row_number() OVER (PARTITION BY u.a ORDER BY count(*) DESC, p.label ASC) AS rk
            FROM und u JOIN l{i - 1} p ON p.id = u.b
            GROUP BY u.a, p.label) WHERE rk = 1),
        l{i} AS MATERIALIZED (
          SELECT v.id, COALESCE(t.label, v.label) AS label
          FROM l{i - 1} v LEFT JOIN t{i} t ON t.id = v.id)"""
        for i in range(1, iters + 1))
    return f"""WITH e AS ({CANON}),
      und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
      l0 AS (SELECT DISTINCT a AS id, a AS label FROM und),
      {steps}
      SELECT id, label FROM l{iters}"""


# p_dedup_minhash / p_dedup_ngram: the gate oracle compares every document
# pair (12.5M list intersections at 5,000 documents, hours in DuckDB). The
# twin finds the same pairs through an equi-join on shared shingles; pairs
# sharing none have Jaccard 0 and fall below any threshold. `main` checks
# twin == gate oracle on a 1-in-4 document sample before using it.
SHINGLE_TWIN = """WITH t AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
        FROM {docs})),
s AS (SELECT doc_id, unnest(sh) AS g FROM t),
common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
           FROM s x JOIN s y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2)
SELECT a, b, jaccard FROM (
  SELECT c.a, c.b,
         round(CAST(c.inter AS DOUBLE) / (len(x.sh) + len(y.sh) - c.inter), 4) AS jaccard
  FROM common c JOIN t x ON x.doc_id = c.a JOIN t y ON y.doc_id = c.b)
WHERE jaccard >= {threshold}"""
SHINGLE_ENTRIES = {"p_dedup_minhash": 0.8, "p_dedup_ngram": 0.5}
SAMPLE = "(SELECT * FROM documents WHERE doc_id % 4 = 0)"


def shingle_twin(con, oracles, entry):
    threshold = SHINGLE_ENTRIES[entry]
    gate = oracles[entry].replace("FROM documents))", f"FROM {SAMPLE}))")
    assert gate != oracles[entry], f"{entry}: oracle shape changed"
    small = SHINGLE_TWIN.format(docs=SAMPLE, threshold=threshold)
    a = digests.table_digest(con.execute(gate).fetch_arrow_table())
    b = digests.table_digest(con.execute(small).fetch_arrow_table())
    if a != b:
        sys.exit(f"{entry}: twin disagrees with the gate oracle on the sample")
    full = SHINGLE_TWIN.format(docs="documents", threshold=threshold)
    return digests.table_digest(con.execute(full).fetch_arrow_table())


def connected_components(con):
    """Min-id component of every Part and Supplier id (GraphX's vertex set),
    by min-label propagation over SUPPLIED_BY until nothing changes."""
    con.execute(f"""CREATE OR REPLACE TEMP TABLE und AS
        SELECT a, b FROM ({SUPPLIED_BY}) UNION SELECT b, a FROM ({SUPPLIED_BY})""")
    con.execute("""CREATE OR REPLACE TEMP TABLE cc AS
        SELECT id, id AS component FROM (
          SELECT CAST(p_partkey AS BIGINT) AS id FROM part
          UNION SELECT CAST(s_suppkey AS BIGINT) FROM supplier)""")
    while True:
        con.execute("""CREATE OR REPLACE TEMP TABLE cc2 AS
            SELECT c.id, least(c.component, coalesce(min(n.component), c.component)) AS component
            FROM cc c LEFT JOIN und u ON u.a = c.id LEFT JOIN cc n ON n.id = u.b
            GROUP BY c.id, c.component""")
        changed = con.execute("""SELECT count(*) FROM cc JOIN cc2 USING (id)
            WHERE cc.component <> cc2.component""").fetchone()[0]
        con.execute("CREATE OR REPLACE TEMP TABLE cc AS SELECT * FROM cc2")
        if changed == 0:
            return con.execute("SELECT id, component FROM cc").fetch_arrow_table()


def timed(label, fn):
    t0 = time.monotonic()
    r = fn()
    print(f"  {label}: {time.monotonic() - t0:.1f} s", file=sys.stderr, flush=True)
    return r


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA / t}.parquet')")

    out = {"reads": {}, "graph": {}, "pipeline": {}}
    for name, (_, pool) in W.READ_TEMPLATES.items():
        for params in pool:
            tab = con.execute(READ_TWINS[name], params).fetch_arrow_table()
            rows, cols = digests.typed_norm(digests.json_rows(tab))
            out["reads"][W.param_key(name, params)] = {
                "cols": cols, "rows": len(rows), "digest": digests.digest(rows, cols)}

    cp = build.build()
    gate = list(SMALL_GRAPH_ORACLES.values()) + W.PIPELINE_CALLS
    oracles = json.loads(subprocess.run(
        ["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Oracles"] + gate,
        check=True, stdout=subprocess.PIPE, text=True).stdout.strip().splitlines()[-1])
    def run(sql):
        return lambda: digests.table_digest(con.execute(sql).fetch_arrow_table())
    for call, entry in SMALL_GRAPH_ORACLES.items():
        out["graph"][call] = timed(call, run(oracles[entry]))
    out["graph"]["connectedComponents.large"] = timed(
        "connectedComponents.large", lambda: digests.table_digest(connected_components(con)))
    out["graph"]["kCore.large"] = timed("kCore.large", run(kcore_sql(k=30, rounds=8)))
    out["graph"]["labelPropagation.large"] = timed(
        "labelPropagation.large", run(labelprop_sql(iters=5)))
    for entry in W.PIPELINE_CALLS:
        if entry in SHINGLE_ENTRIES:
            out["pipeline"][entry] = timed(entry, lambda: shingle_twin(con, oracles, entry))
        else:
            out["pipeline"][entry] = timed(entry, run(oracles[entry]))

    missing = [c for c in W.GRAPH_CALLS if c not in out["graph"]]
    if missing:
        sys.exit(f"no twin for graph calls: {missing}")
    digests.DIGESTS.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"wrote {digests.DIGESTS}: {len(out['reads'])} read answers, "
          f"{len(out['graph'])} graph calls, {len(out['pipeline'])} pipeline calls")


if __name__ == "__main__":
    main()
