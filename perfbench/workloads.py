"""Workload definitions: Cypher request templates, batch call lists, and
the seeded generators that turn a seed into the program's inputs.

Every generator is a pure function of its seed. A request list is a run of
blocks; each block holds every template exactly `weight` times in a seeded
order, so any two seeds send the same template mix in a different order, and
a run that stops on a block boundary always measures the same mix.
"""
import random

# Customers 14000..14999 are reserved for the writes of `cypher_mixed`;
# reads draw their keys below it and aggregates filter it out, so every
# read answer is independent of which writes have landed.
RESERVED_CUSTOMERS = range(14000, 15000)
WRITE_ORDERKEY_BASE = 1_000_000_000

# name -> (Cypher text, parameter pool). Shapes follow the gate's q_ entries.
READ_TEMPLATES = {
    # point lookup by node key
    "point": (
        "MATCH (c:Customer) WHERE c.c_custkey = $k "
        "RETURN c.c_name AS name, c.c_acctbal AS bal;",
        [{"k": k} for k in (5, 77, 1234, 4242, 7001, 9999, 12345, 13999)]),
    # 1-hop on the adjacency-index path (no relationship property used)
    "hop_index": (
        "MATCH (c:Customer {c_custkey: $k})-[:PLACED]->(o:Order) "
        "RETURN o.o_orderkey AS o_orderkey;",
        [{"k": k} for k in (7, 77, 777, 2024, 5150, 8086, 11111, 13001)]),
    # 1-hop forced onto the edge-list path by a relationship-property filter
    "hop_edgelist": (
        "MATCH (c:Customer)-[pl:PLACED]->(o:Order) "
        "WHERE c.c_custkey = $k AND pl.o_orderdate < datetime($d) "
        "RETURN o.o_orderkey AS o_orderkey;",
        [{"k": k, "d": d} for k, d in ((77, "1997-01-01"), (300, "1995-06-30"),
                                       (4100, "1998-01-01"), (6543, "1996-03-15"),
                                       (9000, "1994-12-31"), (12000, "1999-01-01"))]),
    # 2-hop chain with an implicit GROUP BY
    "chain2": (
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region) "
        "WHERE r.r_name = $r RETURN n.n_name AS n_name, count(*) AS cnt;",
        [{"r": r} for r in ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")]),
    # 3-hop chain through two adjacency indexes, grouped
    "chain3": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) "
        "WHERE c.c_custkey = $k RETURN p.p_brand AS brand, count(*) AS cnt;",
        [{"k": k} for k in (11, 222, 3030, 4545, 8080, 10101, 12121, 13500)]),
    # grouped aggregate over a traversal
    "agg_traversal": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WHERE c.c_nationkey = $n AND c.c_custkey < 14000 "
        "RETURN c.c_mktsegment AS seg, count(*) AS cnt, max(o.o_totalprice) AS max_p;",
        [{"n": n} for n in (0, 3, 7, 11, 14, 18, 21, 24)]),
    # ORDER BY / SKIP / LIMIT top-k over a grouped traversal
    "topk": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WHERE c.c_mktsegment = $s AND c.c_custkey < 14000 "
        "RETURN c.c_custkey AS c_custkey, count(o) AS cnt "
        "ORDER BY cnt DESC, c_custkey ASC SKIP 5 LIMIT 10;",
        [{"s": s} for s in ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")]),
    # bounded var-length reachability
    "varlen": (
        "MATCH (a:Nation)-[:NATION_ADJ*1..2]->(b:Nation) WHERE a.n_nationkey = $n "
        "RETURN b.n_nationkey AS b_id;",
        [{"n": n} for n in (0, 1, 2, 5, 6, 10, 15, 20)]),
    # var-length with hi > 6: the deep-BFS path that persists level RDDs
    "varlen_deep": (
        "MATCH (a:Nation)-[:NATION_RING*1..8]->(b:Nation) WHERE a.n_nationkey = $n "
        "RETURN b.n_nationkey AS b_id;",
        [{"n": n} for n in (0, 1, 2, 3, 4, 9, 13, 24)]),
    # shortestPath with length(p)
    "shortest": (
        "MATCH p = shortestPath((a:Nation)-[:NATION_NEXT*1..4]->(b:Nation)) "
        "WHERE a.n_nationkey = $n RETURN b.n_name AS b_name, length(p) AS len;",
        [{"n": n} for n in (0, 1, 2, 3, 4, 5, 6, 8)]),
    # CALL { } shared by both parts of a UNION (persisted once per request)
    "call_union": (
        "CALL { MATCH (n:Nation) RETURN max(n.n_nationkey) AS top } "
        "MATCH (n:Nation) WHERE n.n_nationkey = top - $d RETURN n.n_name AS name "
        "UNION MATCH (n:Nation) WHERE n.n_nationkey = top - 24 RETURN n.n_name AS name;",
        [{"d": d} for d in (0, 1, 3, 6, 10, 15, 20, 24)]),
    # EXISTS { } subquery
    "exists": (
        "MATCH (n:Nation) WHERE EXISTS { MATCH (s:Supplier)-[:SUPP_NATION]->(n) "
        "WHERE s.s_acctbal > $b } RETURN n.n_name AS n_name;",
        [{"b": b} for b in (0.0, 5000.0, 8000.0, 9000.0, 9500.0, 9800.0, 9900.0)]),
}

WRITE_TEMPLATE = (
    "CREATE (:Order {o_orderkey: $k, o_custkey: $c, o_orderstatus: 'O', "
    "o_totalprice: $p, o_orderpriority: '1-URGENT'}), "
    "(:Customer {c_custkey: $c})-[:PLACED]->(:Order {o_orderkey: $k});")

# Template weights per block. cypher_mixed: 36 reads + 4 writes, one in ten.
BLOCK_WEIGHTS = {
    "cypher_read": {t: 1 for t in READ_TEMPLATES},
    "cypher_mixed": {**{t: 3 for t in READ_TEMPLATES}, "write": 4},
}

# graph_batch: GraphAlgorithms calls, named <algorithm>.<graph>; the
# harness (harness/Batch.scala) maps each name to its call. All seven run on
# the nation fixtures; SUPPLIED_BY keeps one call per iteration substrate
# (louvain, coreNumbers, stronglyConnectedComponents and pageRank are left
# out there: NOTES.md gives their times).
SMALL_GRAPH_CALLS = [
    "connectedComponents.small", "pageRank.small", "kCore.small", "louvain.small",
    "stronglyConnectedComponents.small", "labelPropagation.small", "coreNumbers.small",
]
GRAPH_CALLS = SMALL_GRAPH_CALLS + [
    "connectedComponents.large", "kCore.large", "labelPropagation.large"]

# pipeline_batch: gate entries called through SparkEntry.queries
PIPELINE_CALLS = [
    "p_dedup_minhash", "p_dedup_ngram", "p_span_remove", "p_dsir_select",
    "p_bpe_ids", "p_sft_pack_padded", "p_decode_windows", "p_ann_ivf",
]

BATCH_CALLS = {
    "graph_batch": GRAPH_CALLS,
    "pipeline_batch": PIPELINE_CALLS,
    # the benchmark's batch workload: both regimes in one pass, cut to fit
    # the run budget (NOTES.md)
    "batch": SMALL_GRAPH_CALLS + [
        "connectedComponents.large", "p_dedup_ngram", "p_sft_pack_padded"],
}


def block(weights: dict, rng: random.Random) -> list:
    names = [t for t, w in sorted(weights.items()) for _ in range(w)]
    rng.shuffle(names)
    return names


def make_requests(workload: str, seed: int, blocks: int) -> list:
    """The request list of a Cypher workload: `blocks` seeded blocks."""
    rng = random.Random(f"{workload}:{seed}")
    weights = BLOCK_WEIGHTS[workload]
    # each template cycles through a seeded order of its whole pool, so runs
    # of equal length draw the same parameter mix
    pools = {t: rng.sample(pool, len(pool)) for t, (_, pool) in READ_TEMPLATES.items()}
    used = {t: 0 for t in READ_TEMPLATES}
    out = []
    for b in range(blocks):
        for t in block(weights, rng):
            i = len(out)
            if t == "write":
                c = rng.choice(RESERVED_CUSTOMERS)
                params = {"k": WRITE_ORDERKEY_BASE + i, "c": c,
                          "p": round(rng.uniform(1000.0, 50000.0), 2)}
                out.append({"id": f"r{i}", "block": b, "template": "write",
                            "kind": "write", "query": WRITE_TEMPLATE, "params": params})
            else:
                params = dict(pools[t][used[t] % len(pools[t])])
                used[t] += 1
                out.append({"id": f"r{i}", "block": b, "template": t,
                            "kind": "read", "query": READ_TEMPLATES[t][0], "params": params})
    return out


def make_pass_orders(calls: list, seed: int, passes: int) -> list:
    """`passes` seeded orders of one batch call list."""
    rng = random.Random(f"batch:{seed}")
    orders = []
    for _ in range(passes):
        o = list(calls)
        rng.shuffle(o)
        orders.append(o)
    return orders


def param_key(template: str, params: dict) -> str:
    """Digest key of one template/parameter pair."""
    return template + "|" + "|".join(f"{k}={params[k]}" for k in sorted(params))
