#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 -m unittest perfbench/test_bench.py
"""
import ast
import collections
import decimal
import sys
import unittest
from pathlib import Path

import pyarrow as pa

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import digests  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402


def oracle_typed_norm():
    """`typed_norm` as defined in tools/check_oracle.py (which runs a check
    at import time, so only the function is loaded)."""
    src = (BENCH.parent / "tools" / "check_oracle.py").read_text()
    fn = next(n for n in ast.parse(src).body
              if isinstance(n, ast.FunctionDef) and n.name == "typed_norm")
    ns = {}
    exec(compile(ast.Module(body=[fn], type_ignores=[]), "check_oracle.py", "exec"), ns)
    return ns["typed_norm"]


class RequestListTest(unittest.TestCase):
    def test_same_seed_same_list(self):
        for w in ("cypher_read", "cypher_mixed"):
            self.assertEqual(W.make_requests(w, 7, 20), W.make_requests(w, 7, 20))
        self.assertEqual(W.make_pass_orders(W.GRAPH_CALLS, 7, 5),
                         W.make_pass_orders(W.GRAPH_CALLS, 7, 5))

    def test_other_seed_same_weights_other_order(self):
        for w in ("cypher_read", "cypher_mixed"):
            a, b = W.make_requests(w, 1, 20), W.make_requests(w, 2, 20)
            self.assertNotEqual([r["template"] for r in a], [r["template"] for r in b])
            self.assertEqual(collections.Counter(r["template"] for r in a),
                             collections.Counter(r["template"] for r in b))
            # every block carries the full template mix
            n = sum(W.BLOCK_WEIGHTS[w].values())
            for blk in range(20):
                got = collections.Counter(r["template"] for r in a[blk * n:(blk + 1) * n])
                self.assertEqual(got, collections.Counter(W.BLOCK_WEIGHTS[w]))
        a = W.make_pass_orders(W.PIPELINE_CALLS, 1, 5)
        b = W.make_pass_orders(W.PIPELINE_CALLS, 2, 5)
        self.assertNotEqual(a, b)
        self.assertTrue(all(sorted(o) == sorted(W.PIPELINE_CALLS) for o in a + b))

    def test_writes_one_in_ten_reserved_and_unique(self):
        reqs = W.make_requests("cypher_mixed", 3, 10)
        writes = [r for r in reqs if r["kind"] == "write"]
        self.assertEqual(len(writes) * 10, len(reqs))
        self.assertTrue(all(r["params"]["c"] in W.RESERVED_CUSTOMERS for r in writes))
        self.assertEqual(len({r["params"]["k"] for r in writes}), len(writes))
        for r in reqs:
            if r["kind"] == "read":
                self.assertFalse(any(v in W.RESERVED_CUSTOMERS for k, v in r["params"].items()
                                     if k == "k"))

    def test_every_pool_value_has_a_digest(self):
        pinned = digests.load()
        for name, (_, pool) in W.READ_TEMPLATES.items():
            for params in pool:
                self.assertIn(W.param_key(name, params), pinned["reads"])
        self.assertEqual(set(W.GRAPH_CALLS), set(pinned["graph"]))
        self.assertEqual(set(W.PIPELINE_CALLS), set(pinned["pipeline"]))


class PercentileRuleTest(unittest.TestCase):
    def test_p99_needs_1000_samples(self):
        self.assertIsNone(run.percentile(list(range(999)), 0.99))
        self.assertEqual(run.percentile(list(range(1000)), 0.99), 989)

    def test_p90_needs_100_samples(self):
        self.assertIsNone(run.percentile(list(range(99)), 0.90))
        self.assertEqual(run.percentile(list(range(100)), 0.90), 89)


class DigestNormalizationTest(unittest.TestCase):
    FIXTURE = pa.table({
        "b_str": ["x", "y", None],
        "a_int": pa.array([3, 1, 2], pa.int64()),
        "c_float": [0.1234567891, 2.5, -1.0000004],
        "d_dec": pa.array([decimal.Decimal("1.50"), None, decimal.Decimal("2.00")],
                          pa.decimal128(5, 2)),
        "e_list": [[1, 2], [], None],
    })

    def test_matches_check_oracle(self):
        self.assertEqual(digests.typed_norm(self.FIXTURE), oracle_typed_norm()(self.FIXTURE))

    def test_json_response_matches_json_rows(self):
        tab = self.FIXTURE.drop(["d_dec"])
        # Spark's JSONEachRow omits null fields
        lines = ['{"a_int":3,"b_str":"x","c_float":0.1234567891,"e_list":[1,2]}',
                 '{"a_int":1,"b_str":"y","c_float":2.5,"e_list":[]}',
                 '{"a_int":2,"c_float":-1.0000004}']
        want_rows, want_cols = digests.typed_norm(digests.json_rows(tab))
        got = digests.response_digest(lines, tab.column_names)
        self.assertEqual(got["digest"], digests.digest(want_rows, want_cols))
        self.assertNotEqual(digests.response_digest(lines[:2], tab.column_names)["digest"],
                            got["digest"])


if __name__ == "__main__":
    unittest.main()
