"""Tests of the benchmark's generators, its DuckDB comparison and its
metric lists.  Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import random
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import run  # noqa: E402
from pybench import docs, oracle, tables, trades  # noqa: E402


def _read_tree(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


class GeneratorsAreSeeded(unittest.TestCase):
    def _twice(self, write, seed_a, seed_b):
        with tempfile.TemporaryDirectory() as t:
            for name, seed in (("a", seed_a), ("b", seed_b)):
                write(os.path.join(t, name), seed)
            return _read_tree(os.path.join(t, "a")), _read_tree(os.path.join(t, "b"))

    def test_trades(self):
        def write(d, seed):
            trades.write_batches(d, seed, 2, 2000)
        a, b = self._twice(write, 7, 7)
        self.assertEqual(a, b)
        a, c = self._twice(write, 7, 8)
        self.assertNotEqual(a, c)

    def test_docs(self):
        def write(d, seed):
            docs.write(d, seed, 500)
        a, b = self._twice(write, 7, 7)
        self.assertEqual(a["families.json"], b["families.json"])
        self.assertEqual(docs.generate(7, 500), docs.generate(7, 500))
        self.assertNotEqual(docs.generate(7, 500), docs.generate(8, 500))

    def test_tables(self):
        a, b = tables.build(7, 0.1), tables.build(7, 0.1)
        self.assertTrue(all(a[k].equals(b[k]) for k in a))
        c = tables.build(8, 0.1)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))


class TradeMix(unittest.TestCase):
    def test_quality_issue_mix(self):
        rows, fills, exp = trades.generate_batch(random.Random(1), 20000, "T")
        processed, dups, cancelled, ok, bad, disc = exp["metrics"]
        self.assertEqual(processed, len(rows))
        self.assertEqual(len({r[0] for r in rows}), processed - dups)
        self.assertAlmostEqual(dups / processed, 0.09, delta=0.01)
        self.assertAlmostEqual(cancelled / (processed - dups), 0.2, delta=0.02)
        self.assertAlmostEqual(len(fills) / (processed - dups), 0.63, delta=0.02)
        self.assertEqual(ok + bad + cancelled, processed - dups)
        self.assertEqual(len(exp["exceptions"]), bad)
        self.assertTrue(0 < exp["missing_timestamp"] < ok)
        self.assertTrue(0 < disc < ok)
        kinds = set(exp["exceptions"].values())
        self.assertTrue({"SYMBOL_INVALID", "QUANTITY_INVALID", "PRICE_INVALID"} <= kinds)
        self.assertTrue(any(", " in k for k in kinds))
        self.assertTrue(any(f[4] == "" and f[5] == "" for f in fills))

    def test_docs_plant_a_hub_family(self):
        _, fam = docs.generate(1, 4000)
        sizes = {}
        for f in fam.values():
            if f >= 0:
                sizes[f] = sizes.get(f, 0) + 1
        self.assertEqual(max(sizes.values()), 80)
        self.assertGreater(len(sizes), 50)


class OracleCompare(unittest.TestCase):
    def test_tolerance_and_order(self):
        cols = ["k", "v"]
        self.assertIsNone(oracle.compare(cols, [(1, 0.1 + 0.2)], ["v", "k"], [(0.3, 1)]))
        self.assertIsNotNone(oracle.compare(cols, [(1, 0.3)], cols, [(1, 0.3001)]))
        self.assertIsNotNone(oracle.compare(cols, [(1, 2), (2, 3)], cols, [(2, 3), (1, 2)]))
        self.assertIsNotNone(oracle.compare(cols, [(1, 2)], ["k"], [(1,)]))

    def test_check_rejects_the_op_whose_result_differs(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            pq.write_table(pa.table({"doc_id": [1, 2, 3]}), os.path.join(t, "documents.parquet"))
            v = os.path.join(t, "verify")
            for op, ids in (("right", [1, 2, 3]), ("wrong", [1, 2, 4])):
                os.makedirs(os.path.join(v, op))
                pq.write_table(pa.table({"doc_id": ids}), os.path.join(v, op, "part-0.parquet"))
                with open(os.path.join(v, op + ".sql"), "w") as f:
                    f.write("SELECT doc_id FROM documents ORDER BY doc_id")
            self.assertEqual([op for op, _ in oracle.check(t, v)], ["wrong"])


class BenchmarkJson(unittest.TestCase):
    def test_metric_lists_match_the_launcher(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
