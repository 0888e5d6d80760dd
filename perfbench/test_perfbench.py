"""Self-tests for the benchmark's own machinery (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import tempfile
import unittest
from unittest import mock

import duckdb

import check
import gen
import run

HERE = os.path.dirname(os.path.abspath(__file__))

SMALL = {"LIVE_SIDS": 20, "LIVE_DAYS": 40, "LIVE_FILES": 2, "LIVE_STATES": 2,
         "CORPUS_BATCHES": 2, "CORPUS_BATCH_DOCS": 20}


def small():
    return mock.patch.multiple(gen, **SMALL)


def as_dicts(cols, rows):
    return [{c: (v.isoformat() if hasattr(v, "isoformat") else v) for c, v in zip(cols, r)}
            for r in rows]


class Inputs(unittest.TestCase):
    def test_same_seed_same_digest_other_seed_other_digest(self):
        with small(), tempfile.TemporaryDirectory() as tmp:
            for w in gen.GENERATORS:
                a = gen.ensure(os.path.join(tmp, "a"), w, 7)[1]["digest"]
                b = gen.ensure(os.path.join(tmp, "b"), w, 7)[1]["digest"]
                c = gen.ensure(os.path.join(tmp, "c"), w, 8)[1]["digest"]
                self.assertEqual(a, b, w)
                self.assertNotEqual(a, c, w)

    def test_tampered_cache_is_regenerated(self):
        with small(), tempfile.TemporaryDirectory() as tmp:
            path, meta = gen.ensure(tmp, "live_trade", 3)
            with open(os.path.join(path, "master.parquet"), "ab") as f:
                f.write(b"x")
            self.assertNotEqual(gen.digest(path), meta["digest"])
            self.assertEqual(gen.ensure(tmp, "live_trade", 3)[1]["digest"], meta["digest"])

    def test_corpus_records_near_duplicate_share(self):
        with small(), tempfile.TemporaryDirectory() as tmp:
            meta = gen.ensure(tmp, "corpus_ingest", 1)[1]
            self.assertEqual(meta["docs"], 40)
            self.assertGreater(meta["near_dup_share"], 0.0)


class Percentile(unittest.TestCase):
    def test_reports_sample_count(self):
        self.assertEqual(run.percentile([3.0, 1.0, 2.0], 50), (2.0, 3))
        self.assertEqual(run.percentile([1.0, 2.0, 3.0, 4.0], 90)[1], 4)
        self.assertAlmostEqual(run.percentile([1.0, 2.0, 3.0, 4.0], 90)[0], 3.7)
        value, n = run.percentile([], 50)
        self.assertTrue(math.isnan(value))
        self.assertEqual(n, 0)


class Checker(unittest.TestCase):
    """A reference output passes its own check; a perturbed one fails."""

    def reference(self, workload, sql):
        with small(), tempfile.TemporaryDirectory() as tmp:
            inputs, _ = gen.ensure(tmp, workload, 5)
            con = duckdb.connect()
            check.CHECKERS[workload](con, inputs)
            return con.sql(sql).columns, con.sql(sql).fetchall()

    def assert_rejects_perturbed(self, cols, rows, column):
        got = as_dicts(cols, rows)
        self.assertTrue(got)
        self.assertIsNone(check.compare(got, cols, rows))
        bad = [dict(r) for r in got]
        i = next(k for k, r in enumerate(bad) if isinstance(r[column], (int, float)))
        bad[i][column] += 1e-4 if isinstance(bad[i][column], float) else 1
        self.assertIsNotNone(check.compare(bad, cols, rows))
        self.assertIsNotNone(check.compare(got[1:], cols, rows))

    def test_signed_zero_and_float_noise_do_not_reorder_rows(self):
        cols = ["x", "day"]
        want = [(-0.0, "2016-03-07"), (-2e-06, "2015-01-19")]
        got = [{"x": 0.0, "day": "2016-03-07"}, {"x": -2e-06 + 1e-19, "day": "2015-01-19"}]
        self.assertIsNone(check.compare(got, cols, want))

    def test_backtest_tear_sheet(self):
        p = {"window": 5, "commission": 0.0005, "slippage_bps": 3.0}
        cols, rows = self.reference("live_trade", check.perf_sql(p, "daily"))
        self.assert_rejects_perturbed(cols, rows, "return")

    def test_sweep(self):
        p = {"window": 5, "commission": 0.0005, "slippage_bps": 3.0, "factors": [1.0, 0.99]}
        cols, rows = self.reference("live_trade", check._sweep_sql(p))
        self.assert_rejects_perturbed(cols, rows, "sum_return")

    def test_orders(self):
        with small(), tempfile.TemporaryDirectory() as tmp:
            inputs, _ = gen.ensure(tmp, "live_trade", 5)
            con = duckdb.connect()
            check.CHECKERS["live_trade"](con, inputs)
            day = con.sql("SELECT CAST(max(date) AS VARCHAR) FROM panel").fetchone()[0]
            sql = check._trade_sql({"state": 1, "window": 5, "signal_date": day,
                                    "threshold": 0.25})
            cols, rows = con.sql(sql).columns, con.sql(sql).fetchall()
        self.assert_rejects_perturbed(cols, rows, "totalQuantity")

    def test_curate_invariants(self):
        ids = {1, 2, 3}
        op = {"params": {"seq_len": 10, "ablate": ["src1"]}, "outputs": {
            "weights": [{"doc_id": 1, "cluster_size": 2, "weight": 0.5},
                        {"doc_id": 2, "cluster_size": 2, "weight": 0.5},
                        {"doc_id": 3, "cluster_size": 1, "weight": 1.0}],
            "packed": [{"shard": 0, "seq_id": 0, "doc_id": 1, "tok_in_seq": 10},
                       {"shard": 0, "seq_id": 1, "doc_id": 1, "tok_in_seq": 2},
                       {"shard": 0, "seq_id": 1, "doc_id": 3, "tok_in_seq": 4}],
            "ablation": [{"excluded_source": "(none)", "accuracy": 0.9, "delta_vs_full": 0.0},
                         {"excluded_source": "src1", "accuracy": 0.8, "delta_vs_full": -0.1}],
            "raking": [{"row_val": "a", "col_val": "x", "n": 2, "weight": 1.0},
                       {"row_val": "b", "col_val": "y", "n": 1, "weight": 2.0}]}}
        self.assertIsNone(check._curate_invariants(op, ids))
        for path, value in [(("packed", 0, "tok_in_seq"), 11),
                            (("weights", 2, "weight"), 0.5),
                            (("ablation", 1, "delta_vs_full"), 0.0),
                            (("raking", 1, "weight"), 1.5)]:
            bad = json.loads(json.dumps(op))
            bad["outputs"][path[0]][path[1]][path[2]] = value
            self.assertIsNotNone(check._curate_invariants(bad, ids), path)


class Contract(unittest.TestCase):
    def test_benchmark_json_names_match_the_runner(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.PRIMARY))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
