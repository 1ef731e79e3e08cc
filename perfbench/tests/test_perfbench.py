"""Self-tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests      (from the repository root)

They need numpy, pyarrow and duckdb, and neither Spark nor a build.
"""
import importlib.util
import json
import os
import sys
import tempfile
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import fingerprint  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_level_is_highest_with_ten_beyond(self):
        self.assertIsNone(stats.tail_level(19))
        self.assertEqual(stats.tail_level(20), 50.0)
        self.assertEqual(stats.tail_level(40), 75.0)
        self.assertEqual(stats.tail_level(99), 75.0)
        self.assertEqual(stats.tail_level(100), 90.0)
        self.assertEqual(stats.tail_level(1000), 99.0)
        self.assertEqual(stats.tail_level(5000), 99.5)
        self.assertEqual(stats.tail_level(10000), 99.9)

    def test_tail_value_leaves_ten_samples_beyond(self):
        for n in (20, 100, 1000, 5000, 10000):
            values = list(np.random.default_rng(n).permutation(n) + 1.0)
            level, value = stats.tail(values)
            self.assertGreaterEqual(sum(v > value for v in values), 10, n)
            self.assertEqual(value, n * level / 100.0)

    def test_too_few_samples_have_no_tail(self):
        with self.assertRaises(ValueError):
            stats.tail([1.0] * 10)
        self.assertIsNone(run.latency([1.0] * 6)["tail_ms"])

    def test_fixed_count_keeps_the_level(self):
        for n in (5000, 8000, 9999):
            summary = run.latency(list(range(1, n + 1)), 3000)
            self.assertEqual(summary["tail_level"], 99.5)
            self.assertEqual(summary["tail_samples"], 3000)

    def test_chunked_median_shrugs_off_a_partial_burst(self):
        calm = [1.0] * 8000
        burst = calm[:6000] + [3.0] * 2000  # the last quarter runs 3x slower
        self.assertEqual(run.latency(burst)["p50_ms"], 1.0)
        self.assertEqual(run.latency(burst)["ops_per_s"], 1000.0)


class Recall(unittest.TestCase):
    def test_hand_built_case(self):
        approx = [[1, 2, 3], [4, 5, 6], [7, -1, -1]]
        truth = [[3, 2, 1], [4, 9, 8], [7, 8, 9]]
        # 3 of 3, 1 of 3, 1 of 3 (padding never counts)
        self.assertAlmostEqual(stats.recall_at_k(approx, truth, 3), 5 / 9)

    def test_exact_topk_cosine_with_id_ties(self):
        vectors = np.array([[1.0, 0.0], [0.0, 1.0], [2.0, 0.0], [-1.0, 0.0], [1.0, 1.0]])
        ids = np.array([10, 11, 12, 13, 14])
        got = stats.exact_topk(ids, vectors, np.array([[1.0, 0.0]]), 3)
        # ids 10 and 12 tie at distance 0 and order by id; 14 is next
        self.assertEqual(got.tolist(), [[10, 12, 14]])

    def test_exact_topk_finds_itself(self):
        rng = np.random.default_rng(0)
        v = rng.standard_normal((300, 16))
        got = stats.exact_topk(np.arange(300), v, v[:20], 1)
        self.assertEqual(got[:, 0].tolist(), list(range(20)))


class Fingerprints(unittest.TestCase):
    """The stored oracle answers use tools/oracle_check.py's canonical form."""

    @classmethod
    def setUpClass(cls):
        spec = importlib.util.spec_from_file_location(
            "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
        cls.oracle_check = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(cls.oracle_check)
        with open(run.FINGERPRINTS) as f:
            cls.stored = json.load(f)["keys"]

    def oracle_rows(self, key):
        import duckdb
        con = duckdb.connect()
        fixture = run.CONFIG["pipeline"]["fixture"]
        for t in run.CONFIG["pipeline"]["tables"].split(","):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
        res = con.execute(self.stored[key]["sql"])
        return res.fetchall(), [d[0] for d in res.description]

    def test_canon_matches_oracle_check_on_a_key(self):
        rows, cols = self.oracle_rows("knn_batch")
        self.assertEqual(fingerprint.canon(rows, cols), self.oracle_check.canon(rows, cols))
        got = fingerprint.fingerprint(rows, cols)
        self.assertEqual(got, {f: self.stored["knn_batch"][f] for f in got})

    def test_parquet_side_matches_row_side(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        rows, cols = self.oracle_rows("knn_batch")
        table = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(table, os.path.join(d, "part-0.parquet"))
            self.assertEqual(fingerprint.of_parquet_dir(d), fingerprint.fingerprint(rows, cols))

    def test_every_pipeline_key_is_stored(self):
        self.assertEqual(sorted(self.stored), sorted(run.FAMILY_OF))


class Inputs(unittest.TestCase):
    def test_seed_fixes_the_inputs(self):
        cfg = dict(run.CONFIG["ann-ingest"], n=200, pool=20, ops=500)
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            x, y = gen.ann_ingest(a, 7, cfg), gen.ann_ingest(b, 7, cfg)
        self.assertTrue(np.array_equal(x["ops"], y["ops"]))
        self.assertTrue(np.array_equal(x["corpus"], y["corpus"]))

    def test_op_stream_only_touches_live_ids(self):
        cfg = dict(run.CONFIG["ann-ingest"], n=50, pool=10, ops=2000)
        with tempfile.TemporaryDirectory() as d:
            ops = gen.ann_ingest(d, 3, cfg)["ops"]
        live = set(range(50))
        for kind, vid, _ in ops:
            if kind == gen.INSERT_NEW:
                self.assertNotIn(vid, live)
                live.add(vid)
            elif kind in (gen.OVERWRITE, gen.DELETE):
                self.assertIn(vid, live)
                if kind == gen.DELETE:
                    live.discard(vid)


class Contract(unittest.TestCase):
    def test_benchmark_json_names_what_run_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, layers.METRICS)
        self.assertLessEqual({w["name"] for w in b["workloads"]}, set(run.CONFIG))


if __name__ == "__main__":
    unittest.main()
