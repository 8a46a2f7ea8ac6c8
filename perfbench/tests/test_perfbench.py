"""Tests of the benchmark's own pieces: seeded generation, the metric
schema BENCHMARK.json declares, and the DuckDB comparison rules.

    python3 -m unittest discover -s perfbench/tests      # from the root
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.dont_write_bytecode = True

import duckdb  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)),
                         "BENCHMARK.json")


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def digest(self, fn, seed, name):
        d = os.path.join(self.tmp, f"{name}-{seed}")
        fn(d, seed)
        return gen.tree_digest(d)

    def test_frame_tables_are_a_function_of_the_seed(self):
        def fn(d, seed):
            return gen.frame_tables(d, seed, 0.002)
        a, b = self.digest(fn, 7, "a"), self.digest(fn, 7, "b")
        self.assertEqual(a, b)
        self.assertNotEqual(a, self.digest(fn, 8, "c"))

    def test_ingest_inputs_are_a_function_of_the_seed(self):
        def fn(d, seed):
            return gen.ingest_inputs(d, seed, 3, 100, 2)
        a, b = self.digest(fn, 7, "a"), self.digest(fn, 7, "b")
        self.assertEqual(a, b)
        self.assertNotEqual(a, self.digest(fn, 8, "c"))

    def test_frame_keys_are_unique(self):
        import pyarrow.parquet as pq
        gen.frame_tables(self.tmp, 3, 0.002)
        li = pq.read_table(f"{self.tmp}/lineitem.parquet").to_pydict()
        keys = list(zip(li["l_orderkey"], li["l_linenumber"]))
        self.assertEqual(len(keys), len(set(keys)))
        ev = pq.read_table(f"{self.tmp}/events.parquet").column("ts")
        self.assertEqual(len(ev), len(set(ev.to_pylist())))

    def test_planted_copies_come_from_earlier_batches(self):
        batch = 200
        _, texts, m = gen.corpus(2000, 5, batch)
        n = 2000
        for rate, key in ((gen.EXACT_DUP_RATE, "exact_dups"),
                          (gen.NEAR_DUP_RATE, "near_dups")):
            # the first batch holds no copies
            self.assertAlmostEqual(len(m[key]) / n, rate * 0.9, delta=0.02)
            for copy, src in m[key]:
                self.assertLess(src // batch, copy // batch)
                self.assertNotIn(src, m["low_quality"])
        for copy, src in m["exact_dups"]:
            self.assertEqual(texts[copy], texts[src])
        for copy, src in m["near_dups"]:
            a, b = texts[copy].split("\n\n"), texts[src].split("\n\n")
            self.assertEqual(sum(x != y for x, y in zip(a, b)), 1)
            wa, wb = texts[copy].split(" "), texts[src].split(" ")
            self.assertLessEqual(sum(x != y for x, y in zip(wa, wb)),
                                 gen.NEAR_DUP_EDITS)


class SchemaTest(unittest.TestCase):
    def test_benchmark_json_lists_what_a_run_prints(self):
        with open(BENCHMARK) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         run.WORKLOADS)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.per_layer_units())

    def fake_result(self, traced):
        ops = [{"i": i, "name": "op", "ms": 100.0 + i, "ok": True,
                "traced": traced and i >= 1 and (i - 1) % 4 in (1, 2)}
               for i in range(6)]
        return {"ops": ops, "unit": 1, "session_ms": [9000.0, 900.0, 1000.0],
                "warm_up_ms": 5000.0, "heap_peak_mb": 100.0,
                "layers": {"sink.jobs": 2.0, "uncovered_pct": 3.0},
                "checks": {"bytes_written": 2 << 20, "files_written": 12,
                           "input_text_bytes": 4 << 20},
                "counts": {"batch": 100, "kept": 96, "exact": 94,
                           "candidate_pairs": 5}}

    def test_end_to_end_record(self):
        res = self.fake_result(False)
        values = run.end_to_end(res, [0.5, 0.5, 0.5])
        rec = run.record(values, run.END_TO_END, 6, 0, [])
        self.assertEqual(set(rec), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertEqual(set(rec["metrics"]), set(run.END_TO_END))
        m = {k: v["value"] for k, v in rec["metrics"].items()}
        self.assertAlmostEqual(m["setup_s"], 1.5 + 5.0)
        self.assertAlmostEqual(m["op_p50_ms"], 102.5)
        self.assertTrue(all(v > 0 for v in m.values()))
        self.assertTrue(rec["correct"])

    def test_per_layer_record(self):
        for workload in run.WORKLOADS:
            res = self.fake_result(True)
            values = run.per_layer(workload, res)
            rec = run.record(values, run.per_layer_units(), 6, 1, [])
            self.assertFalse(rec["correct"])
            self.assertEqual(set(rec["metrics"]), set(run.per_layer_units()))
            self.assertEqual(rec["metrics"]["sink.jobs"]["value"], 2.0)

    def test_tracing_overhead_cancels_a_steady_drift(self):
        def ops(walls):
            return [{"ms": ms, "traced": k >= 1 and (k - 1) % 4 in (1, 2)}
                    for k, ms in enumerate(walls)]
        self.assertAlmostEqual(
            run.tracing_overhead_pct(ops([500, 100, 110, 110, 100]), 1), 10.0)
        self.assertAlmostEqual(
            run.tracing_overhead_pct(ops([500, 100, 105, 110, 115]), 1), 0.0)

    def test_tracing_overhead_leaves_probe_time_out(self):
        ops = [{"ms": ms, "probe_ms": probe,
                "traced": k >= 1 and (k - 1) % 4 in (1, 2)}
               for k, (ms, probe) in enumerate(
                   [(500, 0), (100, 0), (150, 40), (160, 50), (100, 0)])]
        self.assertAlmostEqual(run.tracing_overhead_pct(ops, 1), 10.0)

    def test_ingest_inputs_layout(self):
        with tempfile.TemporaryDirectory() as d:
            sizes = gen.ingest_inputs(d, 3, 4, 50, 2)
            with open(os.path.join(d, "manifest.json")) as f:
                m = json.load(f)
            self.assertEqual(m["file_docs"], [100, 150, 200, 250, 300])
            self.assertEqual(len(m["file_text_bytes"]), 5)
            self.assertEqual(sizes["base_docs"], 100)
            self.assertEqual(run.INGEST_BATCHES % 4, 1)
            self.assertGreaterEqual(run.INGEST_BATCHES - 1,
                                    run.MIN_OPS["ingest_incremental"])


class OracleTest(unittest.TestCase):
    def test_comparison_rules(self):
        tmp = tempfile.mkdtemp()
        try:
            con = duckdb.connect()
            out = os.path.join(tmp, "q")
            os.makedirs(out)
            con.execute(f"COPY (SELECT 2 AS b, 1.5::DOUBLE AS a UNION ALL "
                        f"SELECT 1, 0.5::DOUBLE) TO '{out}/p.parquet'")
            ok = ("SELECT 0.5::DOUBLE AS a, 1 AS b "
                  "UNION ALL SELECT 1.5::DOUBLE, 2")
            self.assertIsNone(oracle.compare(con, out, ok))
            self.assertIn("rows", oracle.compare(con, out, ok + " LIMIT 1"))
            typed = ("SELECT 0.5::DOUBLE AS a, 1.0::DOUBLE AS b "
                     "UNION ALL SELECT 1.5::DOUBLE, 2.0::DOUBLE")
            self.assertIn("vs oracle", oracle.compare(con, out, typed))
            near = ("SELECT 0.5::DOUBLE + 1e-12 AS a, 1 AS b "
                    "UNION ALL SELECT 1.5::DOUBLE, 2")
            self.assertIsNone(oracle.compare(con, out, near))
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
