"""Tests of the benchmark's own code: statistics, seeded orders and inputs,
the JVM timeout, the output check (float tolerance, banded routes) and
the metric catalogue.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from bench import gen, oracle, stats  # noqa: E402
from bench import workloads as W  # noqa: E402

REQUIRED_E2E = {"setup_s": "s", "pass_s": "s", "query_s_p50": "s", "query_s_tail": "s",
             "cpu_s_per_pass": "s", "peak_rss_mb": "MB", "ok_ratio": "ratio", "lsh_recall": "ratio"}


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), (2.75, 5.5, 8.25))

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(100), 90)
        for n in range(20, 400, 7):
            p = stats.tail_percentile(n)
            beyond = lambda q: n - -(-q * n // 100)  # noqa: E731
            self.assertGreaterEqual(beyond(p), 10, n)
            if p < 99:
                self.assertLess(beyond(p + 1), 10, n)

    def test_percentile_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([5.0], 50), 5.0)

    def test_halves_agree(self):
        self.assertTrue(stats.halves_agree([1.0, 1.02, 0.99, 1.01], 0.05))
        self.assertFalse(stats.halves_agree([2.0, 1.9, 1.5, 1.4], 0.05))


class SeedTest(unittest.TestCase):
    def test_pass_orders_are_seeded_permutations(self):
        a = stats.pass_orders(7, 6, 20)
        self.assertEqual(a, stats.pass_orders(7, 6, 20))
        self.assertNotEqual(a, stats.pass_orders(8, 6, 20))
        self.assertTrue(all(sorted(o) == list(range(6)) for o in a))
        self.assertGreater(len({tuple(o) for o in a}), 1)

    def test_inputs_are_seeded(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 3), ("b", 3), ("c", 4)):
                gen.llm(os.path.join(d, name), seed, n_docs=200, n_vecs=100, files=2)
            read = lambda n, t: pq.read_table(os.path.join(d, n, f"{t}.parquet"))  # noqa: E731
            for t in ("documents", "embeddings"):
                self.assertTrue(read("a", t).equals(read("b", t)))
                self.assertFalse(read("a", t).equals(read("c", t)))
            self.assertEqual(len(os.listdir(os.path.join(d, "a", "documents.parquet"))), 2)


class OracleToleranceTest(unittest.TestCase):
    def _matched(self, spark_value, oracle_value):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "out"))
            pq.write_table(pa.table({"k": [1], "v": [spark_value]}), os.path.join(d, "out", "p.parquet"))
            con = oracle.connect(d, [])
            return oracle.compare(con, f"SELECT 1 AS k, {oracle_value!r}::DOUBLE AS v",
                                  os.path.join(d, "out"))

    def test_last_bits_of_a_double_sum_match(self):
        self.assertEqual(self._matched(1234567.891, 1234567.891 * (1 + 3e-15)), (1, 1, 1))

    def test_a_wrong_value_does_not_match(self):
        self.assertEqual(self._matched(1234567.891, 1234568.0), (1, 1, 0))


class RunPlanTest(unittest.TestCase):
    def test_jvm_timeout_grows_with_the_timed_passes(self):
        wl = W.WORKLOADS["headline_sf01"]
        short, long_ = (run.jvm_timeout_s(wl, run.timed_passes(wl, s)) for s in (20, 600))
        self.assertGreater(long_ - short, 3 * (600 - 20) * 0.9)


class BandedCheckTest(unittest.TestCase):
    """A banded route may miss exact rows but may not return a wrong one."""

    def _check(self, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({"a": [1, 2, 3], "cos": [0.99, 0.97, 0.5]}), os.path.join(d, "t.parquet"))
            out = os.path.join(d, "check", "q.parquet")
            os.makedirs(out)
            pq.write_table(pa.table({"a": [r[0] for r in rows], "cos": [r[1] for r in rows]}),
                           os.path.join(out, "part-0.parquet"))
            record = {"passes": [{"pass": 0, "phase": "check"}],
                      "executions": [{"query": "q", "pass": 0, "ok": True}],
                      "oracle_sql": {"q": "SELECT a, cos FROM t WHERE cos > 0.9"}}
            wl = {"tables": ["t"], "lsh_routes": ["q"]}
            with open(os.devnull, "w") as null:
                err, sys.stderr = sys.stderr, null
                try:
                    return run.check_outputs(wl, d, record, d)
                finally:
                    sys.stderr = err

    def test_missed_rows_lower_recall_only(self):
        ok, recall = self._check([(1, 0.99)])
        self.assertEqual(ok, {"q": True})
        self.assertEqual(recall["q"], {"found": 1, "exact": 2, "returned": 1})

    def test_one_wrong_row_fails(self):
        ok, recall = self._check([(1, 0.99), (2, 0.5)])
        self.assertEqual(ok, {"q": False})
        self.assertEqual(recall["q"]["found"], 1)


class MetricCatalogueTest(unittest.TestCase):
    def test_required_metrics_present_with_unit_and_direction(self):
        e2e = {n: (u, b) for n, u, b, _ in W.END_TO_END}
        for name, unit in REQUIRED_E2E.items():
            self.assertEqual(e2e[name][0], unit)
        self.assertEqual(e2e["setup_s"][1], "lower")
        self.assertEqual(e2e["ok_ratio"][1], "higher")
        self.assertEqual(e2e["lsh_recall"][1], "higher")
        layers = {n.split(".")[0] for n, _, _ in W.PER_LAYER}
        self.assertEqual(layers, {"core", "operators", "functions", "sources", "streaming", "expr", "catalyst",
                                  "codegen", "scheduler", "executor", "shuffle", "jvm", "trace"})

    def test_benchmark_json_matches_catalogue(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(W.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]],
                         [tuple(m) for m in W.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         [tuple(m) for m in W.PER_LAYER])
        bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        self.assertEqual(max(bound.values()), bound["setup_s"])

    def _record(self):
        def p(n, phase, traced, wall):
            d = {"pass": n, "phase": phase, "traced": traced, "wall_s": wall, "cpu_s": 2 * wall,
                 "jit_s": 0.1, "gc_s": 0.01, "classes_loaded": 5.0, "codegen_compiles": 3.0,
                 "codegen_compile_s": 0.02, "rss_mb": 900.0, "heap_committed_mb": 800.0,
                 "nonheap_committed_mb": 100.0, "query_s": {"a": wall / 2, "b": wall / 2},
                 "query_compiles": {"a": 1, "b": 2}}
            if traced:
                d.update({n: 1.0 for n, _, _ in W.PER_LAYER if "." in n})
            return d
        passes = [p(0, "check", False, 3.0)] + [p(i, "timed", i % 2 == 0, 1.0 + i / 100) for i in range(1, 7)]
        execs = [{"query": q, "pass": i, "ok": True, "rows": 5 if i else -1, "checksum": "9"}
                 for i in range(7) for q in ("a", "b")]
        return {"passes": passes, "executions": execs, "setup_end_epoch_s": 110.0, "peak_rss_mb": 900.0, "peak_heap_mb": 300.0,
                "core.session_s": 1.0, "core.tables_first_load_s": 1.0, "core.tables_cached_load_ms": 1.0,
                "context": {}, "expr": {n: 1.0 for n, _, _ in W.PER_LAYER if n.startswith("expr.")}}

    def test_result_line_carries_exactly_the_catalogue(self):
        wl = dict(W.WORKLOADS["headline_sf01"], lsh_routes=["a"])
        for trace, names in ((0, [m[0] for m in W.END_TO_END]), (1, [m[0] for m in W.PER_LAYER])):
            args = SimpleNamespace(workload="headline_sf01", seed=1, seconds=1.0, trace=trace)
            with open(os.devnull, "w") as null:
                out, sys.stdout = sys.stdout, null
                try:
                    res = run.summarize(args, wl, self._record(), 100.0, {"a": True, "b": True},
                                        {"a": {"found": 9, "exact": 10, "returned": 9}}, {})
                finally:
                    sys.stdout = out
            self.assertEqual(list(res["metrics"]), names)
            self.assertTrue(res["correct"])
            self.assertEqual(res["attempted"], 14)
            if not trace:
                self.assertAlmostEqual(res["metrics"]["setup_s"]["value"], 10.0)
                self.assertAlmostEqual(res["metrics"]["lsh_recall"]["value"], 0.9)

    def test_a_checksum_that_changes_between_passes_counts_as_failed(self):
        rec = self._record()
        rec["executions"][5]["checksum"] = "8"
        args = SimpleNamespace(workload="headline_sf01", seed=1, seconds=1.0, trace=0)
        with open(os.devnull, "w") as null:
            out, sys.stdout = sys.stdout, null
            try:
                res = run.summarize(args, W.WORKLOADS["headline_sf01"], rec, 100.0,
                                    {"a": True, "b": True}, {}, {})
            finally:
                sys.stdout = out
        self.assertEqual(res["failed"], 1)
        self.assertFalse(res["correct"])


if __name__ == "__main__":
    unittest.main()
