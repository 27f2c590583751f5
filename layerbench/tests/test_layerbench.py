"""Unit tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s layerbench/tests
"""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402
import metrics  # noqa: E402


class CallSiteAttribution(unittest.TestCase):
    def test_engine_files_map_to_their_modules(self):
        cases = {
            "treeAggregate at SchemaInference.scala:79": "schema",
            "json at ExtendedJsonSource.scala:72": "sources",
            "save at Engine.scala:131": "engine",
            "start at Engine.scala:170": "engine",
            "localCheckpoint at AnalyticsOps.scala:1441": "operators.AnalyticsOps",
            "collect at StreamOps.scala:914": "streaming",
            "count at SessionMemo.scala:40": "operators.SessionMemo",
            "apply at TypeLattice.scala:12": "types",
            "save at Main.scala:300": "benchmark",
        }
        for name, module in cases.items():
            self.assertEqual(metrics.module_of(name), module, name)

    def test_spark_internal_and_unknown_call_sites(self):
        self.assertEqual(metrics.module_of("run at ThreadPoolExecutor.java:1136"), "spark")
        self.assertEqual(metrics.module_of("$anonfun$withThreadLocalCaptured$1 at "
                                           "FutureTask.java:264"), "spark")
        self.assertEqual(metrics.module_of(""), "spark")
        self.assertEqual(metrics.module_of(None), "spark")
        # a file name that merely ends like an engine file is not one
        self.assertEqual(metrics.module_of("map at MyEngine.scala:3"), "spark")

    def test_every_registry_module_is_attributed(self):
        for m in metrics.MODULES:
            self.assertEqual(metrics.module_of(f"x at {m}.scala:1"), f"operators.{m}")


class TailLabelling(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))                 # 100 samples
        value, pct, beyond = metrics.tail(xs)
        self.assertEqual((value, pct, beyond), (90, 90.0, 10))

    def test_label_rounds_down_and_counts_what_lies_beyond(self):
        xs = [float(i) for i in range(13)]      # 13 samples: rank 3
        value, pct, beyond = metrics.tail(xs)
        self.assertEqual(value, 2.0)
        self.assertEqual(beyond, 10)
        self.assertEqual(pct, 23.0)              # 3/13 = 23.07..%

    def test_too_few_samples_report_the_maximum_as_p100(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertEqual(metrics.tail([5.0] * 10), (5.0, 100.0, 0))
        self.assertEqual(metrics.tail([]), (None, None, 0))

    def test_order_of_input_does_not_matter(self):
        xs = [7, 1, 9, 3, 5, 2, 8, 6, 4, 10, 11, 0]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class PairedComparison(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        self.assertEqual(compare.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), (2.75, 5.5, 8.25))
        self.assertEqual(compare.quartiles([4.0]), (4.0, 4.0, 4.0))

    def test_better_respects_direction_and_ties(self):
        self.assertEqual(compare.better(1.0, 2.0, "lower"), 1)
        self.assertEqual(compare.better(1.0, 2.0, "higher"), -1)
        self.assertEqual(compare.better(2.0, 2.0, "higher"), 0)

    def test_gain_needs_nine_of_ten_wins_and_a_gap_wider_than_the_spread(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]
        change = [p - 1.0 for p in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)["verdict"], "gain")
        # eight wins and two losses are not enough
        mixed = change[:8] + [p + 0.5 for p in parent[8:]]
        r = compare.verdict(parent, mixed, "lower", 0.1)
        self.assertEqual((r["wins"], r["losses"]), (8, 2))
        self.assertNotEqual(r["verdict"], "gain")

    def test_ties_count_for_neither_side(self):
        parent = [5.0] * 10
        r = compare.verdict(parent, list(parent), "lower", 0.1)
        self.assertEqual((r["wins"], r["losses"], r["ties"], r["verdict"]), (0, 0, 10, "unchanged"))

    def test_regression_beyond_the_bound(self):
        parent = [100.0 + i for i in range(10)]
        change = [p * 0.8 for p in parent]       # throughput 20% lower
        self.assertEqual(compare.verdict(parent, change, "higher", 0.1)["verdict"], "regressed")
        self.assertEqual(compare.verdict(parent, change, "higher", 0.25)["verdict"], "unchanged")

    def test_spread_wider_than_the_bound_is_unresolved(self):
        parent = [1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0]
        change = [1.5] * 10
        self.assertEqual(compare.verdict(parent, change, "lower", 0.2)["verdict"], "unresolved")
        # unless every change run beats every parent run ...
        self.assertEqual(compare.verdict(parent, [0.5] * 10, "lower", 0.2)["verdict"], "unchanged")
        # ... and a gain still needs the medians further apart than q3 - q1
        self.assertEqual(compare.verdict(parent, [0.2] * 10, "lower", 0.2)["verdict"], "gain")


    def test_a_gain_does_not_count_while_the_change_fails_more(self):
        def runs(values, failed):
            return [{"metrics": {"pass_s": v}, "attempted": 10, "failed": failed} for v in values]
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]
        faster = [p - 1.0 for p in parent]
        spec = {"pass_s": {"better": "lower", "bound": 0.1}}
        same = compare.report({"w": {"parent": runs(parent, 0), "change": runs(faster, 0)}}, spec)
        self.assertEqual(same["w"]["metrics"]["pass_s"]["verdict"], "gain")
        worse = compare.report({"w": {"parent": runs(parent, 0), "change": runs(faster, 1)}}, spec)
        self.assertEqual(worse["w"]["metrics"]["pass_s"]["verdict"], "failing")
        self.assertEqual(worse["w"]["failures"]["change"], {"failed": 10, "attempted": 100})
        # fewer failures than the parent leave the gain standing
        fixed = compare.report({"w": {"parent": runs(parent, 1), "change": runs(faster, 0)}}, spec)
        self.assertEqual(fixed["w"]["metrics"]["pass_s"]["verdict"], "gain")

    def test_run_length_comes_from_the_benchmark_file(self):
        seconds, spec = compare.load_spec(metrics.SPEC)
        with open(metrics.SPEC) as fh:
            b = json.load(fh)
        self.assertEqual(seconds, b["run_seconds"])
        self.assertEqual(set(spec), {m["name"] for m in b["end_to_end"]})


def op(i, name, kind, start_ms, end_ms, read=0, written=0):
    return {"id": i, "name": name, "kind": kind, "start_ms": start_ms, "end_ms": end_ms,
            "ok": True, "error": "", "read_bytes": read, "written_bytes": written}


class PrintedMetrics(unittest.TestCase):
    """Every workload reports every metric BENCHMARK.json lists."""

    def check(self, raw):
        m = metrics.report(raw, [])["metrics"]
        for name in metrics.metric_names(0):
            self.assertIn(name, m)
            self.assertGreater(m[name], 0, name)
        return m

    def test_el_record(self):
        raw = {"workload": "el_flat", "seed": 1, "seconds": 4, "trace": False, "cores": 4,
               "setup_s": [3.0, 1.0, 1.2],
               "inputs": [{"label": "main", "docs": 300, "bytes": 1000},
                          {"label": "small", "docs": 100, "bytes": 400}],
               "ops": [op(0, "small", "setup", 0, 3000), op(1, "main", "el_batch", 3000, 4000, 2500, 70),
                       op(2, "small", "el_stream", 4000, 6000),
                       op(3, "main", "el_batch", 6000, 8000, 2500, 70)],
               "passes": [{"traced": False, "wall_s": 3.0, "ops": [1, 2]},
                          {"traced": False, "wall_s": 2.0, "ops": [3]}],
               "checks": [{"name": "c", "ok": False, "detail": ""}]}
        m = self.check(raw)
        self.assertEqual(m["setup_s"], 1.2)
        self.assertEqual(m["pass_s"], 2.5)
        self.assertAlmostEqual(m["call_s_geomean"], 2 ** 0.5)
        self.assertEqual(m["read_bytes_per_input_byte"], 2.5)
        self.assertEqual(m["el_docs_per_s"], 225.0)
        self.assertEqual(m["stream_el_docs_per_s"], 50.0)
        self.assertEqual(m["failed_op_share"], 1 / 5)

    def test_serve_record(self):
        raw = {"workload": "serve_mix", "seed": 1, "seconds": 4, "trace": False, "cores": 4,
               "setup_s": [30.0], "tables": {"a": 100, "b": 300}, "probes_per_trigger": 50,
               "ops": [op(0, "q1", "setup", 0, 5000), op(1, "q1", "query", 5000, 6000, 600),
                       op(2, "q2", "query", 6000, 10000, 200), op(3, "bm25", "serve", 10000, 10500)],
               "passes": [{"traced": False, "wall_s": 5.5, "ops": [1, 2, 3]}],
               "checks": []}
        m = self.check(raw)
        self.assertEqual(m["pass_s"], 5.5)
        self.assertAlmostEqual(m["call_s_geomean"], 2.0)
        self.assertEqual(m["read_bytes_per_input_byte"], 2.0)
        self.assertEqual(m["stream_serve_qps"], 100.0)


if __name__ == "__main__":
    unittest.main()
