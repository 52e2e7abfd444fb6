"""Summary math of tools/perf_ab.py on canned results (no JVM).

Run from the repository root:

    python3 -m unittest discover -s tools/tests -v
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.dont_write_bytecode = True
import perf_ab  # noqa: E402

SPEC = [
    {"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "bulk_items_per_s", "unit": "items/s", "better": "higher", "bound": 0.25},
]


def result(pass_s, bulk, failed=0, attempted=10, correct=True):
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {"pass_s": {"value": pass_s, "unit": "s"},
                        "bulk_items_per_s": {"value": bulk, "unit": "items/s"}}}


def rows_by_name(runs):
    rows, ops = perf_ab.summarize(SPEC, runs)
    return {r["name"]: r for r in rows}, ops


class SummaryMath(unittest.TestCase):

    def test_medians_spread_and_signed_worse_by(self):
        runs = {"parent": [result(p, 100.0) for p in (9.0, 10.0, 10.0, 11.0, 10.0)],
                "change": [result(12.0, 90.0) for _ in range(5)]}
        rows, ops = rows_by_name(runs)
        p = rows["pass_s"]
        self.assertEqual((p["parent"], p["change"]), (10.0, 12.0))
        self.assertAlmostEqual(p["worse_by"], 0.2)  # lower is better: slower is worse
        # inclusive quartiles of 9,10,10,10,11 are 10 and 10
        self.assertAlmostEqual(p["parent_iqr_rel"], 0.0)
        self.assertEqual((p["wins"], p["verdict"]), (0, "ok"))
        b = rows["bulk_items_per_s"]
        self.assertAlmostEqual(b["worse_by"], 0.1)  # higher is better: fewer is worse
        self.assertEqual(b["verdict"], "ok")
        self.assertEqual(ops["parent"], {"attempted": 50, "failed": 0,
                                         "incorrect_runs": 0, "missing_runs": 0})
        self.assertFalse(perf_ab.regressed(*perf_ab.summarize(SPEC, runs)))

    def test_beyond_the_bound_is_worse_and_fails_the_exit(self):
        runs = {"parent": [result(10.0, 100.0)] * 4,
                "change": [result(13.0, 100.0)] * 4}
        rows, _ = rows_by_name(runs)
        self.assertAlmostEqual(rows["pass_s"]["worse_by"], 0.3)
        self.assertEqual(rows["pass_s"]["verdict"], "WORSE")
        self.assertTrue(perf_ab.regressed(*perf_ab.summarize(SPEC, runs)))

    def test_better_change_reads_negative_and_counts_wins(self):
        runs = {"parent": [result(10.0, 100.0)] * 4,
                "change": [result(8.0, 125.0)] * 4}
        rows, _ = rows_by_name(runs)
        self.assertAlmostEqual(rows["pass_s"]["worse_by"], -0.2)
        self.assertAlmostEqual(rows["bulk_items_per_s"]["worse_by"], -0.25)
        self.assertEqual(rows["pass_s"]["wins"], 4)

    def test_wide_parent_spread_is_unresolved_not_unchanged(self):
        # parent quartiles 8.75 and 11.25 around a median of 10: IQR/median 0.25
        runs = {"parent": [result(p, 100.0) for p in (5.0, 10.0, 10.0, 15.0)],
                "change": [result(10.0, 100.0)] * 4}
        rows, _ = rows_by_name(runs)
        self.assertAlmostEqual(rows["pass_s"]["parent_iqr_rel"], 0.25)
        self.assertEqual(rows["pass_s"]["verdict"], "ok")  # at the bound, not above
        runs["parent"] = [result(p, 100.0) for p in (4.0, 10.0, 10.0, 16.0)]
        rows, _ = rows_by_name(runs)
        self.assertAlmostEqual(rows["pass_s"]["parent_iqr_rel"], 0.3)
        self.assertEqual(rows["pass_s"]["verdict"], "unresolved")
        self.assertFalse(perf_ab.regressed(*perf_ab.summarize(SPEC, runs)))

    def test_a_higher_failed_share_or_a_lost_run_fails_the_exit(self):
        clean = [result(10.0, 100.0)] * 3
        runs = {"parent": clean, "change": clean[:2] + [result(10.0, 100.0, failed=1)]}
        _, ops = rows_by_name(runs)
        self.assertEqual((ops["change"]["failed"], ops["change"]["attempted"]), (1, 30))
        self.assertTrue(perf_ab.regressed(*perf_ab.summarize(SPEC, runs)))
        # a run without a result drops its pair from the metrics
        runs = {"parent": clean, "change": clean[:2] + [None]}
        rows, ops = rows_by_name(runs)
        self.assertEqual(rows["pass_s"]["n"], 2)
        self.assertEqual(ops["change"]["missing_runs"], 1)
        self.assertTrue(perf_ab.regressed(*perf_ab.summarize(SPEC, runs)))
        # fewer than two complete pairs: the metric is missing
        runs = {"parent": clean[:1], "change": clean[:1]}
        rows, _ = rows_by_name(runs)
        self.assertEqual(rows["pass_s"]["verdict"], "missing")

    def test_report_prints_every_metric_and_both_sides(self):
        runs = {"parent": [result(10.0, 100.0)] * 3, "change": [result(10.0, 100.0)] * 3}
        buf = io.StringIO()
        perf_ab.report("w", *perf_ab.summarize(SPEC, runs), out=buf)
        text = buf.getvalue()
        for needle in ("== w", "pass_s", "bulk_items_per_s",
                       "parent: failed/attempted 0/30", "change: failed/attempted 0/30"):
            self.assertIn(needle, text)


LAYERS = [
    {"name": "operators.similarity.read_index_ms", "unit": "ms", "better": "lower"},
    {"name": "operators.similarity.search.jobs", "unit": "count", "better": "lower"},
    {"name": "sync.skip_ratio", "unit": "ratio", "better": "higher"},
    {"name": "operators.dedup.curate.jobs", "unit": "count", "better": "lower"},
]


def traced_result(read_ms, jobs):
    return {"correct": True, "attempted": 10, "failed": 0,
            "metrics": {"operators.similarity.read_index_ms": {"value": read_ms, "unit": "ms"},
                        "operators.similarity.search.jobs": {"value": jobs, "unit": "count"},
                        "operators.dedup.curate.jobs": {"value": 0, "unit": "count"}}}


class TracedLayers(unittest.TestCase):

    def test_layer_medians_only_for_metrics_the_workload_reports(self):
        traced = {"parent": [traced_result(m, 7) for m in (500.0, 568.0, 600.0)],
                  "change": [traced_result(m, 4) for m in (80.0, 88.0, 95.0)]}
        rows = {r["name"]: r for r in perf_ab.summarize_layers(LAYERS, traced)}
        self.assertNotIn("sync.skip_ratio", rows)  # not reported by this workload
        self.assertNotIn("operators.dedup.curate.jobs", rows)  # 0 on both sides
        r = rows["operators.similarity.read_index_ms"]
        self.assertEqual((r["n"], r["parent"], r["change"]), (3, 568.0, 88.0))
        self.assertAlmostEqual(r["worse_by"], (88.0 - 568.0) / 568.0)
        self.assertEqual((rows["operators.similarity.search.jobs"]["parent"],
                          rows["operators.similarity.search.jobs"]["change"]), (7, 4))
        # a traced run without a result drops its pair
        traced["change"][0] = None
        rows = {r["name"]: r for r in perf_ab.summarize_layers(LAYERS, traced)}
        self.assertEqual(rows["operators.similarity.read_index_ms"]["n"], 2)

    def test_layers_are_printed_and_never_change_the_exit_code(self):
        spec = {"end_to_end": SPEC, "per_layer": LAYERS}
        runs = {"parent": [result(10.0, 100.0)] * 3, "change": [result(10.0, 100.0)] * 3}
        # every layer metric far worse on the change side
        traced = {"parent": [traced_result(10.0, 1)] * 3,
                  "change": [traced_result(1000.0, 50)] * 3}
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "ab.json")
            with open(path, "w") as f:
                json.dump({"spec": spec, "workload": "w", "runs": runs, "traced": traced}, f)
            buf = io.StringIO()
            argv = sys.argv
            sys.argv = ["perf_ab.py", "--summarize", path]
            try:
                with contextlib.redirect_stdout(buf), self.assertRaises(SystemExit) as e:
                    perf_ab.main()
            finally:
                sys.argv = argv
        self.assertEqual(e.exception.code, 0)
        text = buf.getvalue()
        self.assertIn("per-layer", text)
        self.assertIn("operators.similarity.read_index_ms", text)
        self.assertIn("+99.000", text)
        # a saved run without traced pairs prints no layer section
        buf = io.StringIO()
        perf_ab.report("w", *perf_ab.summarize(SPEC, runs), out=buf)
        self.assertNotIn("per-layer", buf.getvalue())


if __name__ == "__main__":
    unittest.main()
