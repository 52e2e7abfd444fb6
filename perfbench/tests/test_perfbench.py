"""The benchmark's own tests.

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The smoke tests run every workload at a tiny input scale, untraced and
traced (about three minutes on a 4-core machine).
"""
import json
import os
import re
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = os.path.join(ROOT, "perfbench")
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("etl_sync", "corpus_dedup", "vector_search")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# layers each workload must never enter (traced self time exactly 0)
BYPASS = {
    "etl_sync": ("functions", "operators.dedup", "operators.similarity", "streaming"),
    "corpus_dedup": ("sources.jdbc", "operators.similarity"),
    "vector_search": ("sources.jdbc", "operators.dedup", "streaming"),
}


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def java_main(*args):
    jar, _ = build.ensure(ROOT)
    cp = os.pathsep.join([jar, os.path.join(build.spark_jars(), "*")])
    return subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graftbench.Main", *args],
                          capture_output=True, text=True, cwd=ROOT)


def dump(workload, seed):
    r = java_main("--dump-inputs", "--workload", workload, "--seed", str(seed), "--scale", "0.05")
    assert r.returncode == 0, r.stderr
    return json.loads(r.stdout.strip().splitlines()[-1])


def bench(workload, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        capture_output=True, text=True, cwd=ROOT, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    return r.stdout.strip().splitlines()


class SpecTest(unittest.TestCase):
    def test_names_and_units(self):
        s = spec()
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]] + \
            [w["name"] for w in s["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in s["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertIn("setup_s", [m["name"] for m in s["end_to_end"]])
        self.assertEqual([w["name"] for w in s["workloads"]], list(WORKLOADS))

    def test_selftest(self):
        r = java_main("--selftest")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)


class InputsTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in WORKLOADS:
            self.assertEqual(dump(w, 3)["sha256"], dump(w, 3)["sha256"], w)

    def test_other_seed_other_inputs(self):
        for w in WORKLOADS:
            a, b = dump(w, 3), dump(w, 4)
            self.assertNotEqual(a["sha256"], b["sha256"], w)
            self.assertEqual(set(a["stats"]), set(b["stats"]))


class SmokeTest(unittest.TestCase):
    def check(self, trace):
        declared = [m["name"] for m in spec()["per_layer" if trace else "end_to_end"]]
        for w in WORKLOADS:
            lines = bench(w, trace)
            res = json.loads(lines[-1])
            self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
            self.assertTrue(res["correct"], (w, lines))
            self.assertEqual(res["failed"], 0)
            self.assertGreaterEqual(res["attempted"], 1)
            self.assertEqual(sorted(res["metrics"]), sorted(declared), w)
            for n, m in res["metrics"].items():
                self.assertIsInstance(m["value"], (int, float), (w, n))
            if trace:
                self.assertTrue(os.path.exists(
                    os.path.join(BENCH, "out", f"spans_{w}_7.jsonl")))
                for layer in BYPASS[w]:
                    self.assertEqual(res["metrics"][f"layer.{layer}.self_s"]["value"], 0, (w, layer))
            else:
                for n, m in res["metrics"].items():
                    self.assertGreater(m["value"], 0, (w, n))

    def test_untraced_run_emits_every_end_to_end_metric(self):
        self.check(0)

    def test_traced_run_emits_every_per_layer_metric(self):
        self.check(1)


if __name__ == "__main__":
    unittest.main()
