"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root. They need no build and no JVM.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def fake_result(n_ops=30):
    ops = [{"kind": "q", "ms": 100.0 + i, "ok": True, "traced": False, "phases": {}, "extra": {}}
           for i in range(n_ops)]
    return {"wall_ns": "8000000000", "cpu_ns": "16000000000", "peak_rss_kb": "1048576",
            "timed_ops": str(n_ops), "ops": ops,
            "layers": {k: 1.0 for k in metrics.PER_LAYER}, "gate": {}}


class TailPercentileRule(unittest.TestCase):
    def test_samples_beyond(self):
        self.assertEqual(metrics.samples_beyond(100, 0.9), 10)
        self.assertEqual(metrics.samples_beyond(92, 0.9), 10)
        self.assertEqual(metrics.samples_beyond(91, 0.9), 9)
        self.assertEqual(metrics.samples_beyond(21, 0.5), 10)

    def test_tail_needs_ten_beyond(self):
        xs = list(range(100))
        self.assertAlmostEqual(metrics.tail_percentile(xs, 0.9), 89.1)
        with self.assertRaises(ValueError):
            metrics.tail_percentile(xs[:91], 0.9)
        with self.assertRaises(ValueError):
            metrics.tail_percentile(list(range(19)), 0.5)

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(metrics.percentile([5], 0.9), 5)


class MetricNames(unittest.TestCase):
    def test_names_match_regex(self):
        b = bench()
        names = ([w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"]]
                 + [m["name"] for m in b["per_layer"]])
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9]")
            self.assertTrue(metrics.NAME_RE.fullmatch(n) and len(n) <= 64, n)
        self.assertEqual(len(names), len(set(names)))

    def test_declared_names_are_printed_and_nothing_else(self):
        b = bench()
        res = fake_result()
        e2e = metrics.end_to_end(res, setup_s=12.5)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         {k: v["unit"] for k, v in e2e.items()})
        layers = metrics.per_layer(res)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         {k: v["unit"] for k, v in layers.items()})

    def test_jvm_reporting_other_names_is_refused(self):
        res = fake_result()
        res["layers"]["exec.unknown"] = 1.0
        with self.assertRaises(KeyError):
            metrics.per_layer(res)
        del res["layers"]["exec.unknown"]
        del res["layers"]["exec.jobs"]
        with self.assertRaises(KeyError):
            metrics.per_layer(res)

    def test_jvm_emits_every_per_layer_name(self):
        # the JVM side builds names from these literals and families
        with open(os.path.join(HERE, "src/main/scala/perfbench/Layers.scala")) as f:
            src = f.read()
        for name in metrics.PER_LAYER:
            head = name.split(".")[0]
            self.assertIn(head, src, name)

    def test_bounds(self):
        b = bench()
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in b["end_to_end"])}])
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)


class IndexRoot(unittest.TestCase):
    def test_empty_root_passes_and_stale_root_fails(self):
        with tempfile.TemporaryDirectory() as d:
            metrics.assert_empty_root(d)
            os.mkdir(os.path.join(d, "dedup-0123abcd"))
            with self.assertRaises(AssertionError):
                metrics.assert_empty_root(d)


class Generator(unittest.TestCase):
    def digest(self, seed, d):
        gen.generate(seed, d)
        h = {}
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                h[f] = hashlib.sha256(fh.read()).hexdigest()
        return h

    def test_same_seed_same_bytes_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as d:
            a = self.digest(7, f"{d}/a")
            b = self.digest(7, f"{d}/b")
            c = self.digest(8, f"{d}/c")
        self.assertEqual(a, b)
        seeded = [f for f in a if f not in ("region.parquet", "nation.parquet",
                                            "design_values.parquet")]
        for f in seeded:
            self.assertNotEqual(a[f], c[f], f)

    def test_every_day_plants_every_fault_class(self):
        with tempfile.TemporaryDirectory() as d:
            gen.gen_tools(5, d)
            with open(f"{d}/ingest_truth.json") as f:
                truth = json.load(f)
        by_day = {}
        for g, flag in truth["faults"].items():
            by_day.setdefault(g.split("-")[1], set()).add(flag)
        self.assertEqual(len(by_day), gen.DAYS)
        for flags in by_day.values():
            self.assertEqual(flags, set(gen.FAULTS))


class Command(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            cmd = bench()["command"] + ["--workload", "lookup", "--seed", "1",
                                        "--seconds", "1", "--trace", "0"]
            r = subprocess.run(cmd, cwd=d, capture_output=True, text=True, timeout=170)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
