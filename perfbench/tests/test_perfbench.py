"""Tests of the benchmark's own helpers.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
The JVM test compiles the benchmark first (see perfbench/build.py).
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def span(id_, parent, start_s, end_s, name="s"):
    return {"id": id_, "parent": parent, "name": name,
            "start_ns": int(start_s * 1e9), "end_ns": int(end_s * 1e9)}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        values = [7, 3, 10, 1, 9, 2, 8, 4, 6, 5]
        self.assertEqual(stats.percentile(values, 50), 5)
        self.assertEqual(stats.percentile(values, 90), 9)
        self.assertEqual(stats.percentile(values, 91), 10)
        self.assertEqual(stats.percentile(values, 100), 10)
        self.assertEqual(stats.percentile(values, 0), 1)

    def test_single_value(self):
        self.assertEqual(stats.percentile([4.5], 99), 4.5)


class SelfTimeTest(unittest.TestCase):
    def test_duration_minus_child_coverage(self):
        spans = [span(0, -1, 0, 10),
                 span(1, 0, 1, 3), span(2, 0, 2, 4),  # overlap: cover 1..4
                 span(3, 0, 8, 12),                     # clipped to 8..10
                 span(4, 1, 1, 2)]                      # grandchild: not the root's
        own = stats.self_times(spans)
        self.assertAlmostEqual(own[0], 10 - 3 - 2)
        self.assertAlmostEqual(own[1], 1)
        self.assertAlmostEqual(own[3], 4)

    def test_by_name(self):
        spans = [span(0, -1, 0, 4, "pass"), span(1, 0, 0, 1, "query"),
                 span(2, 0, 2, 3, "query")]
        self.assertEqual(stats.self_time_by_name(spans), {"pass": 2.0, "query": 2.0})


class MetricNamesTest(unittest.TestCase):
    def test_end_to_end_names_match_benchmark_json(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        raw = {"session_s": 1.0, "setup_s": [1.0, 2.0, 3.0], "cold_s": 5.0,
               "warm_s": [2.0, 3.0], "peak_heap_mb": 80.0,
               "passes": [{"kind": "warm", "queries": {"q": 0.5}}]}
        got = stats.end_to_end(raw, "event_analytics")
        self.assertEqual(set(got), {m["name"] for m in spec["end_to_end"]})
        self.assertEqual(got["setup_s"], 3.0)
        self.assertEqual(got["latency_ms_p90"], 500.0)

    def test_per_layer_from_paired_passes(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        raw = {"layers": {"tasks.run_ms": 4000.0}, "cores": 4, "spans": [{}] * 3,
               "traced_warm_s": [2.2, 2.0, 3.0], "warm_s": [2.0, 2.1, 2.0],
               "functions": {"functions.bloom_rows_per_s": {"rows": 100,
                                                            "seconds": [1.0, 4.0, 2.0]}}}
        got = stats.per_layer(raw)
        self.assertTrue(set(got) <= {m["name"] for m in spec["per_layer"]})
        self.assertAlmostEqual(got["tasks.busy_ratio"], 4000.0 / (2200.0 * 4))
        self.assertEqual(got["functions.bloom_rows_per_s"], 50.0)
        # pair differences 0.2, -0.1, 1.0: median 0.2 over untraced median 2.0
        self.assertAlmostEqual(got["trace.overhead_pct"], 10.0)
        self.assertEqual(got["trace.spans"], 3)


class JvmHelpersTest(unittest.TestCase):
    """Fingerprint order-invariance and seeded-generator determinism."""

    def test_self_test_main(self):
        tmp = os.path.join(build.out_dir(), "selftest")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java"] + run.JAVA_OPTS + [
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", build.classpath(), "perfbench.SelfTest"]
        try:
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        checks = [l for l in p.stdout.splitlines() if l.startswith(("ok", "FAIL"))]
        self.assertEqual(p.returncode, 0, "\n".join(checks) + p.stderr[-2000:])
        self.assertGreaterEqual(len(checks), 8)


if __name__ == "__main__":
    unittest.main()
