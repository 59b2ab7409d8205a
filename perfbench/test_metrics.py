"""Tests for the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import re
import unittest
from pathlib import Path

import metrics as m

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def batch_raw(ms, errors=()):
    return {"setup_s": [3.0, 1.0, 1.2], "storage_peak_mb": 1.5,
            "passes": [[{"name": f"q{i}", "ms": v, **({"error": "boom"} if i in errors else {})}
                        for i, v in enumerate(ms)]]}


def serve_raw(kinds_ms):
    return {"setup_s": [2.0, 1.0, 1.1], "window_s": 10.0, "round_size": 10,
            "requests": [{"kind": k, "label": f"{k}{i}", "ms": v} for i, (k, v) in enumerate(kinds_ms)]}


class PercentileRule(unittest.TestCase):
    def test_top_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(m.top_percentile(100), 90)
        self.assertEqual(m.top_percentile(1000), 90)
        self.assertEqual(m.top_percentile(50), 80)
        self.assertEqual(m.top_percentile(40), 75)
        for n in (n for n in range(1, 2000) if m.top_percentile(n) > 50):
            p = m.top_percentile(n)
            beyond = n - math.ceil(p / 100 * n)
            self.assertGreaterEqual(beyond, 10, n)

    def test_too_few_samples_fall_back_to_the_median(self):
        for n in (0, 1, 10, 19, 20):
            self.assertEqual(m.top_percentile(n), 50)

    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(m.percentile(values, 50), 50)
        self.assertEqual(m.percentile(values, 90), 90)
        self.assertEqual(m.percentile([7.0], 50), 7.0)
        with self.assertRaises(ValueError):
            m.percentile([], 50)

    def test_latency_reports_rank_and_count(self):
        lat = m.latency([(float(v), False) for v in range(1, 41)])
        self.assertEqual((lat["p50"], lat["top"], lat["top_rank"], lat["samples"]), (20.0, 30.0, 75, 40))


class Failures(unittest.TestCase):
    def test_failed_samples_miss_every_latency(self):
        samples = [(1.0, False)] * 4 + [(0.5, True)] * 6
        self.assertEqual(m.latency(samples)["p50"], m.FAILED)
        self.assertEqual(m.latency([(1.0, False)] * 6 + [(0.5, True)] * 4)["p50"], 1.0)

    def test_a_failed_check_fails_every_operation_of_that_name(self):
        ops = [("a", None), ("b", None), ("a", None), ("c", "boom")]
        self.assertEqual(m.failed_ops(ops, set()), 1)
        self.assertEqual(m.failed_ops(ops, {"a"}), 3)

    def test_batch_counts_failures_and_their_latency(self):
        e2e, attempted, failed, info = m.batch_metrics(batch_raw([10.0, 20.0, 30.0], errors={1}), {"q2"})
        self.assertEqual((attempted, failed), (3, 2))
        self.assertEqual(info["op_p50_ms"], m.FAILED)
        self.assertAlmostEqual(e2e["wall_s"], 0.06)

    def test_serve_counts_failed_requests(self):
        raw = serve_raw([("profile", 100.0)] * 16 + [("upload", 300.0)] * 4)
        raw["requests"][0]["error"] = "HTTP 500"
        e2e, attempted, failed, info = m.serve_metrics(raw, set())
        self.assertEqual((attempted, failed), (20, 1))
        self.assertAlmostEqual(info["throughput_rps"], 1.9)
        self.assertAlmostEqual(e2e["wall_s"], 5.0)

    def test_infinite_latency_stays_valid_json(self):
        json.loads(json.dumps(m.finite(m.FAILED), allow_nan=False))


class NamedMetrics(unittest.TestCase):
    def test_spec_metrics_have_valid_names_and_units(self):
        names = [w["name"] for key in ("end_to_end", "per_layer") for w in SPEC[key]]
        self.assertEqual(len(names), len(set(names)))
        for key in ("end_to_end", "per_layer"):
            for w in SPEC[key]:
                self.assertRegex(w["name"], r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
                self.assertRegex(w["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
                self.assertIn(w["better"], ("lower", "higher"))
        self.assertIn({"name": "setup_s", "unit": "s", "better": "lower",
                       "bound": max(w["bound"] for w in SPEC["end_to_end"])}, SPEC["end_to_end"])

    def test_every_end_to_end_metric_is_computed_on_every_workload(self):
        wanted = {w["name"] for w in SPEC["end_to_end"]}
        batch = m.batch_metrics(batch_raw([10.0, 20.0, 30.0]), set())[0]
        serve = m.serve_metrics(serve_raw([("profile", 100.0)] * 8 + [("upload", 300.0)] * 2), set())[0]
        self.assertEqual(set(batch), wanted)
        self.assertEqual(set(serve), wanted)

    def test_result_line_carries_each_metric_with_its_unit(self):
        values = m.batch_metrics(batch_raw([10.0, 20.0, 30.0]), set())[0]
        line = m.result_line(SPEC["end_to_end"], values, attempted=3, failed=0)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(line["correct"])
        for w in SPEC["end_to_end"]:
            self.assertEqual(line["metrics"][w["name"]]["unit"], w["unit"])
        with self.assertRaises(KeyError):
            m.result_line(SPEC["end_to_end"], {}, attempted=1, failed=0)

    def test_harness_emits_every_per_layer_metric(self):
        scala = "".join(p.read_text() for p in (HERE / "src").rglob("*.scala"))
        emitted = set(re.findall(r'"([a-z][a-z_]*(?:\.[a-z_]+)?)" ->', scala))
        emitted |= {f"plan.{p}_s" for p in ("analysis", "optimization", "planning")}
        for w in SPEC["per_layer"]:
            self.assertIn(w["name"], emitted)


if __name__ == "__main__":
    unittest.main()
