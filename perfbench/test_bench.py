"""Self-tests of the benchmark's own code (no engine, no Spark):

    python3 -m unittest perfbench/test_bench.py
"""

import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402


def digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


class Inputs(unittest.TestCase):
    def test_script_follows_the_seed(self):
        self.assertEqual(gen.request_script(7, 2_000), gen.request_script(7, 2_000))
        self.assertNotEqual(gen.request_script(7, 2_000), gen.request_script(8, 2_000))

    def test_script_shape(self):
        ops = gen.request_script(3, 2_000, sessions=30)
        per_session = {}
        for op in ops:
            per_session.setdefault(op["session"], []).append(op["kind"])
        for kinds in per_session.values():
            self.assertEqual(kinds[0], "recommend")
            self.assertIn(len(kinds) - 1, (1, 2, 3))
        # every block of three sessions holds the same request mix
        self.assertEqual(len(ops), 30 + 10 * 6)

    def test_catalog_bytes_follow_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            gen.write_catalog(a, 5, rows=3_000)
            gen.write_catalog(b, 5, rows=3_000)
            gen.write_catalog(c, 6, rows=3_000)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))

    def test_suite_order_follows_the_seed(self):
        names = [f"q{i}" for i in range(50)]
        self.assertEqual(gen.suite_order(1, names), gen.suite_order(1, names))
        self.assertNotEqual(gen.suite_order(1, names), gen.suite_order(2, names))
        self.assertEqual(sorted(gen.suite_order(1, names)), sorted(names))

    def test_suite_sample_is_recorded(self):
        recorded = {l.split("\t")[0] for l in open(os.path.join(HERE, "checksums.tsv"))}
        sample = [l.strip() for l in open(os.path.join(HERE, "suite.txt")) if l.strip()]
        self.assertTrue(set(sample) <= recorded)
        for q in metrics.RECOMMEND_QUERIES + metrics.QA_QUERIES:
            self.assertIn(q, sample)


class Percentiles(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n, want in [(20, 50), (39, 50), (40, 75), (100, 90), (200, 95),
                        (999, 95), (1000, 99), (10_000, 99.9)]:
            p, v = metrics.tail_percentile(range(1, n + 1))
            self.assertEqual(p, want, n)
            self.assertGreaterEqual(n - v, 10, n)

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail_percentile(range(19)))


class Spec(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)

    def test_self_time(self):
        spans = [
            {"id": 0, "parent": -1, "name": "req", "start_ns": 0, "end_ns": 100},
            {"id": 1, "parent": 0, "name": "a", "start_ns": 10, "end_ns": 40},
            {"id": 2, "parent": 0, "name": "b", "start_ns": 50, "end_ns": 90},
        ]
        s = metrics.span_summary(spans)
        self.assertAlmostEqual(s["req"]["self_ms"], 30 / 1e6)
        self.assertAlmostEqual(s["a"]["self_ms"], 30 / 1e6)


if __name__ == "__main__":
    unittest.main()
