"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import stats  # noqa: E402


def span(i, name, parent, start, end, jobs=0):
    return {"id": i, "name": name, "parent": parent, "start_s": start,
            "end_s": end, "jobs": jobs}


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 31))  # 30 samples
        q, v = stats.tail(xs)
        self.assertEqual(q, 66)  # rank 20, ten samples above it
        self.assertEqual(v, 20)
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_twenty_samples_give_the_median(self):
        q, v = stats.tail(list(range(20, 0, -1)))
        self.assertEqual((q, v), (50, 10))

    def test_large_sample_reaches_p99(self):
        q, v = stats.tail(list(range(1000)))
        self.assertEqual((q, v), (99, 989))

    def test_fewer_than_twenty_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100, 3.0))
        self.assertEqual(stats.tail(list(range(19))), (100, 18))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class SelfTime(unittest.TestCase):
    def test_children_and_overlaps(self):
        spans = [span(0, "op", -1, 0.0, 10.0),
                 span(1, "a", 0, 1.0, 3.0),
                 span(2, "b", 0, 2.0, 5.0),    # overlaps a
                 span(3, "c", 0, 8.0, 12.0),   # runs past its parent
                 span(4, "leaf", 1, 1.5, 2.5)]  # grandchild of op
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 4.0 - 2.0)
        self.assertAlmostEqual(st[1], 2.0 - 1.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 4.0)
        self.assertAlmostEqual(st[4], 1.0)

    def test_by_layer_sums_self_time_and_jobs(self):
        spans = [span(0, "op", -1, 0.0, 4.0),
                 span(1, "build", 0, 0.0, 1.0, jobs=2),
                 span(2, "op", -1, 4.0, 6.0),
                 span(3, "build", 2, 4.5, 5.0, jobs=1)]
        layers = stats.by_layer(spans)
        self.assertAlmostEqual(layers["op"]["self_s"], 3.0 + 1.5)
        self.assertAlmostEqual(layers["build"]["self_s"], 1.5)
        self.assertEqual(layers["build"]["jobs"], 3)
        self.assertEqual(layers["op"]["n"], 2)


class Generators(unittest.TestCase):
    CASES = [
        ("er_pipeline", {"blocks_per_shard": 3, "abr_per_block": 20,
                         "crawl_per_block": 10}, 2),
        ("dedup_ingest", {"families": 30, "fresh_families": 6,
                          "replicas": 3}, 3),
        ("catalog_cold", {"scale": 0.002}, 0),
    ]

    def test_same_seed_same_inputs(self):
        for name, cfg, ops in self.CASES:
            with self.subTest(workload=name):
                a, meta_a = gen.generate(name, 5, cfg, ops)
                b, meta_b = gen.generate(name, 5, cfg, ops)
                self.assertEqual(gen.digest(a), gen.digest(b))
                self.assertEqual(meta_a, meta_b)

    def test_other_seed_other_inputs(self):
        for name, cfg, ops in self.CASES:
            with self.subTest(workload=name):
                a, _ = gen.generate(name, 5, cfg, ops)
                b, _ = gen.generate(name, 6, cfg, ops)
                self.assertNotEqual(gen.digest(a), gen.digest(b))

    def test_er_planted_truth(self):
        tables, meta = gen.generate("er_pipeline", 1, self.CASES[0][1], 2)
        truth = tables["truth"].to_pylist()
        self.assertEqual(len(truth), meta["crawl_rows"])
        self.assertEqual(len({t["domain"] for t in truth}), len(truth))
        abns = [a.replace(" ", "") for s in range(2)
                for a in tables[f"abr_{s}"].column("abn").to_pylist()]
        for t in truth:
            if t["kind"] == "exact":
                self.assertIn(t["abn"], abns)

    def test_dedup_waves_partition_the_ingest(self):
        tables, meta = gen.generate("dedup_ingest", 1, self.CASES[1][1], 3)
        ids = [i for w in range(3)
               for i in tables[f"wave_{w}"].column("doc_id").to_pylist()]
        self.assertEqual(len(ids), meta["ingest_docs"])
        self.assertEqual(len(set(ids)), len(ids))
        hist = set(tables["history"].column("doc_id").to_pylist())
        self.assertFalse(hist & set(ids))


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH),
                               "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_declared_names_and_units(self):
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
                 for m in self.bench[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for k in ("end_to_end", "per_layer"):
            for m in self.bench[k]:
                self.assertTrue(stats.UNIT_RE.match(m["unit"]), m["unit"])

    def test_charset_rejects_other_characters(self):
        for bad in ("", "_lead", "a b", "a/b", "a:b", "x" * 65, "é"):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_emitted_metrics_match_the_declaration(self):
        rec = {"op_s": [1.0, 2.0, 3.0], "wall_s": 6.0,
               "session_ready_s": 4.0, "cpu_s": 9.0, "max_rss_mb": 900.0,
               "cores": 4, "pinned_mb": 0.0, "pinned_blocks": 0,
               "spans": [], "counters": {}, "info": {}}
        e2e, _ = stats.end_to_end(rec, {"input_rows": 60}, [0.5, 0.7, 0.6])
        self.assertEqual(set(e2e),
                         {m["name"] for m in self.bench["end_to_end"]})
        self.assertAlmostEqual(e2e["setup_s"], 4.6)
        self.assertAlmostEqual(e2e["rows_per_s"], 10.0)
        layer = stats.per_layer(rec, 5.0, {})
        self.assertEqual(set(layer),
                         {m["name"] for m in self.bench["per_layer"]})
        self.assertAlmostEqual(layer["trace.overhead_s"], 1.0)


if __name__ == "__main__":
    unittest.main()
