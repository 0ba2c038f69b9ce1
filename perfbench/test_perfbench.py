"""Tests of the benchmark's own rules.  Run from the checkout root:

    python3 -m unittest discover -s perfbench
"""
import hashlib
import json
import os
import random
import re
import sys
import tempfile
import unittest

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

UNIT_RE = r"^[A-Za-z0-9_/%.-]{1,16}$"


def row_hash(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            for row in pq.read_table(os.path.join(path, name)).to_pylist():
                h.update(repr(sorted(row.items())).encode())
    return h.hexdigest()


class TailRule(unittest.TestCase):

    def test_ten_samples_beyond_the_reported_percentile(self):
        rnd = random.Random(7)
        for n in range(11, 300):
            xs = [rnd.random() for _ in range(n)]
            value, pct, count = metrics.tail(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)
            # the next rank up would leave fewer than ten beyond it
            self.assertLess(sum(1 for x in xs if x > sorted(xs)[n - 10]), 10)
            self.assertEqual(pct, (100 * (n - 10)) // n)

    def test_stamp_on_a_round_sample(self):
        value, pct, n = metrics.tail(list(range(100)))
        self.assertEqual((value, pct, n), (89, 90, 100))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))
        with self.assertRaises(ValueError):
            metrics.tail([])


class FailCounting(unittest.TestCase):

    def test_raised_and_wrong_ops_both_count(self):
        ops = [{"name": "a", "ok": True}, {"name": "b", "ok": False},
               {"name": "c", "ok": True}, {"name": "c", "ok": True}]
        attempted, failed = metrics.fail_counts(ops, {"c"})
        self.assertEqual((attempted, failed), (4, 3))
        self.assertEqual(metrics.fail_ratio(attempted, failed), 0.75)

    def test_clean_run(self):
        ops = [{"name": "a", "ok": True}] * 5
        self.assertEqual(metrics.fail_counts(ops, set()), (5, 0))
        self.assertEqual(metrics.fail_ratio(5, 0), 0.0)


class Generators(unittest.TestCase):

    def test_listings_are_deterministic_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            gen.listings(a, 0.02, 5)
            gen.listings(b, 0.02, 5)
            gen.listings(c, 0.02, 6)
            self.assertEqual(row_hash(a), row_hash(b))
            self.assertNotEqual(row_hash(a), row_hash(c))

    def test_listings_state_their_clean_count(self):
        with tempfile.TemporaryDirectory() as d:
            size = gen.listings(d, 0.02, 3)
            with open(os.path.join(d, "manifest.json")) as f:
                self.assertEqual(json.load(f)["expected_clean"], size["expected_clean"])
            t = pq.read_table([os.path.join(d, "train.parquet"),
                               os.path.join(d, "test.parquet")])
            self.assertEqual(t.num_rows, size["raw"])
            no_null = t.drop_null()
            dirty = pc.is_in(no_null["zipcode"],
                             value_set=pc.cast(gen.DIRTY_ZIPCODES, "string"))
            self.assertEqual(pc.sum(dirty).as_py(), 3)
            self.assertEqual(no_null.num_rows - 3, size["expected_clean"])
            zips = set(no_null["zipcode"].to_pylist())
            self.assertTrue(any(z.endswith("-12") for z in zips))
            self.assertTrue(any(z.endswith(".0") for z in zips))

    def test_reference_size(self):
        size = gen.listing_sizes(1.0)
        self.assertEqual((size["raw"], size["train"], size["test"],
                          size["expected_clean"]), (99_569, 74_111, 25_458, 38_499))

    def test_query_tables_are_shipped(self):
        for t in run.TABLES:
            path = os.path.join(HERE, "data", "sf0.01", t + ".parquet")
            self.assertGreater(pq.read_metadata(path).num_rows, 0, t)


class EndToEnd(unittest.TestCase):

    REPORT = {"setup_s": [30.0, 11.0, 9.0], "passes": [8.0, 6.0, 7.0],
              "retained_heap_mb": 120.0,
              "counters_timed": {"exec": {"jobs": 30}, "tables": {"jobs": 3}}}

    def test_medians_and_per_pass_counts(self):
        self.assertEqual(metrics.end_to_end(self.REPORT), {
            "setup_s": 11.0, "run_s": 7.0, "retained_heap_mb": 120.0,
            "spark_jobs": 11.0})


class Catalogue(unittest.TestCase):

    def test_metric_names_and_units(self):
        for name, spec in {**metrics.END_TO_END, **metrics.PER_LAYER}.items():
            self.assertRegex(name, r"^[A-Za-z0-9_.-]+$")
            self.assertRegex(name, metrics.NAME_RE)
            self.assertRegex(spec[0], UNIT_RE)
            self.assertIn(spec[1], ("lower", "higher"))
        self.assertFalse(set(metrics.END_TO_END) & set(metrics.PER_LAYER))

    def test_each_layer_metric_maps_to_one_end_to_end_metric_and_workload(self):
        for name, (_, _, e2e, workload) in metrics.PER_LAYER.items():
            self.assertIn(e2e, metrics.END_TO_END, name)
            self.assertIn(workload, metrics.WORKLOADS, name)

    def test_readme_layer_table_matches_the_map(self):
        with open(os.path.join(HERE, "README.md")) as f:
            rows = re.findall(r"^\| `([^`]+)` \| `([^`]+)` \| ([a-z0-9.-]+) \|$",
                              f.read(), re.M)
        self.assertEqual({name: (e2e, w) for name, e2e, w in rows},
                         {k: v[2:] for k, v in metrics.PER_LAYER.items()})

    def test_benchmark_json_matches_the_catalogue(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual(set(bench), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in bench["workloads"]], metrics.WORKLOADS)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]},
                         {k: v[:2] for k, v in metrics.PER_LAYER.items()})
        for m in bench["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in bench["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
