"""Self-tests for the benchmark's own arithmetic and generators.

    python3 -m unittest discover -s perfbench/tests

No Spark and no build: these check the pieces whose mistakes would skew
every reported number without failing a run.
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def scratch_dir():
    base = os.path.join(os.path.dirname(BENCH), ".bench_build")
    os.makedirs(base, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=base)


class GeneratorDeterminism(unittest.TestCase):
    def test_tables_repeat_per_seed(self):
        a, b = gen.tables(5, 1, 30), gen.tables(5, 1, 30)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_seed_permutes_rows_only(self):
        a, b = gen.tables(5, 1, 30), gen.tables(6, 1, 30)
        self.assertFalse(a["orders"].equals(b["orders"]))
        key = "o_orderkey"
        self.assertTrue(a["orders"].sort_by(key).equals(b["orders"].sort_by(key)))

    def test_corpus_rotation_keeps_lengths_and_duplicates(self):
        base, _ = gen.base_corpus(40)
        a, b = gen.corpus(3, 40), gen.corpus(4, 40)
        self.assertEqual(sorted(len(t) for t in base),
                         sorted(a.column("n_chars").to_pylist()))
        self.assertEqual(len(set(a.column("text").to_pylist())),
                         len(set(b.column("text").to_pylist())))
        self.assertTrue(gen.corpus(3, 40).equals(a))
        self.assertEqual(gen.rotate("ab z", 1), "bc a")

    def test_payloads_and_failures_repeat_per_seed(self):
        dates = gen.dates_from("2024-01-01", 3)
        rows = {"orders": 5, "lineitem": 12, "customer": 2, "events": 4}
        a, b = gen.api_payloads(9, dates, rows), gen.api_payloads(9, dates, rows)
        for ds in a:
            self.assertTrue(a[ds].equals(b[ds]), ds)
        self.assertEqual(gen.expected_landing(a), gen.expected_landing(b))
        plan = gen.failure_plan(9, dates, 1, 1)
        self.assertEqual(plan, gen.failure_plan(9, dates, 1, 1))
        self.assertEqual(len(plan["unauthorized"]), 3)
        self.assertEqual(len(plan["throttled"]), 3)
        self.assertFalse(set(plan["unauthorized"]) & set(plan["throttled"]))

    def test_expected_landing_counts(self):
        dates = gen.dates_from("2024-01-01", 2)
        rows = {"orders": 5, "lineitem": 12, "customer": 2, "events": 4}
        exp = gen.expected_landing(gen.api_payloads(1, dates, rows))
        self.assertEqual(len(exp), 8)
        self.assertEqual(exp["lineitem/2024-01-02"][0], 12)
        self.assertEqual(exp["orders/2024-01-01"][1], sum(range(5)))


class OrderStatistics(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_nearest_rank(self):
        xs = list(range(1, 21))
        self.assertEqual(stats.percentile(xs, 90), 18)
        self.assertEqual(stats.percentile(xs, 50), 10)
        self.assertEqual(stats.percentile([7], 90), 7)

    def test_summary_reports_sample_count(self):
        s = stats.summary([5.0, 1.0, 3.0, 2.0, 4.0])
        self.assertEqual(s, {"n": 5, "p50": 3.0, "p90": 5.0})


class SelfTime(unittest.TestCase):
    def test_overlapping_children_subtracted_once(self):
        # (1,4) and (3,6) overlap -> 5; (8,12) is clipped to (8,10) -> 2
        self.assertAlmostEqual(
            stats.self_time((0, 10), [(1, 4), (3, 6), (8, 12)]), 3.0)

    def test_no_children(self):
        self.assertEqual(stats.self_time((2, 5), []), 3)

    def test_self_plus_children_is_parent(self):
        rows = [[0, "pass", -1, 1, "", 0.0, 1000.0],
                [1, "jobs.heal", 0, 1, "", 100.0, 600.0],
                [2, "sources.fetch", 1, 1, "x", 200.0, 300.0],
                [3, "sources.fetch", 1, 1, "x", 250.0, 400.0]]
        sp = stats.Spans(rows)
        heal = sp.rows[1]
        child = stats.union_length([(200.0, 300.0), (250.0, 400.0)]) / 1e3
        self.assertAlmostEqual(sp.self_s(heal) + child, 0.5)

    def test_dataset_date_intervals(self):
        rows = [[0, "jobs.land_schedule", -1, 2, "", 0.0, 1000.0],
                [1, "sources.fetch", 0, 2, "orders/d1", 10.0, 20.0],
                [2, "sources.fetch", 0, 2, "orders/d1", 30.0, 40.0],
                [3, "sources.fetch", 0, 2, "events/d1", 400.0, 410.0]]
        got = stats.Spans(rows).dataset_dates(2, ["jobs.land_schedule"])
        self.assertEqual(got, [("orders/d1", 0.39), ("events/d1", 0.6)])

    def test_jobs_go_to_innermost_open_span(self):
        spans = [{"id": 0, "start": 0, "end": 100},
                 {"id": 1, "start": 10, "end": 50},
                 {"id": 2, "start": 60, "end": 70}]
        self.assertEqual(stats.attribute_jobs([5, 20, 55, 65, 200], spans),
                         [0, 1, 0, 2, None])


class BytesPerUserByte(unittest.TestCase):
    def test_tiny_known_payload(self):
        import pyarrow as pa
        tbl = pa.table({"id": [1, 2], "target_date": ["2024-01-01", "2024-01-01"]})
        with scratch_dir() as d:
            sizes = gen.write_payloads({"orders": tbl}, d)
            with open(os.path.join(d, "orders.jsonl")) as f:
                text = f.read()
        self.assertEqual(text, '{"id":1,"target_date":"2024-01-01"}\n'
                               '{"id":2,"target_date":"2024-01-01"}\n')
        self.assertEqual(sizes, {"orders/2024-01-01": 72})
        self.assertEqual(stats.bytes_per_user_byte(144, sizes["orders/2024-01-01"]), 2.0)
        with self.assertRaises(ValueError):
            stats.bytes_per_user_byte(1, 0)


class ContractFile(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual(sorted(m["name"] for m in spec["per_layer"]),
                         sorted(run.PER_LAYER))
        for m in spec["per_layer"]:
            self.assertEqual(m["unit"], run.layer_unit(m["name"]), m["name"])
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
