#!/usr/bin/env python3
"""Tests of the benchmark's pure logic. Run from the repository root:

    python3 perfbench/test_metrics.py
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def span(i, name, start, end, parent=-1, op="", pass_id="p0"):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent,
            "op": op, "pass": pass_id}


class PercentileTest(unittest.TestCase):
    def test_interpolates_and_counts_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, beyond = metrics.percentile(xs, 90)
        self.assertAlmostEqual(v, 90.1)
        self.assertEqual(beyond, 10)
        self.assertEqual(metrics.percentile(xs, 50), (50.5, 50))

    def test_single_sample_and_order(self):
        self.assertEqual(metrics.percentile([7], 90), (7, 0))
        self.assertEqual(metrics.percentile([3, 1, 2], 50), (2, 1))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_subtracts_union_of_children_and_jobs(self):
        spans = [span(0, "pass", 0, 100), span(1, "query", 10, 50, parent=0),
                 span(2, "query", 40, 70, parent=0)]
        jobs = [{"span": 1, "start": 20, "end": 30}, {"span": 1, "start": 45, "end": 60}]
        st = metrics.self_times(spans, jobs)
        # pass: children cover 10..70, so 40 of 100 is its own
        self.assertAlmostEqual(st["pass"]["self_s"], 40 / 1e9)
        # query 1 (10..50): jobs cover 20..30 and 45..50 (clipped)
        # query 2 (40..70): nothing; so query self = 25 + 30
        self.assertAlmostEqual(st["query"]["self_s"], 55 / 1e9)
        self.assertEqual(st["query"]["count"], 2)


class HashTest(unittest.TestCase):
    def test_row_order_does_not_matter_but_content_does(self):
        a = ['{"a":1,"b":"x"}', '{"a":2,"b":"y"}']
        self.assertEqual(metrics.canonical_hash(a), metrics.canonical_hash(a[::-1]))
        self.assertNotEqual(metrics.canonical_hash(a), metrics.canonical_hash(a[:1]))
        self.assertNotEqual(metrics.canonical_hash(['{"a":1}']),
                            metrics.canonical_hash(['{"a":1.0}']))

    def test_hash_failures_name_mismatches_and_missing_results(self):
        rows = ['{"a":1}']
        expected = {"q1": metrics.canonical_hash(rows), "q2": "0" * 32}
        checks = [{"pass": "p0", "query": "q1", "rows": rows},
                  {"pass": "p0", "query": "q2", "rows": rows},
                  {"pass": "p1", "query": "q1", "rows": rows}]
        f = metrics.hash_failures(checks, expected)
        self.assertEqual(len(f), 2)
        self.assertTrue(f[0].startswith("p0/q2: hash"))
        self.assertEqual(f[1], "p1/q2: no result")


def stream_check(**over):
    c = {"pass": "p0", "lines": 100, "malformed_injected": 2, "files": 2,
         "etl_rows": 100, "edw_rows": 100, "cms_rows": 100,
         "malformed_rows": 2, "kept": 97, "removed": 3, "expected_removed": 3,
         "batches": {j: 2 for j in metrics.STREAM_JOBS}, "failed_batches": 0,
         "keywords_injected": {"dup": 3, "scan": 1},
         "cms_exact": [[0, "dup", 2], [1, "dup", 1], [1, "scan", 1]],
         "cms_estimates": [[0, "dup", 2], [0, "scan", 1], [1, "dup", 1], [1, "scan", 1]]}
    c.update(over)
    return c


class ReconcileTest(unittest.TestCase):
    def test_consistent_pass_passes(self):
        self.assertEqual(metrics.reconcile_stream(stream_check()), [])

    def test_each_broken_invariant_is_named(self):
        cases = {
            "etl_rows": {"etl_rows": 99},
            "cms_rows": {"cms_rows": 98},
            "malformed_rows": {"malformed_rows": 0},
            "kept": {"kept": 96},
            "banned rows": {"removed": 2, "kept": 98},
            "batches for": {"batches": dict({j: 2 for j in metrics.STREAM_JOBS}, cms=1)},
            "failed batches": {"failed_batches": 1},
            "injected": {"cms_exact": [[0, "dup", 2], [1, "scan", 1]]},
            "< exact": {"cms_estimates": [[0, "dup", 1], [0, "scan", 1], [1, "dup", 1],
                                          [1, "scan", 1]]},
        }
        for needle, over in cases.items():
            with self.subTest(needle):
                f = metrics.reconcile_stream(stream_check(**over))
                self.assertTrue(f and any(needle in x for x in f), f)


class DrainedTest(unittest.TestCase):
    def test_drained_counts_every_sink_row(self):
        self.assertEqual(metrics.drained(stream_check()), 400)
        self.assertEqual(metrics.drained(stream_check(cms_rows=50)), 350)


class SameWorkTest(unittest.TestCase):
    def test_equal_counts_pass_and_any_difference_fails(self):
        a = {"q": [97, 12], "r": [3, 0]}
        self.assertEqual(metrics.same_work_failures({"warmup": a, "p1": dict(a)}, dict(a)), [])
        f = metrics.same_work_failures({"warmup": a, "p1": {"q": [96, 12], "r": [3, 0]}})
        self.assertEqual(len(f), 1)
        self.assertIn("q ran", f[0])
        self.assertEqual(len(metrics.same_work_failures({"p1": a}, {"q": [97, 11], "r": [3, 0]})), 1)

    def test_job_counts_follow_the_span_tree(self):
        spans = [span(0, "pass", 0, 100, op="p0"),
                 span(1, "query", 0, 50, parent=0, op="q"),
                 span(2, "query.build", 0, 40, parent=1, op="q"),
                 span(3, "query", 50, 100, parent=0, op="r"),
                 span(4, "check", 100, 120, op="p0")]
        jobs = [{"span": 2, "call_site": "localCheckpoint at X.scala:1"},
                {"span": 1, "call_site": "save at Y.scala:2"},
                {"span": 3, "call_site": None}, {"span": 4, "call_site": "collect"}]
        self.assertEqual(metrics.op_job_counts(spans, jobs, "p0"), {"q": [2, 1], "r": [1, 0]})


if __name__ == "__main__":
    unittest.main()
