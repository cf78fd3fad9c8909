"""Self-tests of the benchmark's own arithmetic; no Spark session needed.

Run with ``python3 -m pytest perfbench`` or ``python3 perfbench/test_stats.py``.
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import types
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from oracle import OracleCache, compare  # noqa: E402
from stats import failed_share, median, self_times, tail  # noqa: E402
from tracing import Tracer, parse_event_log  # noqa: E402
from verify_oracle import normalize  # noqa: E402


class TailRule(unittest.TestCase):
    def test_eleven_samples_give_the_minimum(self):
        v, pct, n = tail([float(i) for i in range(11, 0, -1)])
        self.assertEqual((v, n), (1.0, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_exactly_ten_samples_lie_above(self):
        xs = [float(i) for i in range(100)]
        v, pct, n = tail(xs)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual((v, pct, n), (89.0, 90.0, 100))

    def test_ties_count_by_rank(self):
        v, _, _ = tail([5.0] * 20 + [1.0])
        self.assertEqual(v, 5.0)

    def test_too_few_samples_raise(self):
        with self.assertRaises(ValueError):
            tail([1.0] * 10)

    def test_median(self):
        self.assertEqual(median([3.0, 1.0, 2.0, 10.0]), 2.5)
        with self.assertRaises(ValueError):
            median([])


class FailedShare(unittest.TestCase):
    def test_share(self):
        self.assertEqual(failed_share(0, 20), 0.0)
        self.assertEqual(failed_share(2, 20), 0.1)
        self.assertEqual(failed_share(20, 20), 1.0)

    def test_rejects_impossible_counts(self):
        for failed, attempted in ((1, 0), (-1, 5), (6, 5)):
            with self.assertRaises(ValueError):
                failed_share(failed, attempted)


def _span(start, end, parent=None):
    return {"start": start, "end": end, "parent": parent}


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        # root [0,10] > a [1,4] > a1 [2,3]; root > b [5,9]
        spans = [_span(0, 10), _span(1, 4, 0), _span(2, 3, 1),
                 _span(5, 9, 0)]
        self.assertEqual(self_times(spans), [3.0, 2.0, 1.0, 4.0])
        # self times partition the root's interval
        self.assertEqual(sum(self_times(spans)), 10.0)

    def test_overlapping_children_are_not_subtracted_twice(self):
        spans = [_span(0, 10), _span(1, 6, 0), _span(4, 8, 0)]
        self.assertEqual(self_times(spans)[0], 3.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [_span(0, 2), _span(1, 5, 0)]
        self.assertEqual(self_times(spans)[0], 1.0)


def _cmp(spark_side: pd.DataFrame, oracle_side: pd.DataFrame):
    return compare(normalize(spark_side), normalize(oracle_side))


class OracleCompare(unittest.TestCase):
    def test_row_order_does_not_matter(self):
        a = pd.DataFrame({"k": ["x", "y", "z"], "v": [1.5, 2.5, 3.5]})
        self.assertIsNone(_cmp(a, a.iloc[::-1]))

    def test_column_order_does_not_matter(self):
        a = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.0]})
        self.assertIsNone(_cmp(a, a[["v", "k"]]))

    def test_float_noise_below_nine_places_is_rounded_away(self):
        a = pd.DataFrame({"v": [0.1 + 0.2, 1 / 3]})
        self.assertIsNone(_cmp(a, pd.DataFrame({"v": [0.3, 0.333333333]})))
        self.assertTrue(_cmp(a, pd.DataFrame(
            {"v": [0.3, 0.333333334]})).startswith("values"))

    def test_nan_and_null_are_one_missing_value(self):
        a = pd.DataFrame({"v": [1.0, float("nan")]})
        self.assertIsNone(_cmp(a, pd.DataFrame({"v": [1.0, None]})))
        self.assertIsNotNone(_cmp(a, pd.DataFrame({"v": [1.0, 0.0]})))

    def test_int_and_integral_float_agree(self):
        a = pd.DataFrame({"n": np.array([1, 2, 3], dtype="int64")})
        self.assertIsNone(_cmp(a, pd.DataFrame({"n": [1.0, 2.0, 3.0]})))

    def test_strings_and_nulls_in_text(self):
        a = pd.DataFrame({"s": ["b", None, "a"]})
        self.assertIsNone(_cmp(a, pd.DataFrame({"s": ["a", "b", None]})))
        self.assertIsNotNone(_cmp(a, pd.DataFrame({"s": ["a", "b", ""]})))

    def test_failure_kinds(self):
        a = pd.DataFrame({"v": [1.0, 2.0]})
        self.assertTrue(_cmp(a, pd.DataFrame({"v": [1.0]}))
                        .startswith("row_count"))
        self.assertTrue(_cmp(a, pd.DataFrame({"w": [1.0, 2.0]}))
                        .startswith("columns"))

    def test_cache_runs_the_sql_once(self):
        calls = []

        class Con:
            def sql(self, q):
                calls.append(q)
                return types.SimpleNamespace(
                    df=lambda: pd.DataFrame({"v": [2.0, 1.0]}))

        with tempfile.TemporaryDirectory() as d:
            cache = OracleCache(d, Con())
            a = cache.get("q", "SELECT 1", normalize)
            b = cache.get("q", "SELECT 1", normalize)
            self.assertEqual(len(calls), 1)
            self.assertIsNone(compare(a, b))
            cache.get("q", "SELECT 1", normalize, live=True)
            cache.get("q", "SELECT 2", normalize)
            self.assertEqual(len(calls), 3)


class EventLog(unittest.TestCase):
    def test_stages_sum_per_job_group_once(self):
        events = [
            {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
             "Properties": {"spark.jobGroup.id": "q:noop"}},
            {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
             "Properties": {"spark.jobGroup.id": "q:emit"}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {
                "Stage ID": 0, "Number of Tasks": 4, "Accumulables": [
                    {"Name": "internal.metrics.executorRunTime",
                     "Value": 1500},
                    {"Name": "time to run Python workers", "Value": 250}]}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {
                "Stage ID": 1, "Number of Tasks": 2, "Accumulables": [
                    {"Name": "internal.metrics.shuffle.write.bytesWritten",
                     "Value": 64}]}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {
                "Stage ID": 2, "Number of Tasks": 1, "Accumulables": [
                    {"Name": "internal.metrics.resultSize", "Value": 10}]}},
        ]
        with tempfile.TemporaryDirectory() as d:
            app = os.path.join(d, "eventlog_v2_local-1700000000000")
            os.makedirs(app)
            for name, part in (("events_1_local-1700000000000", events[:2]),
                               ("events_2_local-1700000000000", events[2:])):
                with open(os.path.join(app, name), "w") as f:
                    f.write("\n".join(json.dumps(e) for e in part) + "\n")
            with open(os.path.join(app, "appstatus_local-1700000000000"),
                      "w") as f:
                f.write("")
            g = parse_event_log(d)
        self.assertEqual(g["q:noop"]["jobs"], 1)
        self.assertEqual(g["q:noop"]["stages"], 2)
        self.assertEqual(g["q:noop"]["tasks"], 6)
        self.assertAlmostEqual(g["q:noop"]["executor_run_s"], 1.5)
        self.assertAlmostEqual(g["q:noop"]["python_s"], 0.25)
        self.assertEqual(g["q:noop"]["shuffle_write_bytes"], 64)
        self.assertEqual(g["q:emit"]["stages"], 1)
        self.assertEqual(g["q:emit"]["result_bytes"], 10)


class Wrappers(unittest.TestCase):
    def test_install_records_only_inside_a_query_span(self):
        from pyspark import cloudpickle
        sys.path.insert(0, os.path.dirname(HERE))
        tracer = Tracer()
        self.assertGreater(tracer.install(), 100)
        from handyspark_spark.pipeline import index_cache
        index_cache.cache_root()  # a harness call: not recorded
        self.assertEqual(tracer.spans, [])
        with tracer.span("queries", "queries.q"):
            index_cache.cache_root()
        self.assertEqual([(s["layer"], s["name"], s["parent"])
                          for s in tracer.spans],
                         [("queries", "queries.q", None),
                          ("pipeline", "pipeline.index_cache.cache_root",
                           0)])
        # a UDF closure that captures a wrapped helper pickles it by
        # reference, so Python workers import the unwrapped original
        blob = cloudpickle.dumps(index_cache.cache_root)
        self.assertIn(b"handyspark_spark.pipeline.index_cache", blob)
        self.assertLess(len(blob), 200)


if __name__ == "__main__":
    unittest.main()
