"""Self-tests for the benchmark's own math (no Spark needed):

    python3 perfbench/selftest.py

Covers the percentile rule, self time when spans overlap (on the small
recorded trace in fixtures/), op times relative to the calibrations
around them, metric-name validation, the span
recorder's parent/op bookkeeping and span cost, and that BENCHMARK.json's
metric lists hold valid names that match the workloads' query and stream
lists.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import types
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from result import Result  # noqa: E402


def load_trace():
    with open(os.path.join(HERE, "fixtures", "small_trace.json")) as f:
        return json.load(f)


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(tracing.percentile_rule(range(1, 20)), (None, None, 19))
        p, v, n = tracing.percentile_rule(range(1, 21))
        self.assertEqual((p, v, n), (50.0, 10, 20))

    def test_highest_qualifying_percentile(self):
        self.assertEqual(tracing.percentile_rule(range(1, 41))[:2], (75.0, 30))
        self.assertEqual(tracing.percentile_rule(range(1, 101))[:2], (90.0, 90))
        self.assertEqual(tracing.percentile_rule(range(1, 1001))[:2], (99.0, 990))

    def test_order_of_samples_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 8
        self.assertEqual(tracing.percentile_rule(xs), tracing.percentile_rule(sorted(xs)))

    def test_median(self):
        self.assertEqual(tracing.median([3, 1, 2]), 2)
        self.assertEqual(tracing.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            tracing.median([])


class RelativeTime(unittest.TestCase):
    @staticmethod
    def watch(t0, wall):
        return types.SimpleNamespace(t0=t0, wall=wall)

    def test_op_over_neighbouring_calibrations(self):
        res = Result()
        res.calibration(self.watch(0.0, 1.0))
        res.op("a", self.watch(1.0, 4.0))  # over (1 + 3) / 2
        res.calibration(self.watch(5.0, 3.0))
        res.op("a", self.watch(8.0, 9.0))  # none after it: over 3
        res.op("b", self.watch(12.0, 6.0))  # over 3
        self.assertAlmostEqual(res.kind_gmean(relative=True), (2.5 * 2.0) ** 0.5)
        self.assertAlmostEqual(res.kind_gmean(), (6.5 * 6.0) ** 0.5)

    def test_each_kind_weighs_the_same(self):
        res = Result()
        for _ in range(5):
            res.op("many", self.watch(0.0, 8.0))
        res.op("one", self.watch(0.0, 2.0))
        self.assertAlmostEqual(res.kind_gmean(), 4.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        spans = [
            {"id": 1, "start": 0.0, "end": 10.0, "parent": None, "layer": "a"},
            {"id": 2, "start": 1.0, "end": 4.0, "parent": 1, "layer": "b"},
            {"id": 3, "start": 3.0, "end": 6.0, "parent": 1, "layer": "b"},
            {"id": 4, "start": 8.0, "end": 9.0, "parent": 1, "layer": "b"},
        ]
        st = tracing.self_times(spans)
        self.assertAlmostEqual(st[1], 4.0)
        self.assertAlmostEqual(st[2], 3.0)

    def test_child_outliving_parent_is_clipped(self):
        spans = [
            {"id": 1, "start": 0.0, "end": 2.0, "parent": None, "layer": "a"},
            {"id": 2, "start": 1.5, "end": 5.0, "parent": 1, "layer": "b"},
        ]
        self.assertAlmostEqual(tracing.self_times(spans)[1], 1.5)

    def test_recorded_trace(self):
        t = load_trace()
        st = tracing.self_times(t["spans"])
        for sid, want in t["expected_self"].items():
            self.assertAlmostEqual(st[int(sid)], want, places=9, msg=f"span {sid}")
        layers = tracing.layer_self_times(t["spans"])
        self.assertEqual(set(layers), set(t["expected_layers"]))
        for layer, want in t["expected_layers"].items():
            self.assertAlmostEqual(layers[layer], want, places=9, msg=layer)

    def test_one_thread_self_times_partition_the_root(self):
        t = load_trace()
        main = [s for s in t["spans"] if s["thread"] == 1]
        root = next(s for s in main if s["parent"] is None)
        total = sum(tracing.self_times(main).values())
        self.assertAlmostEqual(total, root["end"] - root["start"], places=9)


class MetricNames(unittest.TestCase):
    def test_valid(self):
        for name in ("setup_s", "op_p50_ms", "runner.delta.migrate_s", "a-b.c_9", "9lives"):
            self.assertEqual(tracing.check_metric_name(name), name)

    def test_invalid(self):
        for name in ("", "a b", "x/y", "_x", ".x", "p50%", "a" * 65, None):
            with self.assertRaises(ValueError, msg=repr(name)):
                tracing.check_metric_name(name)

    def test_benchmark_lists(self):
        import run
        from llm_curation import BATCH_QUERIES, STREAMS

        for kind, cap in (("end_to_end", 16), ("per_layer", 128)):
            units = run.metric_units(kind)
            self.assertLessEqual(len(units), cap)
            for name in units:
                tracing.check_metric_name(name)
        layer = run.metric_units("per_layer")
        queries = {n.split(".")[1] for n in layer if n.startswith("curation.")}
        streams = {n.split(".")[1] for n in layer if n.startswith("streaming.")}
        self.assertEqual(queries, set(BATCH_QUERIES))
        self.assertEqual(streams, set(STREAMS))
        self.assertEqual({f"self.{x}_ms_per_op" for x in tracing.LAYERS},
                         {n for n in layer if n.startswith("self.")})
        with self.assertRaises(KeyError):
            run.select("per_layer", {"not.listed_ms": 1.0})


class Recorder(unittest.TestCase):
    def test_parents_and_ops(self):
        clock = iter(float(i) for i in range(100))
        tr = tracing.Tracer(clock=lambda: next(clock))

        def inner():
            return 7

        def outer():
            return tr.call("inner", "b", inner)

        with tr.op("op-1", "root"):
            self.assertEqual(tr.call("outer", "a", outer), 7)
            th = threading.Thread(target=lambda: tr.call("cb", "c", inner))
            th.start()
            th.join(timeout=10)
        self.assertFalse(th.is_alive())
        by = {s["name"]: s for s in tr.spans}
        self.assertEqual(by["inner"]["parent"], by["outer"]["id"])
        self.assertEqual(by["outer"]["parent"], by["root"]["id"])
        # a span on a thread with no stack of its own adopts the current op
        self.assertEqual(by["cb"]["parent"], by["root"]["id"])
        self.assertEqual({s["op"] for s in tr.spans}, {"op-1"})

    def test_thread_local_op_is_not_adopted(self):
        tr = tracing.Tracer()
        done = threading.Event()

        def writer():
            with tr.op("w", "writer", thread_local=True):
                tr.call("x", "a", lambda: None)
            done.set()

        with tr.op("main", "root"):
            th = threading.Thread(target=writer)
            th.start()
            th.join(timeout=10)
        self.assertTrue(done.is_set())
        by = {s["name"]: s for s in tr.spans}
        self.assertEqual(by["x"]["op"], "w")
        self.assertEqual(by["x"]["parent"], by["writer"]["id"])

    def test_span_cost_adds_no_spans(self):
        tr = tracing.Tracer()
        self.assertGreater(tr.measure_span_cost(calls=2000, reps=3), 0.0)
        self.assertEqual(tr.spans, [])


if __name__ == "__main__":
    unittest.main()
