#!/usr/bin/env python3
"""Self-tests for the benchmark's own logic; no Spark session is started.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ops  # noqa: E402
import serve  # noqa: E402
import stats  # noqa: E402
from oracle import same_ranking, same_topk  # noqa: E402
from run import load_bench_spec, select_metrics  # noqa: E402
from spans import (BUILD_STAGES, Tracer, attribute,  # noqa: E402
                   build_breakdown, query_metrics)


class TailSelection(unittest.TestCase):
    def test_percentile_matches_numpy_linear(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_tail_has_ten_samples_beyond(self):
        for n, p in ((9, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
                     (135, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
                     (10_000, 99.9)):
            self.assertEqual(stats.tail_percentile(n), p, n)
            self.assertGreaterEqual(round(n * (100 - p) / 100, 9),
                                    10 if n >= 20 else 0)

    def test_tail_value(self):
        xs = [float(i) for i in range(1, 101)]  # 100 samples -> p90
        p, v = stats.tail(xs)
        self.assertEqual(p, 90.0)
        self.assertAlmostEqual(v, 90.1)

    def test_quartile_spread(self):
        self.assertAlmostEqual(
            stats.quartile_spread([10.0, 10.0, 10.0, 10.0]), 0.0)
        self.assertGreater(stats.quartile_spread([1.0, 2.0, 3.0, 4.0]), 0.5)


class LadderStopRule(unittest.TestCase):
    def test_rung_passes_on_tail_and_backlog(self):
        fast = [10.0] * 100
        self.assertTrue(stats.rung_passes(fast, 0, 100, 100.0))
        slow_tail = [10.0] * 85 + [500.0] * 15  # p90 lands in the slow part
        self.assertFalse(stats.rung_passes(slow_tail, 0, 100, 100.0))
        self.assertFalse(stats.rung_passes(fast, 6, 100, 100.0))  # > 5%
        self.assertTrue(stats.rung_passes(fast, 2, 10, 100.0))  # floor 2
        self.assertFalse(stats.rung_passes([], 0, 0, 100.0))

    def test_max_rate_stops_at_first_failure(self):
        rungs = [(10, True), (30, True), (45, False), (60, True)]
        self.assertEqual(stats.max_passing_rate(rungs), 30)
        self.assertIsNone(stats.max_passing_rate([(10, False)]))
        self.assertEqual(stats.max_passing_rate([(10, True), (30, True)]), 30)


class SelfTime(unittest.TestCase):
    def test_union_and_clipping(self):
        self.assertEqual(stats.interval_union([(0, 2), (1, 3), (5, 6)]), 4)
        # overlapping children (two threads) count once; the part outside
        # the parent is clipped
        self.assertEqual(stats.self_time((0, 10), [(2, 5), (4, 6), (9, 12)]),
                         10 - 4 - 1)
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_tracer_self_times(self):
        tr = Tracer()
        with tr.span("outer"):
            time.sleep(0.02)
            with tr.span("inner"):
                time.sleep(0.03)
        st = tr.self_times()
        outer = tr.by_name("outer")[0]
        inner = tr.by_name("inner")[0]
        self.assertEqual(inner["parent"], outer["id"])
        total = outer["t1"] - outer["t0"]
        self.assertAlmostEqual(st["outer"] + st["inner"], total, places=6)
        self.assertGreater(st["inner"], st["outer"])


class _FakeBuilder:
    """Calls its stages the way IndexBuilder.build does, with time spent
    both inside and between them."""

    def build(self):
        time.sleep(0.005)
        self._stage_extract_tokenize()
        self._stage_postings()
        self._stage_term_stats()
        time.sleep(0.005)
        self._commit_manifest()

    def _stage_extract_tokenize(self):
        time.sleep(0.03)

    def _stage_postings(self):
        time.sleep(0.02)

    def _stage_term_stats(self):
        time.sleep(0.01)

    def _commit_manifest(self):
        time.sleep(0.005)


class BuildBreakdown(unittest.TestCase):
    def test_stages_plus_unattributed_is_the_wall(self):
        tr = Tracer()
        for attr, name in BUILD_STAGES.items():
            tr.wrap(_FakeBuilder, attr, name)
        tr.wrap(_FakeBuilder, "build", "index.build")
        try:
            _FakeBuilder().build()
        finally:
            tr.uninstall()
        out = build_breakdown(tr)
        stages = sum(out[f"{n}_s"] for n in BUILD_STAGES.values())
        self.assertAlmostEqual(stages + out["index.unattributed_s"],
                               out["index.build_wall_s"], places=9)
        self.assertGreater(out["index.unattributed_s"], 0.009)
        # the stage spans never overlap: their sum fits inside the wall
        spans = sorted((s["t0"], s["t1"]) for s in tr.spans
                       if s["name"] in BUILD_STAGES.values())
        self.assertTrue(all(a[1] <= b[0] for a, b in zip(spans, spans[1:])))
        self.assertEqual(_FakeBuilder.build.__name__, "build")  # restored
        self.assertNotIn("__wrapped__", vars(_FakeBuilder.build))


class EventLogAttribution(unittest.TestCase):
    def test_stages_go_to_the_call_running_at_submission(self):
        log = {"jobs": [{"t": 1.5}, {"t": 3.5}, {"t": 9.0}],
               "stages": [
                   {"t": 1.6, "executor_run_s": 2.0, "shuffle_write_bytes": 10,
                    "shuffle_read_bytes": 0, "spill_bytes": 0,
                    "failed_tasks": 0},
                   {"t": 3.6, "executor_run_s": 1.0, "shuffle_write_bytes": 5,
                    "shuffle_read_bytes": 7, "spill_bytes": 3,
                    "failed_tasks": 1},
                   {"t": 9.1, "executor_run_s": 9.0, "shuffle_write_bytes": 0,
                    "shuffle_read_bytes": 0, "spill_bytes": 0,
                    "failed_tasks": 0}]}
        out = attribute(log, [("a", 1.0, 2.0), ("b", 3.0, 4.0),
                              ("all", 0.0, 5.0)])
        self.assertEqual(out["a"]["executor_run_s"], 2.0)
        self.assertEqual(out["b"]["spill_bytes"], 3)
        self.assertEqual(out["b"]["failed_tasks"], 1)
        self.assertEqual(out["all"]["jobs"], 2)
        self.assertEqual(out["all"]["shuffle_write_bytes"], 15)


class AnswerChecks(unittest.TestCase):
    def test_same_ranking_is_exact_to_nine_digits(self):
        self.assertTrue(same_ranking([(1, 2.0000000001)], [(1, 2.0)]))
        self.assertFalse(same_ranking([(1, 2.0), (2, 1.0)],
                                      [(2, 1.0), (1, 2.0)]))

    def test_same_topk_allows_near_tie_order(self):
        full = {1: 0.9, 2: 0.8, 3: 0.8 + 1e-12, 4: 0.1}
        self.assertTrue(same_topk([(1, 0.9), (2, 0.8), (3, 0.8)], full, 3))
        self.assertTrue(same_topk([(1, 0.9), (3, 0.8), (2, 0.8)], full, 3))
        self.assertFalse(same_topk([(1, 0.9), (4, 0.1)], full, 2))
        self.assertFalse(same_topk([(1, 0.9), (1, 0.9)], full, 2))
        self.assertFalse(same_topk([(1, 0.9)], full, 2))

    def test_keyword_filter_drops_docs_before_top_k(self):
        ranked = {"q": [(5, 3.0), (2, 2.0), (9, 2.0), (1, 1.0)]}
        self.assertEqual(serve._keyword(ranked, "q", 2, None),
                         [(5, 3.0), (2, 2.0)])
        self.assertEqual(serve._keyword(ranked, "q", 2, {9, 1}),
                         [(9, 2.0), (1, 1.0)])


class QueryCounts(unittest.TestCase):
    def test_counts_cover_only_spans_ended_by_the_cutoff(self):
        tr = Tracer()

        def span(i, name, t1, parent=0, **kw):
            tr.spans.append({"id": i, "parent": parent, "name": name,
                             "t0": t1 - 0.001, "t1": t1, **kw})

        span(1, "query.engine", 1.0, lists=4, blocks=10, decoded=5)
        span(2, "query.score", 1.0, parent=1)
        span(3, "query.engine", 2.0, lists=2, blocks=10, decoded=10)
        span(4, "query.score", 2.0, parent=3)
        span(5, "query.score_fallback", 2.0, parent=4)
        span(6, "query.engine", 9.0, lists=100, blocks=100, decoded=100)
        span(7, "query.score", 9.0, parent=6)
        out = query_metrics(tr, counted_until=5.0)
        self.assertEqual(out["query.lists_per_query"], 3.0)
        self.assertEqual(out["query.blocks_decoded_ratio"], 0.75)
        self.assertEqual(out["query.pruned_path_share"], 0.5)
        self.assertEqual(query_metrics(tr)["query.lists_per_query"],
                         106 / 3)


class MetricSelection(unittest.TestCase):
    WANT = [{"name": "a.x", "unit": "s"}, {"name": "b.y", "unit": "ms"}]

    def test_other_workloads_layers_read_zero(self):
        m, missing = select_metrics(self.WANT, {"a.x": 2}, ("a.x",))
        self.assertEqual(missing, [])
        self.assertEqual(m["b.y"], {"value": 0.0, "unit": "ms"})

    def test_missing_exercised_layer_fails(self):
        _, missing = select_metrics(self.WANT, {"a.x": 2}, ("a.x", "b.y"))
        self.assertEqual(missing, ["b.y"])

    def test_every_end_to_end_metric_is_required(self):
        _, missing = select_metrics(self.WANT, {"a.x": 2})
        self.assertEqual(missing, ["b.y"])

    def test_workload_layers_cover_the_spec(self):
        names = {m["name"] for m in load_bench_spec()["per_layer"]}
        self.assertEqual(set(serve.LAYERS) | set(ops.LAYERS), names)


if __name__ == "__main__":
    unittest.main()
