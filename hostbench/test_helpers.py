"""Tests of the benchmark's own helpers: ``python3 -m pytest hostbench``.

No Spark: the event-log fold runs on a small recorded log
(``testdata/build_index_eventlog.json``, one ``build_index`` on 300
pages with two shards, trimmed to the fields the fold reads).
"""

from __future__ import annotations

import os

import pytest

import helpers
import tracing

LOG = os.path.join(os.path.dirname(__file__), "testdata",
                   "build_index_eventlog.json")


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert helpers.percentile(xs, 0) == 1.0
    assert helpers.percentile(xs, 100) == 5.0
    assert helpers.median(xs) == 3.0
    assert helpers.percentile(xs, 25) == 2.0
    assert helpers.percentile([1.0, 2.0], 50) == 1.5
    assert helpers.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        helpers.percentile([], 50)


def test_tail_keeps_ten_samples_beyond():
    assert helpers.tail(list(range(10))) is None
    q, v = helpers.tail(list(range(200)))
    assert q == 95.0
    assert sum(1 for x in range(200) if x > v) == 10
    q, _ = helpers.tail(list(range(72)))
    assert q == 86.1
    assert 72 * (1 - q / 100) >= 10


K = 4


def test_topk_identical_and_score_mismatch():
    a = [(1, 9.0), (2, 8.0), (3, 7.0), (4, 6.0)]
    assert helpers.topk_mismatch(a, a, K) is None
    b = [(1, 9.0), (2, 8.0), (3, 7.1), (4, 6.0)]
    assert "score at rank 2" in helpers.topk_mismatch(a, b, K)
    assert "length" in helpers.topk_mismatch(a[:3], a, K)


def test_topk_ties_inside_reorder_freely():
    a = [(1, 9.0), (2, 8.0), (3, 8.0), (4, 6.0)]
    b = [(1, 9.0), (3, 8.0), (2, 8.0000001), (4, 6.0)]
    assert helpers.topk_mismatch(a, b, K) is None


def test_topk_tie_group_member_must_match_before_the_cut():
    a = [(1, 9.0), (2, 8.0), (3, 8.0), (4, 6.0)]
    b = [(1, 9.0), (2, 8.0), (5, 8.0), (4, 6.0)]
    assert "docs at ranks 1-2" in helpers.topk_mismatch(a, b, K)


def test_topk_tie_group_at_the_cut_may_differ():
    a = [(1, 9.0), (2, 8.0), (3, 6.0), (4, 6.0)]
    b = [(1, 9.0), (2, 8.0), (3, 6.0), (7, 6.0)]
    assert helpers.topk_mismatch(a, b, K) is None
    # fewer than k results: nothing was cut, so the last group must match
    assert helpers.topk_mismatch(a, b, K + 1) is not None


def test_driver_heap_clamp():
    assert helpers.driver_heap_gib(14.5) == helpers.HEAP_MAX_GIB
    assert helpers.driver_heap_gib(0.5) == helpers.HEAP_MIN_GIB
    assert helpers.HEAP_MIN_GIB <= helpers.driver_heap_gib(6.0) <= helpers.HEAP_MAX_GIB


def test_module_of_takes_longest_module():
    assert tracing.module_of("index.query.QueryEngine.search") == "index.query"
    assert tracing.module_of("index.querystring.query_string_serve") == "index.querystring"
    assert tracing.module_of("snapshots.write_index") == "snapshots"
    assert tracing.module_of("runner.check.oracle") == "runner"


def _events():
    return tracing.read_event_log(os.path.dirname(LOG))


def test_fold_by_job_group():
    events = _events()
    jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    t0 = min(e["Submission Time"] for e in jobs) / 1000.0
    spans = [{"id": 0, "name": "index.builder.build_index", "parent": None,
              "start": t0 - 100.0, "end": t0 - 50.0}]
    # the recorded jobs carry group hb-test-0: they go to span 0 even
    # though its interval does not contain them
    folded = tracing.fold(events, spans, "test")
    tot = folded["spans"][0]
    assert tot["jobs"] == 5
    assert tot["tasks"] == 13
    assert tot["executor_run_ms"] == 14723
    assert tot["shuffle_write_bytes"] == 201622
    assert tot["python_eval_ms"] == 7001.0
    assert folded["unattributed"]["jobs"] == 0
    # widest stage has six tasks; max 1481 ms over median 565 ms
    assert tracing.task_skew(tot) == pytest.approx(1481 / 565)


def test_fold_by_submit_time_goes_to_innermost_span():
    events = _events()
    jobs = sorted(e["Submission Time"] / 1000.0 for e in events
                  if e["Event"] == "SparkListenerJobStart")
    spans = [
        {"id": 0, "name": "phase.measure", "parent": None,
         "start": jobs[0] - 1.0, "end": jobs[-1] + 1.0},
        {"id": 1, "name": "snapshots.write_index", "parent": 0,
         "start": jobs[0] - 0.5, "end": jobs[0] + 0.5},
    ]
    folded = tracing.fold(events, spans, "another-run")
    assert folded["spans"][1]["jobs"] == 1
    assert folded["spans"][1]["tasks"] == 2
    assert folded["spans"][0]["jobs"] == 4
    assert folded["spans"][0]["tasks"] == 11


def test_fold_without_span_is_unattributed():
    folded = tracing.fold(_events(), [], "x")
    assert folded["unattributed"]["jobs"] == 5
    assert folded["spans"] == {}


def test_uncovered_share_and_ledger():
    tr = tracing.Tracer(enabled=True)
    tr.spans = [
        {"id": 0, "name": "phase.measure", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "snapshots.write_index", "parent": 0, "start": 0.0, "end": 6.0},
        {"id": 2, "name": "runner.check", "parent": 0, "start": 5.0, "end": 9.0},
        {"id": 3, "name": "index.builder.build_index", "parent": 1, "start": 1.0, "end": 3.0},
    ]
    assert tr.uncovered_share() == pytest.approx(0.1)
    led = tracing.ledger(tr, {"spans": {}, "unattributed": tracing._totals()})
    assert led["snapshots"]["wall_s"] == 6.0
    assert led["snapshots"]["self_s"] == 4.0
    assert led["index.builder"]["self_s"] == 2.0



def test_benchmark_json_lists_what_a_run_prints():
    import json

    import workloads

    with open(os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(workloads.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(workloads.PER_LAYER)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)
