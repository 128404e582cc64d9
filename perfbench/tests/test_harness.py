"""Tests of the benchmark harness's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import (  # noqa: E402
    check_metric_names,
    ir_metrics,
    latency_summary,
    recall_at_k,
    self_times,
    tail_percentile,
    valid_metric_name,
)
from tracing import layer_stats  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(range(99)) is None  # p90 would leave 9 beyond
    pct, val, n = tail_percentile(range(1, 101))
    assert (pct, val, n) == (90.0, 90, 100)
    pct, val, n = tail_percentile(range(1, 1001))
    assert (pct, val, n) == (99.0, 990, 1000)
    pct, _, n = tail_percentile(range(10_000))
    assert (pct, n) == (99.9, 10_000)


def test_latency_summary_states_count_and_skips_unsupported_tail():
    few = latency_summary([0.1, 0.3, 0.2])
    assert few == {"n": 3, "p50_ms": pytest.approx(200.0)}
    many = latency_summary([i / 1000 for i in range(1, 101)])
    assert many["n"] == 100
    assert many["p90_ms"] == pytest.approx(90.0)
    assert many["p50_ms"] == pytest.approx(50.5)


def test_self_time_subtracts_children_and_merges_overlaps():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},   # overlaps span 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},   # grandchild
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)  # [1,5] and [9,10]
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)


def test_layer_stats_fold_self_time_and_event_log_groups():
    spans = [
        {"id": 0, "parent": None, "layer": "harness", "group": "pb-0",
         "start": 0.0, "end": 5.0},
        {"id": 1, "parent": 0, "layer": "search", "group": "pb-1",
         "start": 1.0, "end": 3.0, "spark_jobs": 2, "spark_tasks": 8},
    ]
    groups = {"pb-1": {"tasks": 8, "exec_run_ms": 3000, "exec_cpu_ms": 2500.0,
                       "jvm_gc_ms": 10, "records_read": 100,
                       "shuffle_read_bytes": 5, "shuffle_write_bytes": 7,
                       "spill_bytes": 0, "task_ms": [10, 30, 20]}}
    out = layer_stats(spans, groups, ("search", "metrics"))
    assert out["search.self_s"] == pytest.approx(2.0)
    assert out["search.spark_jobs"] == 2 and out["search.spark_tasks"] == 8
    assert out["search.exec_run_s"] == pytest.approx(3.0)
    assert out["search.task_max_ms"] == 30 and out["search.task_p50_ms"] == 20
    assert out["metrics.self_s"] == 0 and out["metrics.task_max_ms"] == 0
    assert not any(k.startswith("harness.") for k in out)


def test_recall_at_10_on_hand_made_lists():
    exact = {"q1": list("abcdefghij"), "q2": list("klmnopqrst")}
    got = {"q1": list("abcdefghij"), "q2": list("klmnoXYZWV")}
    assert recall_at_k(got, exact, 10) == pytest.approx((1.0 + 0.5) / 2)
    assert recall_at_k({}, exact, 10) == 0.0
    # only the first k of each list count
    assert recall_at_k({"q1": ["z", "a"]}, {"q1": ["a", "b"]}, 1) == 0.0


def test_ir_metrics_match_the_reference_definitions():
    ranked = {"q1": ["d3", "d1", "d9"], "q2": ["d5", "d6"], "q3": []}
    qrels = {"q1": {"d1", "d9"}, "q2": {"d7"}, "q3": {"d1"}}
    m = ir_metrics(ranked, qrels, k_values=(2,))
    # q1: hits at ranks 2 and 3 -> AP = (1/2 + 2/3) / 2, RR = 1/2
    assert m["p_at_2"] == pytest.approx((1 / 2 + 0 + 0) / 3)
    assert m["r_at_2"] == pytest.approx((1 / 2 + 0 + 0) / 3)
    assert m["map"] == pytest.approx(((1 / 2 + 2 / 3) / 2) / 3)
    assert m["mrr"] == pytest.approx((1 / 2) / 3)
    assert m["n_queries"] == 3


def test_ir_metrics_precision_divides_by_retrieved():
    m = ir_metrics({"q": ["a"]}, {"q": {"a"}}, k_values=(10,))
    assert m["p_at_10"] == 1.0 and m["r_at_10"] == 1.0 and m["map"] == 1.0


@pytest.mark.parametrize("name", ["setup_s", "op_p50_ms", "encode.busy_s",
                                  "parquet_index.write-bytes", "9lives"])
def test_valid_metric_names(name):
    assert valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "é", "x" * 65, None])
def test_invalid_metric_names(name):
    assert not valid_metric_name(name)


def test_check_metric_names_rejects_repeats_and_bad_names():
    check_metric_names(["a", "b.c"])
    with pytest.raises(ValueError, match="a b"):
        check_metric_names(["a", "a b"])
    with pytest.raises(ValueError):
        check_metric_names(["a", "a"])
