"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "tools")]

import check  # noqa: E402
import check_correctness  # noqa: E402
import gen  # noqa: E402
from spans import EventLog, percentile, tail_percentile, union_length  # noqa: E402


# --- the tail-percentile rule ------------------------------------------------

@pytest.mark.parametrize(
    "n, p",
    [(2000, 99.0), (1000, 99.0), (200, 95.0), (100, 90.0), (40, 75.0), (20, 50.0)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, p):
    got_p, value = tail_percentile(list(range(n)))
    assert got_p == p
    assert n * (100 - got_p) / 100 >= 10
    assert value == percentile(list(range(n)), p)


def test_tail_falls_back_to_median_below_twenty_samples():
    assert tail_percentile([3.0, 1.0, 2.0]) == (50.0, 2.0)


def test_percentile_interpolates_like_numpy():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([5], 99) == 5


# --- interval union and driver gap -------------------------------------------

def test_union_counts_overlapping_and_nested_jobs_once():
    jobs = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.2, 5.7)]
    assert union_length(jobs) == pytest.approx(4.0)


def test_union_clips_to_the_query_span():
    jobs = [(-1.0, 1.0), (2.0, 4.0), (9.0, 12.0)]
    assert union_length(jobs, 0.0, 10.0) == pytest.approx(1.0 + 2.0 + 1.0)


def test_driver_gap_is_wall_minus_job_union():
    t0, t2 = 10.0, 20.0
    jobs = [(11.0, 14.0), (12.0, 15.0), (17.0, 18.0)]  # union 5 s
    assert (t2 - t0) - union_length(jobs, t0, t2) == pytest.approx(5.0)


def test_event_log_fold_attributes_tasks_by_job_description():
    lines = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"nodeName": "MapInPandas", "children": [],
                           "metrics": [{"name": "time to run Python workers",
                                        "accumulatorId": 7, "metricType": "nsTiming"}]}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000,
         "Stage IDs": [3], "Properties": {"spark.job.description": "pb|0|q"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Info": {"Accumulables": [{"ID": 7, "Name": "time to run Python workers",
                                         "Update": 2_000_000_000}]},
         "Task Metrics": {"Executor CPU Time": 500_000_000, "Executor Run Time": 900,
                          "JVM GC Time": 10, "Disk Bytes Spilled": 0,
                          "Memory Bytes Spilled": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Input Metrics": {"Bytes Read": 128}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2500},
    ]
    ev = EventLog(json.dumps(x) for x in lines)
    assert ev.jobs["pb|0|q"] == [(1.0, 2.5)]
    t = ev.tasks["pb|0|q"]
    assert (t["tasks"], t["cpu_s"], t["shuffle_bytes"], t["input_bytes"]) == (1, 0.5, 64, 128)
    assert t["python_s"] == pytest.approx(2.0)
    assert ev.python_by_node["pb|0|q"]["MapInPandas"] == pytest.approx(2.0)


# --- generator determinism ---------------------------------------------------

def test_tables_are_deterministic_per_seed():
    a, b, c = gen.make_tables(7, 0.001), gen.make_tables(7, 0.001), gen.make_tables(8, 0.001)
    assert sorted(a) == sorted(check_correctness.TABLES)
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["lineitem"].equals(c["lineitem"])


def test_stream_events_are_deterministic_per_seed():
    (e1, s1), (e2, s2) = gen.stream_events(3, 5000, 4), gen.stream_events(3, 5000, 4)
    pd.testing.assert_frame_equal(e1, e2)
    assert s1 == s2 and sum(s1) == 5000 and len(s1) == 4
    assert e1["event_id"].is_monotonic_increasing
    assert not gen.stream_events(4, 5000, 4)[0].equals(e1)


def test_money_columns_have_two_decimals():
    t = gen.make_tables(1, 0.001)
    for col in ("l_extendedprice", "l_discount", "l_tax"):
        v = t["lineitem"][col]
        assert ((v * 100).round() / 100 == v).all()


# --- the output checks reject perturbed results ------------------------------

COLS = ["id", "v"]
ROWS = [(1, 1.5), (2, 2.5), (3, None)]


def test_compare_accepts_the_same_rows_in_any_order_and_column_order():
    assert check.compare(COLS, ROWS, ["v", "id"], [(v, i) for i, v in reversed(ROWS)]) is None


@pytest.mark.parametrize(
    "rows",
    [
        [(1, 1.5), (2, 2.75), (3, None)],  # one changed value
        [(1, 1.5), (2, 2.5)],  # one dropped row
        [(1, 1.5), (2, 2.5), (3, None), (3, None)],  # one duplicated row
        [(1, 1.5), (2, 2.5), (2, 2.5)],  # duplicate replacing a row
    ],
)
def test_compare_rejects_a_perturbed_result(rows):
    assert check.compare(COLS, rows, COLS, ROWS) is not None


def test_stream_reference_and_its_check():
    events = pd.DataFrame(
        {"event_id": [0, 1, 2, 3], "user_id": [7, 8, 7, 7], "cents": [100, 5, 20, 1]}
    )
    cols, rows = check.stream_reference(events)
    assert cols == check.STREAM_COLUMNS
    got = {r[1]: r for r in rows}
    assert got[3] == (7, 3, 121.0, 3, 242.0)
    assert got[1] == (8, 1, 5.0, 1, 10.0)
    perturbed = [r for r in rows if r[1] != 2]  # a lost prediction
    assert check.compare(cols, perturbed, cols, rows) is not None
    wrong_pred = [(u, e, t, c, p + 1.0 if e == 0 else p) for u, e, t, c, p in rows]
    assert check.compare(cols, wrong_pred, cols, rows) is not None


def test_cluster_drop_list_keeps_the_minimum_of_each_component():
    pairs = [(5, 9), (9, 2), (4, 6), (1, 1)]
    assert check.cluster_drop_list(pairs) == {5, 9, 6}
