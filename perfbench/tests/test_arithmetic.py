"""Unit tests for the benchmark's own arithmetic, on tiny inputs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen  # noqa: E402
import sparkmetrics  # noqa: E402
import stats  # noqa: E402


def test_percentile_interpolates_between_ranks():
    assert stats.percentile([3.0], 75) == 3.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert stats.percentile([4.0, 1.0, 3.0, 2.0], 75) == pytest.approx(3.25)
    assert stats.percentile(list(map(float, range(101))), 90) == 90.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90), (200, 95), (1000, 99)],
)
def test_highest_percentile_keeps_ten_samples_beyond(n, expected):
    assert stats.highest_percentile(n) == expected


def test_keep_f1():
    expected = {"a": True, "b": True, "c": False, "d": False}
    assert stats.keep_f1({"a": True, "b": True}, expected) == 1.0
    # one false drop (b missing) and one false keep (c): tp=1 fp=1 fn=1
    assert stats.keep_f1({"a": True, "c": True}, expected) == pytest.approx(0.5)
    assert stats.keep_f1({}, {"x": False}) == 1.0
    assert stats.keep_f1({}, {"x": True}) == 0.0


def test_self_times_are_prefix_deltas():
    got = stats.self_times([("scan", 1.0), ("heur", 3.5), ("model", 3.25)])
    assert got == {"scan": 1.0, "heur": 2.5, "model": -0.25}
    assert sum(got.values()) == 3.25


def test_steal_share():
    assert stats.steal_share(90, 10) == pytest.approx(0.1)
    assert stats.steal_share(0, 0) == 0.0


def test_critical_steal_takes_the_most_preempted_cpu_per_interval():
    # two CPUs' steal counters at four samples: CPU 0 loses 3 then 0
    # then 1 ticks, CPU 1 loses 1 then 4 then 1
    samples = [[10, 20], [13, 21], [13, 25], [14, 26]]
    assert stats.critical_steal_ticks(samples) == 3 + 4 + 1
    assert stats.critical_steal_ticks(samples[:1]) == 0


def test_dedup_rows_do_not_depend_on_the_seed():
    for seed in (1, 2):
        rows, groups = gen.plant_dedup_rows(seed)
        assert len(rows) == gen.DEDUP_ROWS
        assert len({r["clip_id"] for r in rows}) == gen.DEDUP_ROWS


def _events() -> list[dict]:
    plan = {
        "nodeName": "WholeStageCodegen (1)",
        "metrics": [{"name": "duration", "accumulatorId": 1, "metricType": "timing"}],
        "children": [
            {
                "nodeName": "ArrowEvalPython",
                "metrics": [
                    {"name": "data sent to Python workers", "accumulatorId": 2, "metricType": "size"},
                    {"name": "time to start Python workers", "accumulatorId": 3, "metricType": "timing"},
                ],
                "children": [],
            }
        ],
    }

    def task(stage, finish, cpu_ns, records, updates):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {
                "Finish Time": finish,
                "Accumulables": [{"ID": i, "Update": str(v)} for i, v in updates],
            },
            "Task Metrics": {
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": 100,
                "Input Metrics": {"Bytes Read": 1000},
                "Shuffle Read Metrics": {
                    "Remote Bytes Read": 5,
                    "Local Bytes Read": 7,
                    "Total Records Read": records,
                },
            },
        }

    return [
        {"Event": sparkmetrics.SQL_START, "executionId": 0, "time": 1000, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Submission Time": 1000},
        task(0, 1500, 2e9, 10, [(2, 4096), (3, 250)]),
        task(0, 1600, 2e9, 30, [(2, 1024), (3, 50)]),
        task(1, 1700, 4e9, 20, []),
        # outside the window: ignored
        {"Event": "SparkListenerJobStart", "Submission Time": 9000},
        task(1, 9000, 9e9, 99, [(2, 1)]),
        {"Event": sparkmetrics.SQL_DRIVER_ACCUM, "executionId": 0, "accumUpdates": [[2, 10]]},
    ]


def test_window_sums_task_and_sql_metrics():
    w = sparkmetrics.Window(_events(), 900, 2000)
    assert len(w.jobs) == 1 and len(w.tasks) == 3
    assert w.task_sum("Executor CPU Time") == 8e9
    assert w.task_sum("Input Metrics", "Bytes Read") == 3000
    assert w.shuffle_read_bytes() == 36
    assert w.sql_metric("ArrowEvalPython", "data sent to Python workers") == 4096 + 1024 + 10
    assert w.sql_metric("ArrowEvalPython", "time to start Python workers") == pytest.approx(0.3)
    assert w.sql_metric("Sort", "duration") == 0.0
    # stage 0 reads 10 and 30 records: max 30 over median 20
    assert w.max_over_median_task_records() == pytest.approx(1.5)
    common = w.common(wall_s=2.0, cores=4)
    assert common["jvm.cpu_utilization"] == pytest.approx(1.0)
    assert common["jvm.gc_s"] == pytest.approx(0.3)


def test_band_join_rows_counts_joins_keyed_on_band_only():
    def join(name, keys, acc, children=()):
        return {
            "nodeName": name,
            "simpleString": f"{name} {keys}, Inner",
            "metrics": [{"name": "number of output rows", "accumulatorId": acc, "metricType": "sum"}],
            "children": list(children),
        }

    plan = join(
        "BroadcastHashJoin",
        "[band#1, chunk#2L], [band#3, chunk#4L]",
        5,
        [join("SortMergeJoin", "[band#6, bkey#7L], [band#8, bkey#9L]", 6), join("SortMergeJoin", "[rep#1], [rep#2]", 7)],
    )
    events = [
        {"Event": sparkmetrics.SQL_START, "executionId": 0, "time": 1000, "sparkPlanInfo": plan},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 0,
            "Task Info": {"Finish Time": 1500, "Accumulables": [{"ID": 5, "Update": "7"}, {"ID": 6, "Update": "4"}, {"ID": 7, "Update": "100"}]},
            "Task Metrics": {},
        },
    ]
    assert sparkmetrics.Window(events, 900, 2000).band_join_rows() == 11


def test_read_events_walks_rolling_logs(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "appstatus_local-1").write_text("")
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in _events()[:2]) + "\n")
    (d / "events_2_local-1").write_text(json.dumps(_events()[2]) + "\n")
    events = sparkmetrics.read_events(str(tmp_path))
    assert [e["Event"] for e in events] == [sparkmetrics.SQL_START, "SparkListenerJobStart", "SparkListenerTaskEnd"]


def test_oracle_label_matches_label_row():
    from ungoliant_spark.sources import fixtures

    rng = random.Random(7)
    for i in range(25):
        row = fixtures.make_row(i, rng, True)
        full = fixtures.label_row(row["clip_id"], row["transcript"])
        mine = gen.oracle_label(row["clip_id"], row["transcript"])
        assert mine["keep"] == full["keep"]
        assert mine["scrubbed_transcript"] == full["scrubbed_transcript"]
