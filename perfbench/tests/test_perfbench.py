"""Tests of the benchmark's own helpers: event-log aggregation, span
intervals, the geometric mean and the result-hash rule.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import spans  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog.jsonl")

SPANS = [
    {"sid": "r-0", "name": "pass", "parent": None, "run_id": "r",
     "start_ms": 900.0, "end_ms": 3000.0},
    {"sid": "r-1", "name": "catalog.construct", "parent": "r-0",
     "run_id": "r", "start_ms": 950.0, "end_ms": 1600.0},
    {"sid": "r-2", "name": "catalog.action", "parent": "r-0",
     "run_id": "r", "start_ms": 2000.0, "end_ms": 2500.0},
]


def test_aggregate_by_job_group():
    agg = spans.aggregate(FIXTURE, SPANS)
    b = agg["r-1"]
    assert b["jobs"] == 1 and b["stages"] == 2 and b["tasks"] == 3
    assert b["task_ms"] == 600
    assert b["cpu_ns"] == 480 * 1_000_000
    assert b["gc_ms"] == 15
    assert b["python_ms"] == 120
    assert b["shuffle_write_b"] == 4096 and b["shuffle_read_b"] == 4096
    assert b["input_b"] == 8192 and b["input_rows"] == 80
    assert b["output_b"] == 512 and b["output_rows"] == 5
    assert b["job_intervals"] == [(1000, 1500)]
    assert b["stage_task_ms"] == {0: [100, 300], 1: [200]}


def test_aggregate_falls_back_to_time_containment():
    agg = spans.aggregate(FIXTURE, SPANS)
    # the broadcast job runs under Spark's own group but inside span r-2
    assert agg["r-2"]["jobs"] == 1 and agg["r-2"]["task_ms"] == 50
    assert agg["r-2"]["job_intervals"] == [(2100, 2200)]
    # the last job ran outside every span
    assert agg[None]["jobs"] == 1 and agg[None]["task_ms"] == 10
    assert "r-0" not in agg


def test_union_and_clip():
    assert spans.union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert spans.union_ms([]) == 0
    assert spans.clip([(0, 10), (15, 30), (40, 50)], 5, 20) == [(5, 10), (15, 20)]


def test_skew_ratio():
    # stage 0: max/median = 300/200; stage 1 has one task and is skipped
    assert spans.skew_ratio({0: [100, 300], 1: [200]}) == pytest.approx(1.5)
    assert spans.skew_ratio({1: [200]}) == 1.0


def test_recorder_off_records_nothing():
    rec = spans.Recorder()
    with rec.span("a"):
        with rec.span("b"):
            pass
    assert rec.spans == []


def test_recorder_nesting():
    rec = spans.Recorder(enabled=True)  # no session: no job groups
    with rec.span("outer"):
        with rec.span("inner"):
            pass
    outer, inner = rec.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert outer.start_ms <= inner.start_ms <= inner.end_ms <= outer.end_ms
    assert {s["run_id"] for s in rec.to_json()} == {rec.run_id}


def test_geomean():
    assert checks.geomean([1, 100]) == pytest.approx(10)
    assert checks.geomean([5.0]) == pytest.approx(5.0)


def test_table_hash_ignores_row_and_column_order():
    a = checks.table_hash([(1, "x"), (2, None)], ["k", "v"])
    b = checks.table_hash([(None, 2), ("x", 1)], ["v", "k"])
    assert a == b
    # integral floats print as integers, as in the DuckDB gate
    assert checks.table_hash([(1.0, "x")], ["k", "v"]) == \
        checks.table_hash([(1, "x")], ["k", "v"])
    assert checks.compare([(1, "x")], ["k", "v"], [(1, "y")], ["k", "v"]) \
        .startswith("hash")
    assert checks.compare([(1,)], ["k"], [(1,), (2,)], ["k"]) == "rows 1 vs 2"
    assert checks.compare([(1,)], ["k"], [(1,)], ["j"]).startswith("schema")
    assert checks.compare([(2, "y"), (1, "x")], ["k", "v"],
                          [(1, "x"), (2, "y")], ["k", "v"]) is None
