"""tools/diag_scaling.aggregate against the benchmark's fixture event log
(read only): Python worker time must come from Spark's own accumulator
name, ``time to run Python workers``."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import diag_scaling  # noqa: E402

FIXTURE = os.path.join(REPO, "perfbench", "tests", "fixtures",
                       "eventlog.jsonl")


def test_aggregate_reads_python_worker_time():
    agg = diag_scaling.aggregate(FIXTURE, cpus=4)
    assert sum(b["python_sec"] for b in agg.values()) == pytest.approx(0.12)
    assert sum(b["n_tasks"] for b in agg.values()) == 5


def test_aggregate_maps_stages_to_job_groups_by_stage_ids():
    """The fixture's job starts list their stages only under ``Stage IDs``
    (``Stage Infos`` is empty); stages 0 and 1 belong to job group
    ``r-1``, so its three tasks must land there, not in ``untagged``."""
    agg = diag_scaling.aggregate(FIXTURE, cpus=4)
    assert agg["r-1"]["n_tasks"] == 3
    assert agg["r-1"]["n_stages"] == 2
    assert agg["r-1"]["python_sec"] == pytest.approx(0.12)
