"""Span recorder and Spark event-log aggregator for the traced run.

Spans are kept in memory: name, start, end, parent and run id.  Entering a
span sets a Spark job group named after the span id, so the jobs it runs
can be found in the event log.  Spark overrides the group for some jobs
(broadcast exchanges run under their own group), so a job whose group is
not a span id is given to the innermost span open when it was submitted.
Both clocks are the driver's wall clock, in milliseconds.

``aggregate`` reads an uncompressed, non-rolling event log
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``)
and returns task metrics per span, plus each span's job intervals, so
that a span's self time splits into job time and driver-only time.
"""

from __future__ import annotations

import json
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    run_id: str
    start_ms: float
    end_ms: float = 0.0


class Recorder:
    """Records spans when ``enabled``; otherwise ``span`` costs one branch."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.sc = spark.sparkContext if (spark is not None and enabled) else None
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{self.run_id}-{len(self.spans)}", name,
                 parent.sid if parent else None, self.run_id,
                 time.time() * 1e3)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield
        finally:
            s.end_ms = time.time() * 1e3
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setJobGroup("none", "outside spans")
        else:
            self.sc.setJobGroup(s.sid, s.name)

    def to_json(self) -> list[dict]:
        return [vars(s) for s in self.spans]


# -- interval helpers ---------------------------------------------------------

def union_ms(intervals) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


# -- event log ----------------------------------------------------------------

def _new_bucket() -> dict:
    return {
        "task_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0, "python_ms": 0.0,
        "shuffle_write_b": 0.0, "shuffle_read_b": 0.0, "fetch_wait_ms": 0.0,
        "spill_b": 0.0, "input_b": 0.0, "input_rows": 0.0,
        "output_b": 0.0, "output_rows": 0.0,
        "jobs": 0, "stages": 0, "tasks": 0,
        "job_intervals": [], "stage_task_ms": {},
    }


def aggregate(log_path: str, spans: list[dict]) -> dict[str, dict]:
    """Task metrics per span id.  Tasks go to the span of their job;
    jobs go to the span named by their job group, else to the innermost
    span open at submission.  Jobs outside every span go to ``None``."""
    by_sid = {s["sid"]: s for s in spans}
    depth: dict[str, int] = {}
    for s in spans:
        d, p = 0, s["parent"]
        while p is not None:
            d, p = d + 1, by_sid[p]["parent"]
        depth[s["sid"]] = d

    def owner(group: str | None, submit_ms: float) -> str | None:
        if group in by_sid:
            return group
        best = None
        for s in spans:
            if s["start_ms"] <= submit_ms < s["end_ms"] and (
                    best is None or depth[s["sid"]] > depth[best]):
                best = s["sid"]
        return best

    job_owner: dict[int, str | None] = {}
    job_submit: dict[int, float] = {}
    stage_owner: dict[int, str | None] = {}
    out: dict[str | None, dict] = {}

    def bucket(sid):
        return out.setdefault(sid, _new_bucket())

    with open(log_path) as f:
        for line in f:
            ev = json.loads(line)
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jid = ev["Job ID"]
                sid = owner((ev.get("Properties") or {}).get(
                    "spark.jobGroup.id"), ev.get("Submission Time", 0))
                job_owner[jid] = sid
                job_submit[jid] = ev.get("Submission Time", 0)
                for st in ev.get("Stage IDs", []):
                    stage_owner[st] = sid
                bucket(sid)["jobs"] += 1
            elif et == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_owner and ev.get("Completion Time"):
                    bucket(job_owner[jid])["job_intervals"].append(
                        (job_submit[jid], ev["Completion Time"]))
            elif et == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Number of Tasks", 0) and "Submission Time" in info:
                    bucket(stage_owner.get(info["Stage ID"]))["stages"] += 1
            elif et == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                st = ev.get("Stage ID", -1)
                b = bucket(stage_owner.get(st))
                run = m.get("Executor Run Time", 0)
                b["task_ms"] += run
                b["cpu_ns"] += m.get("Executor CPU Time", 0)
                b["gc_ms"] += m.get("JVM GC Time", 0)
                b["spill_b"] += m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                b["shuffle_read_b"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
                b["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                b["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                im = m.get("Input Metrics") or {}
                b["input_b"] += im.get("Bytes Read", 0)
                b["input_rows"] += im.get("Records Read", 0)
                om = m.get("Output Metrics") or {}
                b["output_b"] += om.get("Bytes Written", 0)
                b["output_rows"] += om.get("Records Written", 0)
                b["tasks"] += 1
                b["stage_task_ms"].setdefault(st, []).append(run)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == "time to run Python workers":
                        b["python_ms"] += float(acc.get("Update") or 0)
    return out


def skew_ratio(stage_task_ms: dict) -> float:
    """Task-time-weighted mean over stages of max/median task time
    (stages with at least two tasks and a non-zero median)."""
    num = den = 0.0
    for runs in stage_task_ms.values():
        med = statistics.median(runs) if len(runs) > 1 else 0
        if med > 0:
            w = sum(runs)
            num += w * max(runs) / med
            den += w
    return num / den if den else 1.0
