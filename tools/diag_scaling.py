"""Scaling diagnosis: run the KG pipeline once at a given parallelism with
Spark event-logging on, tag every pipeline phase as a Spark job group, then
aggregate per-phase task metrics from the event log.

The run is ``pipeline.build`` with a checkpoint store followed by
``pipeline.write_outputs``, the write sequence jobs/run_pipeline.py ships.
Its phases are the checkpoint stages (s01-s04 and ``out_layers``, the six
output layers in one write) and ``write_triples`` (the full and pilot
triple stores); the result also carries the per-output row counts.

Per phase it reports: wall, sum of task run time (task-seconds), sum of
executor CPU time, GC time, python-UDF time, task count, max task wall —
enough to split a poor per-phase speedup into (a) extra work at higher
parallelism (task-seconds grow: contention / memory stalls), (b) idle cores
(task-seconds flat but wall floor: stragglers, low partition counts, serial
driver time between jobs).

Usage:
  python tools/diag_scaling.py <cpus> <corpus_dir> [out.json]
  python tools/diag_scaling.py --aggregate <evdir_or_logfile> <cpus> [out.json]

The second form re-aggregates an existing event log (e.g. from a run whose
post-processing failed); phase walls are then derived from the union of the
per-group [job-submit, job-end] intervals in the log instead of driver-side
timers.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _event_lines(path: str):
    """Yield event-log JSON lines from a flat file, a compressed file, or a
    Spark 4 rolling ``eventlog_v2_*`` directory (``events_N_*`` parts, in
    order). ``.zstd``/``.lz4`` parts are streamed through the CLI codec."""
    if os.path.isdir(path):
        entries = sorted(os.listdir(path))
        # either an eventLog.dir containing app logs, or a rolling app dir
        parts = [e for e in entries if e.startswith("events_")]
        if parts:
            parts.sort(key=lambda e: int(e.split("_")[1]))
            for p in parts:
                yield from _event_lines(os.path.join(path, p))
        else:
            for e in entries:
                if not e.startswith(("appstatus_", ".")):
                    yield from _event_lines(os.path.join(path, e))
        return
    if path.endswith(".zstd"):
        proc = subprocess.Popen(["zstd", "-dc", path], stdout=subprocess.PIPE,
                                text=True)
        assert proc.stdout is not None
        yield from proc.stdout
        proc.wait()
    elif path.endswith(".lz4"):
        proc = subprocess.Popen(["lz4", "-dc", path], stdout=subprocess.PIPE,
                                text=True)
        assert proc.stdout is not None
        yield from proc.stdout
        proc.wait()
    else:
        with open(path) as f:
            yield from f


def _union_sec(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end) ms intervals, in seconds."""
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
    return total / 1e3


def aggregate(log_path: str, cpus: int,
              phase_wall: dict[str, float] | None = None) -> dict[str, dict]:
    """Aggregate per-job-group task metrics from a Spark event log.

    When ``phase_wall`` (driver-side timers) is absent, each group's wall is
    the union of its jobs' [submit, end] intervals from the log."""
    stage_to_group: dict[int, str] = {}
    job_to_group: dict[int, str] = {}
    job_start_ms: dict[int, float] = {}
    group_intervals: dict[str, list[tuple[float, float]]] = {}
    agg: dict[str, dict] = {}

    def bucket(g):
        return agg.setdefault(g, {
            "task_run_sec": 0.0, "task_cpu_sec": 0.0, "gc_sec": 0.0,
            "python_sec": 0.0, "deser_sec": 0.0, "shuffle_wait_sec": 0.0,
            "n_tasks": 0, "max_task_sec": 0.0, "n_stages": 0,
        })

    for line in _event_lines(log_path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        et = ev.get("Event")
        if et == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get(
                "spark.jobGroup.id", "untagged")
            jid = ev.get("Job ID")
            job_to_group[jid] = grp
            job_start_ms[jid] = ev.get("Submission Time", 0)
            # real logs carry both; a minimal log may carry only Stage IDs
            sids = set(ev.get("Stage IDs", []))
            sids.update(si["Stage ID"] for si in ev.get("Stage Infos", []))
            for sid in sids:
                stage_to_group[sid] = grp
        elif et == "SparkListenerJobEnd":
            jid = ev.get("Job ID")
            g = job_to_group.get(jid, "untagged")
            s = job_start_ms.get(jid)
            e = ev.get("Completion Time")
            if s and e:
                group_intervals.setdefault(g, []).append((s, e))
        elif et == "SparkListenerStageCompleted":
            g = stage_to_group.get(ev["Stage Info"]["Stage ID"], "untagged")
            bucket(g)["n_stages"] += 1
        elif et == "SparkListenerTaskEnd":
            g = stage_to_group.get(ev.get("Stage ID", -1), "untagged")
            m = ev.get("Task Metrics") or {}
            b = bucket(g)
            run = m.get("Executor Run Time", 0) / 1e3
            b["task_run_sec"] += run
            b["task_cpu_sec"] += m.get("Executor CPU Time", 0) / 1e9
            b["gc_sec"] += m.get("JVM GC Time", 0) / 1e3
            b["deser_sec"] += m.get("Executor Deserialize Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            b["shuffle_wait_sec"] += sr.get("Fetch Wait Time", 0) / 1e3
            b["n_tasks"] += 1
            b["max_task_sec"] = max(b["max_task_sec"], run)
            ti = ev.get("Task Info") or {}
            for acc in ti.get("Accumulables", []):
                if acc.get("Name") == "time to run Python workers":
                    try:
                        b["python_sec"] += float(acc["Update"]) / 1e3
                    except (TypeError, ValueError):
                        pass

    for g, b in agg.items():
        for k in list(b):
            if isinstance(b[k], float):
                b[k] = round(b[k], 2)
        if phase_wall and g in phase_wall:
            b["wall_sec"] = round(phase_wall[g], 2)
        else:
            b["wall_sec"] = round(
                _union_sec(group_intervals.get(g, [])), 2)
        if b["wall_sec"]:
            b["busy_frac"] = round(
                b["task_run_sec"] / (b["wall_sec"] * cpus), 3)
    return agg


def run(cpus: int, corpus_dir: str, out_path: str | None) -> None:
    from multilingual_wiki_event_pipeline_spark.plans import pipeline
    from multilingual_wiki_event_pipeline_spark.session import get_spark
    from multilingual_wiki_event_pipeline_spark import sinks
    from multilingual_wiki_event_pipeline_spark.sinks import CheckpointStore
    from multilingual_wiki_event_pipeline_spark.sources.tables import CorpusTables

    os.environ.setdefault("SPARK_DRIVER_MEM", "8g")
    shm = tempfile.mkdtemp(prefix=f"mwep_local_{cpus}_", dir="/dev/shm")
    evdir = tempfile.mkdtemp(prefix="mwep_evlog_", dir="/dev/shm")
    extra_conf = {
        "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
        "spark.local.dir": shm,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        # flat uncompressed log: trivially parseable offline
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    spark = get_spark(master=f"local[{cpus}]",
                      app_name=f"mwep-diag-{cpus}",
                      shuffle_partitions=2 * cpus, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # tag each checkpoint stage and the triple writes as job groups
    phase_wall: dict[str, float] = {}

    def tagged(fn, phase_of):
        def run_tagged(*args, **kwargs):
            phase = phase_of(*args)
            sc.setJobGroup(phase, phase)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                phase_wall[phase] = phase_wall.get(phase, 0.0) + (
                    time.perf_counter() - t0)
                sc.setJobGroup("untagged", "untagged")
        return run_tagged

    orig_mat, orig_write = CheckpointStore.materialize, sinks.write_triples
    CheckpointStore.materialize = tagged(
        orig_mat, lambda self, df, stage, *_: stage)
    sinks.write_triples = tagged(orig_write, lambda *_: "write_triples")

    t = CorpusTables(spark, corpus_dir)
    n_turns = t.transcripts.count()
    ckpt = tempfile.mkdtemp(prefix=f"mwep_scale_{cpus}_", dir="/dev/shm")
    try:
        t0 = time.perf_counter()
        store = CheckpointStore(spark, ckpt)
        sc.setJobGroup("untagged", "untagged")
        o = pipeline.build(t, store=store)
        counts = pipeline.write_outputs(o, store, os.path.join(ckpt, "out"))
        wall = time.perf_counter() - t0
    finally:
        CheckpointStore.materialize, sinks.write_triples = orig_mat, orig_write

    spark.stop()
    try:
        agg = aggregate(evdir, cpus, phase_wall)
        result = {
            "cpus": cpus, "n_turns": n_turns, "wall_sec": round(wall, 2),
            "counts": counts, "phases": agg,
        }
        line = json.dumps(result)
        if out_path:
            with open(out_path, "w") as f:
                f.write(line)
        print(line)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(shm, ignore_errors=True)
        shutil.rmtree(evdir, ignore_errors=True)


def main() -> None:
    if sys.argv[1] == "--aggregate":
        log_path, cpus = sys.argv[2], int(sys.argv[3])
        out_path = sys.argv[4] if len(sys.argv) > 4 else None
        agg = aggregate(log_path, cpus)
        line = json.dumps({"cpus": cpus, "phases": agg})
        if out_path:
            with open(out_path, "w") as f:
                f.write(line)
        print(line)
        return
    run(int(sys.argv[1]), sys.argv[2],
        sys.argv[3] if len(sys.argv) > 3 else None)


if __name__ == "__main__":
    main()
