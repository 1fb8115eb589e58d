"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build_query --seed 1 --seconds 5 --trace 0

Runs one workload (kg_build_query or catalog_mix) from the root of a
checkout, in one process with one ``local[<cpus>]`` session, and prints
a report (lines starting with ``#``) and, as the last line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans and a Spark event log and the metrics are the
per-layer ones.  Everything the run writes goes under
``.perfbench_work/`` in the checkout, which is swept at the start of
every run.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "multilingual_wiki_event_pipeline_spark"
WORKLOAD_NAMES = ("kg_build_query", "catalog_mix")
# the driver kills a run at 180 s; stop measuring well before
MAX_RUN_S = 140.0

# span name -> layer role; spans not listed (passes, operations) are the
# benchmark's own and their self time is unattributed
# (write_layer_union writes through CheckpointStore.materialize, so its
# materialize span is the out_layers write, not a pipeline stage)
ACTION = ("sinks.write_triples", "sinks.out_layers",
          "sinks.materialize.out_layers", "sparql.exec", "catalog.action")
CONSTRUCT = ("sources", "plans.pipeline", "sinks.materialize.",
             "sparql.compile", "catalog.construct")
SHARE_OF = {"sinks.materialize.out_layers": "sinks.out_layers"}
SHARES = (
    "sources", "plans.pipeline",
    "sinks.materialize.s01_texts_full", "sinks.materialize.s02_pilot_texts",
    "sinks.materialize.s03_aligned_mentions", "sinks.materialize.s04_ref_dim",
    "sinks.write_triples", "sinks.out_layers",
    "sparql.compile", "sparql.exec", "catalog.construct", "catalog.action",
)


def role(name: str) -> str | None:
    if name.startswith(ACTION):
        return "action"
    if name.startswith(CONSTRUCT):
        return "construct"
    return None


def end_to_end(pass_walls, op_walls, units, setup_s, peak_mb) -> dict:
    from checks import geomean

    pass_s = statistics.median(pass_walls)
    by_op: dict[str, list[float]] = {}
    for name, w in op_walls:
        by_op.setdefault(name, []).append(w * 1e3)
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "throughput_per_s": (units / pass_s, "1/s"),
        "geomean_ms": (geomean([statistics.median(v)
                                for v in by_op.values()]), "ms"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def per_layer(spans: list[dict], agg: dict, wl, cpus: int) -> dict:
    """Per-pass means over the timed passes of the traced run."""
    from spans import clip, skew_ratio, union_ms

    by_sid = {s["sid"]: s for s in spans}
    kids: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append(s)

    def in_timed_pass(s):
        while s["parent"]:
            s = by_sid[s["parent"]]
        return s["name"] == "pass"

    timed = [s for s in spans if in_timed_pass(s)]
    passes = [s for s in timed if s["name"] == "pass"]
    n = len(passes)
    pass_ms = sum(s["end_ms"] - s["start_ms"] for s in passes)
    split = {"construct": [0.0, 0.0], "action": [0.0, 0.0]}
    share = dict.fromkeys(SHARES, 0.0)
    unattributed = 0.0
    tot = {k: 0.0 for k in ("task_ms", "cpu_ns", "gc_ms", "python_ms",
                            "shuffle_write_b", "shuffle_read_b",
                            "fetch_wait_ms", "spill_b", "input_b",
                            "input_rows", "output_rows", "jobs", "stages",
                            "tasks")}
    stage_runs: dict = {}
    for s in timed:
        lo, hi = s["start_ms"], s["end_ms"]
        child = [(c["start_ms"], c["end_ms"]) for c in kids.get(s["sid"], [])]
        self_ms = (hi - lo) - union_ms(clip(child, lo, hi))
        b = agg.get(s["sid"])
        jobs_ms = union_ms(clip(b["job_intervals"], lo, hi)) if b else 0.0
        r = role(s["name"])
        if r is None:
            unattributed += self_ms
        else:
            split[r][0] += max(0.0, self_ms - jobs_ms)
            split[r][1] += min(self_ms, jobs_ms)
            key = SHARE_OF.get(s["name"], s["name"])
            if key in share:
                share[key] += self_ms
        if b:
            for k in tot:
                tot[k] += b[k]
            stage_runs.update(b["stage_task_ms"])
    returned = (tot["output_rows"] + wl.rows_returned) or 1.0
    written = wl.written
    files = sum(f for f, _ in written) / max(1, len(written))
    wbytes = sum(b for _, b in written) / max(1, len(written))
    mb = 1024 * 1024
    m = {
        "trace.pass_s": (statistics.median(
            (s["end_ms"] - s["start_ms"]) / 1e3 for s in passes), "s"),
        "trace.attributed_frac": (1 - unattributed / pass_ms, "frac"),
        "construct.driver_s": (split["construct"][0] / 1e3 / n, "s"),
        "construct.jobs_s": (split["construct"][1] / 1e3 / n, "s"),
        "action.driver_s": (split["action"][0] / 1e3 / n, "s"),
        "action.jobs_s": (split["action"][1] / 1e3 / n, "s"),
        "exec.task_s": (tot["task_ms"] / 1e3 / n, "s"),
        "exec.task_cpu_s": (tot["cpu_ns"] / 1e9 / n, "s"),
        "exec.gc_s": (tot["gc_ms"] / 1e3 / n, "s"),
        "exec.busy_frac": (tot["task_ms"] / (pass_ms * cpus), "frac"),
        "exec.skew_ratio": (skew_ratio(stage_runs), "ratio"),
        "exec.spill_mb": (tot["spill_b"] / mb / n, "MB"),
        "exchange.shuffle_write_mb": (tot["shuffle_write_b"] / mb / n, "MB"),
        "exchange.shuffle_read_mb": (tot["shuffle_read_b"] / mb / n, "MB"),
        "python.worker_frac": (tot["python_ms"] / pass_ms, "frac"),
        "sources.bytes_read_mb": (tot["input_b"] / mb / n, "MB"),
        "sources.rows_read_per_row_out": (tot["input_rows"] / returned,
                                          "ratio"),
        "sinks.files_written": (files, "count"),
        "sinks.bytes_written_mb": (wbytes / mb, "MB"),
        "spark.jobs": (tot["jobs"] / n, "count"),
        "spark.stages": (tot["stages"] / n, "count"),
        "spark.tasks": (tot["tasks"] / n, "count"),
    }
    for k in SHARES:
        m[f"share.{k}"] = (share[k] / pass_ms, "frac")
    m["share.unattributed"] = (unattributed / pass_ms, "frac")
    return m


def trace_materialize(rec):
    """Wrap CheckpointStore.materialize in a span per stage, from outside
    the package; returns the function that undoes it."""
    from multilingual_wiki_event_pipeline_spark.sinks import CheckpointStore

    orig = CheckpointStore.materialize

    def materialize(self, df, stage, *args, **kwargs):
        with rec.span(f"sinks.materialize.{stage}"):
            return orig(self, df, stage, *args, **kwargs)

    CheckpointStore.materialize = materialize
    return lambda: setattr(CheckpointStore, "materialize", orig)


def run(args, work: str, pinned: dict, rss) -> tuple[dict, list[str]]:
    import env
    from spans import Recorder, aggregate
    from workloads import WORKLOADS, Context

    from multilingual_wiki_event_pipeline_spark.session import get_spark

    sentinel = [env.sentinel_ms()]
    ctx = Context(work, args.seed)
    wl = WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    wl.make_inputs()
    gen_s = time.perf_counter() - t0

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's files in the checkout: no /tmp/hsperfdata_<user>
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    evdir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(evdir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    phases = {"session_s": time.perf_counter() - t0}
    ctx.spark = spark
    ctx.rec = Recorder(spark, enabled=bool(args.trace))
    undo = trace_materialize(ctx.rec) if args.trace else (lambda: None)
    report = [f"# env {json.dumps(env.describe(spark, pinned))}"]
    try:
        t0 = time.perf_counter()
        with ctx.rec.span("checked_pass"):
            wl.checked_pass()
        phases["checked_s"] = time.perf_counter() - t0 - ctx.oracle_s
        setup_s = (time.perf_counter() - T_START - gen_s - ctx.oracle_s
                   - sentinel[0] / 1e3)

        pass_walls: list[float] = []
        op_walls: list[tuple[str, float]] = []
        p = 0
        while p < wl.min_passes or (
                sum(pass_walls) < args.seconds
                and time.perf_counter() - T_START < MAX_RUN_S):
            t = time.perf_counter()
            with ctx.rec.span("pass"):
                op_walls += wl.timed_pass(p)
            pass_walls.append(time.perf_counter() - t)
            wl.verify_pass(p)
            p += 1
    finally:
        undo()
        t0 = time.perf_counter()
        env.stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - t0
        sentinel.append(env.sentinel_ms())

    report.append(
        f"# {args.workload} seed={args.seed} passes={len(pass_walls)} "
        f"ops={len(op_walls)} generator_s={gen_s:.2f} "
        f"oracle_s={ctx.oracle_s:.2f} "
        + " ".join(f"{k}={v:.2f}" for k, v in phases.items())
        + f" sentinel_ms={[round(x, 1) for x in sentinel]} pass_walls_s="
        f"{[round(w, 3) for w in pass_walls]}")
    by_op: dict[str, list[float]] = {}
    for name, w in op_walls:
        by_op.setdefault(name, []).append(w * 1e3)
    report += [f"# op.{k}_ms {statistics.median(v):.1f} (n={len(v)})"
               for k, v in sorted(by_op.items())]
    if args.trace:
        spans = ctx.rec.to_json()
        (log,) = [os.path.join(evdir, f) for f in os.listdir(evdir)]
        metrics = per_layer(spans, aggregate(log, spans), wl,
                            env.cpu_count())
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(spans, f)
    else:
        metrics = end_to_end(pass_walls, op_walls, wl.units_per_pass(),
                             setup_s, rss.peak_mb)
    attempted = ctx.attempted
    failed = min(len(ctx.failures), attempted)
    report.append(f"# failed_frac {failed / attempted:.4f} "
                  f"({failed} of {attempted} operations)")
    report += [f"# FAIL {f}" for f in ctx.failures]
    result = {
        "correct": not ctx.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measure at least this long (sum of timed passes)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import env

    work = os.path.join(ROOT, ".perfbench_work")
    pinned = env.prepare(work)
    with env.RssSampler() as rss:
        result, report = run(args, work, pinned, rss)
    for line in report:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
