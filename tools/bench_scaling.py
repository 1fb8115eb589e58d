"""Two-parallelism scaling benchmark (north rule's N vs 4N executors,
sandbox proxy: same job, same input, separate JVMs at local[N] / local[4N]).

The job is the shipped write sequence (tools/_scaling_worker.py):
``pipeline.build`` with a checkpoint store, then ``pipeline.write_outputs``
— the full and pilot triple stores and the six output layers in one
tagged write, as jobs/run_pipeline.py runs them.

Writes BENCH/scaling_{A}v{B}.md (human table + confs + per-stage timings)
and BENCH/scaling_{A}v{B}.json (machine-readable).

Usage: python tools/bench_scaling.py [n_incidents] [--levels N,4N]
           [--reps R] [--corpus-dir DIR]

Noise-hardened protocol (round-3 verdict: the sandbox host shows 1.5-5x
one-sided run-to-run noise, which drowned both the PASS and the MISS it was
asked to adjudicate):

- **Sentinel contamination metering.** A fixed single-thread CPU job
  (sha256 over a fixed buffer, ~1 s) is calibrated at start (min of 5
  runs = the host's clean floor). During every rep a sampler thread
  re-runs the sentinel every ~20 s, so mid-rep host bursts are seen, not
  just rep-boundary ones. A rep is REJECTED when the 75th-percentile
  sentinel wall exceeds 1.35x the calibrated floor (or any single sample
  exceeds 2.5x); rejected reps are retried up to a per-level attempt cap.
  Rejected walls are kept in the report — nothing is silently dropped.
- **Interleaved levels.** Reps alternate A/B/A/B instead of level blocks,
  so a slow host hour cannot land entirely on one level and masquerade as
  a scaling effect.
- **Busy floor for saturating levels.** A level whose core count reaches
  the machine width (e.g. local[32] on 32 vCPUs) starves the sampler by
  construction — the sentinel then measures the job's own fair-share +
  bandwidth pressure, not external contamination, and every rep would be
  rejected against the idle floor. Such levels are judged against a
  second floor calibrated under a synthetic full-width CPU load
  (``calibrate_busy``); non-saturating levels keep the stricter idle
  floor.
- **Distribution reporting.** Headline throughput uses the best accepted
  wall (standard under one-sided noise); the JSON/MD also carry median and
  spread of accepted walls plus the full accepted/rejected lists.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from multilingual_wiki_event_pipeline_spark import datagen  # noqa: E402
from sentinel import (  # noqa: E402
    REJECT_BW_RATIO, REJECT_MAX_RATIO, REJECT_P75_RATIO, SENTINEL_PERIOD_SEC,
    SentinelSampler, bandwidth_wall, calibrate, calibrate_bandwidth,
    calibrate_busy, contamination, sweep_stale_scratch,
)


def run_rep(cpus: int, corpus_dir: str, floor: float,
            bw_floor: float) -> dict:
    """One worker subprocess under sentinel sampling. The CPU sentinel
    samples every ~20 s mid-rep; the memory-bandwidth sentinel samples at
    the rep's boundaries (job quiescent — see sentinel.py), and a rep is
    accepted only if BOTH are clean."""
    subprocess.run(["sync"], check=False)  # level the page-cache field
    bw0 = bandwidth_wall()
    with SentinelSampler() as sampler:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "_scaling_worker.py"),
             str(cpus), corpus_dir],
            capture_output=True, text=True, timeout=7200,
        )
    bw1 = bandwidth_wall()
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"worker local[{cpus}] failed")
    r = json.loads(proc.stdout.strip().splitlines()[-1])
    bw_ratio = round(max(bw0, bw1) / bw_floor, 3)
    cpu = contamination(sampler.walls, floor)
    r["sentinel"] = {
        "walls_sec": [round(w, 3) for w in sampler.walls],
        **cpu,
        "bw_walls_sec": [round(bw0, 3), round(bw1, 3)],
        "bw_ratio": bw_ratio,
        "accepted": cpu["accepted"] and bw_ratio <= REJECT_BW_RATIO,
    }
    return r


def summarize(reps: list[dict]) -> dict:
    """Level summary over accepted reps (best + median + spread), with the
    rejected walls kept alongside."""
    accepted = [r for r in reps if r["sentinel"]["accepted"]]
    rejected = [r for r in reps if not r["sentinel"]["accepted"]]
    pool = accepted or reps  # never empty: fall back to all reps, flagged
    best = min(pool, key=lambda r: r["wall_sec"])
    walls = sorted(r["wall_sec"] for r in pool)
    out = dict(best)
    out["rep_walls_sec"] = [r["wall_sec"] for r in reps]
    out["accepted_walls_sec"] = [r["wall_sec"] for r in accepted]
    out["rejected"] = [
        {"wall_sec": r["wall_sec"], "sentinel": r["sentinel"]} for r in rejected
    ]
    out["sentinels"] = [r["sentinel"] for r in reps]
    out["median_wall_sec"] = round(statistics.median(walls), 2)
    out["spread_sec"] = round(walls[-1] - walls[0], 2)
    out["all_accepted"] = not rejected
    out["fallback_no_accepted_rep"] = not accepted
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("n_incidents", nargs="?", type=int, default=1200)
    ap.add_argument("--levels", default="8,32")
    ap.add_argument("--reps", type=int, default=3,
                    help="accepted reps wanted per level")
    ap.add_argument("--max-attempts", type=int, default=None,
                    help="attempt cap per level (default reps+2)")
    ap.add_argument("--corpus-dir", default=None,
                    help="reuse a pre-generated corpus (kept afterwards); "
                         "generated there if the dir has no transcripts yet")
    args = ap.parse_args()
    n_incidents = args.n_incidents
    levels = tuple(args.levels.split(","))  # "8" (local[8]) or "4x8" (local-cluster)

    def total_cores(spec: str) -> int:
        if "x" in spec:
            e, c = spec.split("x")
            return int(e) * int(c)
        return int(spec)
    max_attempts = args.max_attempts or args.reps + 2
    keep = args.corpus_dir is not None
    if not keep:
        sweep_stale_scratch()  # SIGKILLed runs leak tmpfs scratch
    corpus_dir = args.corpus_dir or tempfile.mkdtemp(
        prefix="mwep_scaling_corpus_", dir="/dev/shm"
    )
    floor = calibrate()
    print(f"sentinel floor: {floor:.3f}s", flush=True)
    bw_floor = calibrate_bandwidth()
    print(f"bandwidth floor: {bw_floor:.3f}s", flush=True)
    # levels that saturate the machine get the busy floor (see
    # calibrate_busy): there the measured job itself slows the sampler
    nproc = os.cpu_count() or 32
    saturating = [c for c in levels if total_cores(c) >= 0.75 * nproc]
    busy_floor = None
    if saturating:
        busy_floor = calibrate_busy(floor)
        print(f"busy floor (levels {saturating}): {busy_floor:.3f}s",
              flush=True)
    floor_for = {
        c: busy_floor if c in saturating else floor for c in levels
    }
    reps: dict[int, list[dict]] = {c: [] for c in levels}
    attempts = {c: 0 for c in levels}
    try:
        if not os.path.exists(os.path.join(corpus_dir, "transcripts.parquet")):
            os.makedirs(corpus_dir, exist_ok=True)
            datagen.generate_to_dir(corpus_dir, n_incidents=n_incidents, seed=42)
        # interleave A/B/A/B until each level has `reps` accepted or its cap
        while True:
            progressed = False
            for c in levels:
                n_ok = sum(r["sentinel"]["accepted"] for r in reps[c])
                if n_ok >= args.reps or attempts[c] >= max_attempts:
                    continue
                attempts[c] += 1
                r = run_rep(c, corpus_dir, floor_for[c], bw_floor)
                reps[c].append(r)
                s = r["sentinel"]
                print(
                    f"local[{c}] rep {attempts[c]}: wall {r['wall_sec']}s "
                    f"sentinel p75x{s['p75_ratio']} "
                    f"{'ok' if s['accepted'] else 'REJECTED'}",
                    flush=True,
                )
                progressed = True
            if not progressed:
                break
    finally:
        if not keep:
            shutil.rmtree(corpus_dir, ignore_errors=True)

    results = {c: summarize(reps[c]) for c in levels}
    lo, hi = results[levels[0]], results[levels[1]]
    ratio = hi["turns_per_sec"] / lo["turns_per_sec"]
    efficiency = ratio / (total_cores(levels[1]) / total_cores(levels[0]))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    payload = {
        "n_incidents": n_incidents,
        "n_turns": lo["n_turns"],
        "protocol": {
            "sentinel_floor_sec": round(floor, 3),
            "busy_floor_sec": round(busy_floor, 3) if busy_floor else None,
            "busy_floor_levels": saturating,
            "sentinel_period_sec": SENTINEL_PERIOD_SEC,
            "reject_p75_ratio": REJECT_P75_RATIO,
            "bw_floor_sec": round(bw_floor, 3),
            "reject_bw_ratio": REJECT_BW_RATIO,
            "reject_max_ratio": REJECT_MAX_RATIO,
            "interleaved": True,
            "reps_wanted": args.reps,
            "max_attempts": max_attempts,
        },
        "levels": results,
        "throughput_ratio": round(ratio, 3),
        "scaling_efficiency": round(efficiency, 3),
        "target": 0.8,
        "pass": efficiency >= 0.8,
    }
    tag = f"{levels[0]}v{levels[1]}"
    with open(os.path.join(REPO, "BENCH", f"scaling_{tag}.json"), "w") as f:
        json.dump(payload, f, indent=2)

    stage_rows = "\n".join(
        f"| {s} | {lo['stage_wall_sec'].get(s, '—')} | {hi['stage_wall_sec'].get(s, '—')} |"
        for s in sorted(set(lo["stage_wall_sec"]) | set(hi["stage_wall_sec"]))
    )

    def master_of(spec: str) -> str:
        if "x" in spec:
            e, c = spec.split("x")
            return f"local-cluster[{e},{c},mem]"
        return f"local[{spec}]"

    def level_row(c: str, r: dict) -> str:
        rej = [x["wall_sec"] for x in r["rejected"]]
        return (
            f"| {master_of(c)} | {r['wall_sec']} | {r['median_wall_sec']} | "
            f"{r['turns_per_sec']} | {r['accepted_walls_sec']} | {rej} |"
        )

    md = f"""# BENCH — two-parallelism scaling run

North-rule scaling criterion, sandbox proxy (no multi-node cluster here):
the **same job on the same input** at `{master_of(levels[0])}` and
`{master_of(levels[1])}` in separate JVM fleets — the stand-in for N vs 4N
executors (an `ExC` level spec runs E separate executor JVMs x C cores
each via local-cluster mode; a plain `N` runs one JVM with N threads).

- Job: full KG pipeline (ingest -> pilot filters -> mention alignment ->
  entity linking -> corefs -> SRL -> triple serialization), stage
  boundaries materialized via `sinks.CheckpointStore`, outputs written by
  `pipeline.write_outputs` (full + pilot triple stores, six output layers
  in one tagged write).
- Input: deterministic synthetic transcript corpus, seed 42,
  {n_incidents} incidents = {lo['n_turns']:,} turns.
- Confs: AQE on (coalesce respects advisory size, skew join on), Arrow on,
  `spark.sql.shuffle.partitions = 2 x cores`,
  `spark.sql.files.maxPartitionBytes = 2 MB` (sandbox-scale analog of
  sizing splits to the data; corpus parquet written with 4096-row groups
  so the scan is splittable).
- Noise protocol: interleaved A/B/A/B reps; a ~1 s single-thread sha256
  sentinel sampled every {SENTINEL_PERIOD_SEC:.0f} s during each rep
  (calibrated clean floor {floor:.3f} s); reps with sentinel p75 >
  {REJECT_P75_RATIO}x floor (or any sample > {REJECT_MAX_RATIO}x) are
  rejected and retried; headline = best ACCEPTED wall, with median +
  all rep walls reported.

| parallelism | wall (s), best accepted | median | turns/sec | accepted walls (s) | rejected walls (s) |
|---|---|---|---|---|---|
{level_row(levels[0], lo)}
{level_row(levels[1], hi)}

**Throughput ratio ({total_cores(levels[1])}/{total_cores(levels[0])}
cores): {ratio:.2f}x over a
{total_cores(levels[1]) // total_cores(levels[0])}x core increase ->
scaling efficiency =
{efficiency:.3f}** (target >= 0.8: {"PASS" if efficiency >= 0.8 else "MISS"}).

Per-stage wall seconds of the best accepted rep (mirrors the reference's
stage-timing CSV columns, reference main.py:498-500):

| stage | {master_of(levels[0])} | {master_of(levels[1])} |
|---|---|---|
{stage_rows}

Output-count equality across levels: {"identical" if lo['counts'] == hi['counts'] else "MISMATCH " + str((lo['counts'], hi['counts']))}
(counts: {json.dumps(lo['counts'])})

Machine-readable copy: `BENCH/scaling_{tag}.json`. Reproduce with
`python tools/bench_scaling.py {n_incidents} --levels {levels[0]},{levels[1]}`.
"""
    with open(os.path.join(REPO, "BENCH", f"scaling_{tag}.md"), "w") as f:
        f.write(md)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
