"""Host-noise sentinel: the shared contamination-metering machinery used by
every benchmark in this repo (tools/bench_scaling.py,
bench.py headline loop since round 5).

Why it exists (measured rounds 2-4, BENCH/BASELINE.md "Host-noise
evidence"): this shared VM shows 1.5-5x ONE-SIDED wall-clock swings lasting
tens of minutes. Any single unmetered timing is an anecdote; round 4's
headline bench inflated nearly every unchanged query in lockstep while the
only best-of-N-with-warm-up number improved. The protocol:

- A fixed single-thread CPU job (sha256 over a fixed 4 MiB buffer, ~1 s)
  is calibrated at start (min of 5 runs = the host's clean floor).
- Long reps get a background sampler (`SentinelSampler`) re-running the
  sentinel every ~20 s so mid-rep bursts are seen; short reps (headline
  queries, seconds each) get boundary samples immediately before/after —
  valid because the measured noise episodes last far longer than one rep.
- A rep is REJECTED when its sentinel p75 exceeds 1.35x the floor or any
  sample exceeds 2.5x; rejected walls are retried AND kept in the report —
  nothing is silently dropped.
- Levels that saturate the machine (cpus >= ~0.75 x nproc) starve the
  sampler by construction; they are judged against a busy floor calibrated
  under a synthetic full-width load (`calibrate_busy`).
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

SENTINEL_BUF = b"\x5a" * (1 << 22)  # 4 MiB fixed buffer
SENTINEL_ITERS = 150                # ~1 s of single-core sha256 on a clean host
SENTINEL_PERIOD_SEC = 20.0
REJECT_P75_RATIO = 1.35
REJECT_MAX_RATIO = 2.5


def sentinel_wall() -> float:
    """One timed run of the fixed single-thread sentinel job."""
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(SENTINEL_ITERS):
        h.update(SENTINEL_BUF)
    h.digest()
    return time.perf_counter() - t0


def calibrate(n: int = 5) -> float:
    return min(sentinel_wall() for _ in range(n))


# --- memory-bandwidth sentinel (round 5) -----------------------------------
# The sha256 sentinel's 4 MiB working set is cache-resident, so it is BLIND
# to DRAM-bandwidth contention — measured this round: four identical
# fresh-JVM batteries of the same 4-core stage read best-accepted walls of
# 36.9 / 38.2 / 52.9 s with every CPU-sentinel sample green. A large memcpy
# (2 x 128 MiB buffers, far past LLC) tracks exactly that resource. Sampled
# at rep BOUNDARIES only (the job is quiescent, so the reading is the
# host's, not the job's own) — valid for the same reason boundary CPU
# samples are: the measured noise episodes last minutes, reps are bracketed
# within them.
BW_MB = 128
BW_ROUNDS = 24  # ~0.3-0.5 s per sample on a clean host
REJECT_BW_RATIO = 1.5
_BW_SRC: bytearray | None = None
_BW_DST: bytearray | None = None


def bandwidth_wall() -> float:
    """One timed run of the fixed memcpy bandwidth sentinel."""
    global _BW_SRC, _BW_DST
    if _BW_SRC is None:
        _BW_SRC = bytearray(b"\xa5" * (BW_MB << 20))
        _BW_DST = bytearray(BW_MB << 20)
    t0 = time.perf_counter()
    for _ in range(BW_ROUNDS):
        _BW_DST[:] = _BW_SRC
    return time.perf_counter() - t0


def calibrate_bandwidth(n: int = 5) -> float:
    return min(bandwidth_wall() for _ in range(n))


def _spin(seconds: float) -> None:
    """Full-core synthetic load for busy-floor calibration (subprocess
    target — plain sha256 loop, same work profile as the sentinel)."""
    end = time.perf_counter() + seconds
    h = hashlib.sha256()
    while time.perf_counter() < end:
        h.update(SENTINEL_BUF)


def calibrate_busy(idle_floor: float, n_procs: int | None = None,
                   n_samples: int = 3) -> float:
    """Sentinel wall while the WHOLE machine runs a synthetic CPU load —
    the expected sentinel reading during a SATURATING rep (cpus >= nproc)
    on an otherwise-clean host.

    Rationale (measured round 4): at `local[32]` on a 32-vCPU box the
    measured job itself competes with the sampler for cycles and shared
    memory bandwidth, so the sentinel reads 1.5-4x the IDLE floor even
    with zero external contamination — every saturating-level rep gets
    auto-rejected against the idle floor. Saturating levels are therefore
    judged against this busy floor; non-saturating levels keep the idle
    floor, which is the stricter (correct) baseline when the sampler has a
    free core."""
    import multiprocessing as mp

    n = n_procs or os.cpu_count() or 32
    budget = (n_samples + 1) * max(idle_floor * 8, 4.0)
    procs = [mp.Process(target=_spin, args=(budget,), daemon=True)
             for _ in range(n)]
    for p in procs:
        p.start()
    time.sleep(max(idle_floor, 1.0))  # let the load ramp
    walls = [sentinel_wall() for _ in range(n_samples)]
    for p in procs:
        p.terminate()
        p.join(timeout=5)
    return max(statistics.median(walls), idle_floor)


class SentinelSampler:
    """Background thread: one sentinel run every SENTINEL_PERIOD_SEC while a
    rep is in flight. Costs one core — use for reps long enough (minutes)
    that boundary samples alone could miss a mid-rep burst."""

    def __init__(self) -> None:
        import threading

        self.walls: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.walls.append(sentinel_wall())
            self._stop.wait(SENTINEL_PERIOD_SEC)

    def __enter__(self) -> "SentinelSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def contamination(walls: list[float], floor: float) -> dict:
    """Sentinel verdict for one rep: p75 and max ratio vs the calibrated
    clean floor, plus the accept/reject decision. Works for sampler walls
    (many) and boundary pairs (two) alike."""
    if not walls:
        return {"p75_ratio": None, "max_ratio": None, "accepted": True}
    ratios = sorted(w / floor for w in walls)
    p75 = ratios[min(len(ratios) - 1, (3 * len(ratios)) // 4)]
    mx = ratios[-1]
    return {
        "p75_ratio": round(p75, 3),
        "max_ratio": round(mx, 3),
        "accepted": p75 <= REJECT_P75_RATIO and mx <= REJECT_MAX_RATIO,
    }


SCRATCH_PREFIXES = ("mwep_scaling_corpus_", "mwep_scale_", "mwep_local_",
                    "mwep_bench_corpus_", "mwep_bench_ckpt_")


def sweep_stale_scratch(echo=print) -> list[str]:
    """Remove scratch dirs leaked by hard-killed benchmark runs.

    Round-5 finding: two headline-bench runs showed kg reps degrading
    12 -> 28 s with every sentinel green — ~1.4 GB of corpus/checkpoint
    dirs from SIGKILLed scaling runs was resident in /dev/shm, and tmpfs
    pages count against this sandbox's ~18 GB host memory budget (the
    sentinel's own pages stay resident, so it is blind to self-inflicted
    budget pressure). The in-process `finally` cleanups can't fire on
    SIGKILL, so every bench SWEEPS at startup instead. Only one bench may
    run at a time (concurrent Spark work contaminates sentinels anyway),
    so an unconditional prefix sweep is safe.
    """
    import shutil
    import tempfile

    removed = []
    for base in ("/dev/shm", tempfile.gettempdir()):
        if not os.path.isdir(base):
            continue
        for name in os.listdir(base):
            if name.startswith(SCRATCH_PREFIXES):
                p = os.path.join(base, name)
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
    if removed:
        echo(f"swept {len(removed)} stale scratch dirs: {removed}")
    return removed


def meter_ops(ops, reps: int, floor: float) -> dict:
    """Boundary-sentinel-metered interleaved reps over ``{name: thunk}``
    (the short-rep protocol bench.py's headline loop uses): one sentinel
    sample between consecutive ops, each rep's verdict = max of its two
    boundary ratios vs REJECT_P75_RATIO. Returns {name: [rep dicts]}.
    Warm-up calls are the CALLER's duty (their results usually feed the
    report). Shared by the bench_* tools so the acceptance protocol has
    one implementation."""
    detail: dict = {name: [] for name in ops}
    for _ in range(reps):
        s_prev = sentinel_wall()
        for name, fn in ops.items():
            t0 = time.perf_counter()
            fn()
            wall = round(time.perf_counter() - t0, 3)
            s_next = sentinel_wall()
            ratio = round(max(s_prev, s_next) / floor, 3)
            detail[name].append({
                "wall_sec": wall, "sentinel_ratio": ratio,
                "accepted": ratio <= REJECT_P75_RATIO,
            })
            s_prev = s_next
    return detail


def best_accepted_wall(reps: list[dict]) -> float:
    """Best accepted wall; falls back to best overall (nothing silently
    dropped — callers report every rep alongside)."""
    accepted = [r["wall_sec"] for r in reps if r["accepted"]]
    return min(accepted) if accepted else min(r["wall_sec"] for r in reps)


def positional_ints(argv: list[str]) -> list[int]:
    """Integer positionals from argv, skipping every ``--flag`` AND its
    value — so a flag's numeric value is never mistaken for a positional."""
    pos, it = [], iter(argv)
    for a in it:
        if a.startswith("--"):
            next(it, None)
        elif a.isdigit():
            pos.append(int(a))
    return pos
