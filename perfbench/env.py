"""Pinned run environment, process-tree memory and process clean-up."""

from __future__ import annotations

import ctypes
import hashlib
import os
import platform
import shutil
import signal
import subprocess
import threading
import time

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def cpu_count() -> int:
    # the CPUs this process may run on; unlike `nproc`, not lowered by
    # OMP_NUM_THREADS
    return len(os.sched_getaffinity(0))


def prepare(work: str) -> dict[str, str]:
    """Sweep what earlier runs left in ``work`` (checkpoint stores, triple
    stores, shuffle files, event logs), recreate it and pin the
    environment the session reads.  Returns the pinned variables."""
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "inputs"):
        os.makedirs(os.path.join(work, sub))
    # session.py's defaults: fixed, pre-touched 8 GB driver heap
    for var in ("SPARK_HEAP_FIXED", "SPARK_DRIVER_MEM"):
        os.environ.pop(var, None)
    root = os.path.dirname(work)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    }
    os.environ.update(pinned)
    return pinned


def describe(spark, pinned: dict[str, str]) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        **pinned,
        "spark": spark.version,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_java_options": spark.sparkContext.getConf().get(
            "spark.driver.extraJavaOptions", ""),
        "python": platform.python_version(),
        "machine": platform.machine(),
        "kernel": platform.release(),
        "cpus": cpu_count(),
        "mem_total_mb": mem_kb // 1024,
    }


def sentinel_ms() -> float:
    """Wall of a fixed single-thread CPU job (sha256 over 256 MiB), taken
    while the session is down, to tell host slowdowns from program ones."""
    buf = b"\x5a" * (1 << 22)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(buf)
    h.digest()
    return (time.perf_counter() - t0) * 1e3


# -- process tree -------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


# kcmp(2) tells whether two processes share one address space
_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1
_libc = ctypes.CDLL(None, use_errno=True)


def _same_mm(a: int, b: int) -> bool:
    return _KCMP is not None and _libc.syscall(_KCMP, a, b, _KCMP_VM, 0, 0) == 0


def _rss_pages(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1])
    except OSError:
        return 0


def tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` and its descendants.  A child spawned
    with vfork (the JVM starts processes that way) shares its parent's
    address space until it execs and is counted once."""
    kids, total, todo = _children(), 0, [(pid, None)]
    while todo:
        p, parent = todo.pop()
        if parent is None or not _same_mm(p, parent):
            total += _rss_pages(p)
        todo += [(c, p) for c in kids.get(p, [])]
    return total * PAGE_KB / 1024


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (driver Python, JVM, Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, shut the JVM down and wait until every process
    this one started has ended."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # Python workers outlive the JVM by a moment; wait for them too
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in started if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"
