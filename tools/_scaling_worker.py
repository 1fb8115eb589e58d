"""Subprocess worker for tools/bench_scaling.py: runs the full KG pipeline
once at a given parallelism level and prints one JSON line with wall time,
turns/sec, per-output row counts and per-stage timings (mirroring the
reference's stage CSV, main.py:498-500).

The timed work is the shipped write sequence, ``pipeline.build`` with a
checkpoint store followed by ``pipeline.write_outputs`` (the same calls as
jobs/run_pipeline.py): the full and pilot triple stores, then the six
output layers as one tagged write.

Usage: python tools/_scaling_worker.py <level> <corpus_dir>

``level`` is either an integer N (one JVM, ``local[N]``) or ``ExC``
(``local-cluster[E,C,mem]``: E separate executor JVMs x C cores each —
the faithful sandbox proxy for the north rule's "N vs 4N executors",
because executor-count scaling is what a real cluster changes). The
round-5 diagnosis (tools/cpu_ceiling.py, tools/page_touch_ceiling.py,
BENCH/BASELINE.md "Why local[32] anti-scaled") showed single-JVM local[32]
serializes on process-wide state a real fleet does not share: one G1 heap
(grow/uncommit churn when only -Xmx is set) and one mmap_lock convoyed by
Hadoop local-fs chmod fork/execs. Both fixes below apply to either mode.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from multilingual_wiki_event_pipeline_spark.plans import pipeline  # noqa: E402
from multilingual_wiki_event_pipeline_spark.session import get_spark  # noqa: E402
from multilingual_wiki_event_pipeline_spark.sinks import CheckpointStore  # noqa: E402
from multilingual_wiki_event_pipeline_spark.sources.tables import CorpusTables  # noqa: E402


def main() -> None:
    level = sys.argv[1]
    corpus_dir = sys.argv[2]
    if "x" in level:
        n_exec, cores_each = (int(p) for p in level.split("x"))
        cpus = n_exec * cores_each
    else:
        n_exec, cores_each = None, None
        cpus = int(level)
    # one JVM hosts every "executor" thread in local mode: size the heap
    # like a real executor fleet would be sized — but INSIDE the host's
    # real backing budget. The r2-r4 value of 48g (chosen after 8g
    # TaskResultLost evictions at a 60k-incident corpus) is exactly wrong
    # on this sandbox: the host backs only ~18 GB of the VM's advertised
    # 125 GB (tools/page_touch_ceiling.py chunk sweep — first-touch
    # collapses 100x past ~18 GB cumulative), so a 48g heap intermittently
    # falls off the cliff and walls swing 1.5-5x. 8g pretouched (via
    # session.py's fixed-heap default) + ~5 GB of python workers at 32
    # cores + tmpfs shuffle stays under budget (12g measured 3.7x slower
    # at local[32]: the python-worker fleet pushed the total past the
    # cliff). 8g verified clean at the 60k-incident corpus (7.5 M turns,
    # zero TaskResultLost — the r2 evictions came from the retired
    # relational-alignment token shuffle, not corpus size); raise via
    # SPARK_DRIVER_MEM only if evictions reappear at larger corpora.
    os.environ.setdefault("SPARK_DRIVER_MEM", "8g")
    # tmpfs for shuffle + checkpoint store: the sandbox has ONE ~76 MB/s
    # sys-CPU-bound block device, a resource that on a real cluster scales
    # with the executor count (HDFS/S3/local NVMe per node). Leaving it in
    # the measurement caps both parallelism levels at the same disk ceiling
    # and measures the disk, not the engine.
    shm = tempfile.mkdtemp(prefix=f"mwep_local_{cpus}_", dir="/dev/shm")
    extra_conf = {
        # sandbox-scale analog of sizing spark.sql.files.maxPartitionBytes to
        # the data: the corpus is a few MB, so give the scan row-group-sized
        # splits; at 100 TB the 128 MB default gives the same >=1-split-per-core.
        "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
        "spark.local.dir": shm,
        # (RawLocalFileSystem + the fixed pre-touched driver heap now come
        # from session.get_spark's defaults.)
    }
    if n_exec is None:
        master = f"local[{cpus}]"
    else:
        # Budget: host backs ~18 GB total (see above). 4 executors x 3g
        # + 12g driver-session JVM is too much, so local-cluster runs get
        # a small driver via SPARK_DRIVER_MEM below and 3g executors,
        # fixed + pretouched like a real fleet would be.
        os.environ["SPARK_DRIVER_MEM"] = os.environ.get(
            "SPARK_DRIVER_LC_MEM", "3g"
        )
        exec_mb = int(os.environ.get("SPARK_EXEC_MEM_MB", "3072"))
        master = f"local-cluster[{n_exec},{cores_each},{exec_mb}]"
        # the master-string mem is the WORKER's capacity; the executor JVM
        # heap comes from spark.executor.memory — set both, or the -Xms
        # below exceeds the default 1g -Xmx and the executor JVM dies at
        # launch in a relaunch loop.
        extra_conf["spark.executor.memory"] = f"{exec_mb}m"
        extra_conf["spark.executor.extraJavaOptions"] = (
            f"-Xms{exec_mb}m -XX:+AlwaysPreTouch"
        )
        # local-cluster executors spawn their own python workers, which
        # (unlike local[N]'s driver-forked workers) do not inherit the
        # driver's sys.path — ship the repo root so the pandas-UDF
        # closures can re-import their modules.
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        prior = os.environ.get("PYTHONPATH", "")
        extra_conf["spark.executorEnv.PYTHONPATH"] = (
            f"{repo}:{prior}" if prior else repo
        )
    spark = get_spark(
        master=master,
        app_name=f"mwep-scaling-{level}",
        shuffle_partitions=2 * cpus,
        extra_conf=extra_conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    t = CorpusTables(spark, corpus_dir)
    n_turns = t.transcripts.count()

    ckpt = tempfile.mkdtemp(prefix=f"mwep_scale_{cpus}_", dir="/dev/shm")
    try:
        t0 = time.perf_counter()
        store = CheckpointStore(spark, ckpt)
        o = pipeline.build(t, store=store)
        counts = pipeline.write_outputs(o, store, os.path.join(ckpt, "out"))
        wall = time.perf_counter() - t0
        import pyarrow.parquet as pq

        stage_wall: dict[str, float] = {}
        ldir = os.path.join(ckpt, "_lineage")
        for fn in os.listdir(ldir):
            lt = pq.read_table(os.path.join(ldir, fn), columns=["stage", "wall_sec"])
            for s, w in zip(lt["stage"].to_pylist(), lt["wall_sec"].to_pylist()):
                stage_wall[s] = w
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(shm, ignore_errors=True)

    print(json.dumps({
        "cpus": cpus,
        "n_turns": n_turns,
        "wall_sec": round(wall, 2),
        "turns_per_sec": round(n_turns / wall, 1),
        "counts": counts,
        "stage_wall_sec": stage_wall,
    }))


if __name__ == "__main__":
    main()
