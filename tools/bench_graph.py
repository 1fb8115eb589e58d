"""Scale measurement for the graph trio (PageRank / LPA / BFS) on a
multi-million-edge synthetic graph, under the same boundary-sentinel
noise metering as bench.py.

The driver testdata graph (~1.1 M directed edges after symmetrize) is
small enough that job floors dominate; this fixture scales the same
customer↔supplier bipartite shape up deterministically — N_HUBS hub
nodes, fan-out per spoke drawn from a fixed md5-hash schedule so degree
is skewed (a few hubs collect a large share of edges, the shape a real
entity graph has) — and reports edges/sec per algorithm.

The fixture is node-heavy (nodes ≈ directed edges/2), the case
where round 6 measured broadcast rounds 1.6× slower. The graph loops
choose their rounds by the size rule in operators/graph.py: broadcast
while nodes × row width fits spark.sql.autoBroadcastJoinThreshold (64 MB
from session.py). At the default 5M edges there are about 5M string-id
nodes, so all three take SHUFFLE rounds: ranks and distances need 36
B/row (180 MB) and labels 48 B/row (240 MB). Broadcast rounds start below
about 1.86M nodes for PageRank/BFS and 1.40M for LPA.

Usage: python tools/bench_graph.py [n_edges] [--reps N]
Writes BENCH/graph_scale.json; prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sentinel import REJECT_P75_RATIO, calibrate, sentinel_wall, sweep_stale_scratch  # noqa: E402


def build_edges(spark, n_edges: int):
    """Deterministic skewed bipartite graph, generated distributed (no
    driver-side materialization): spoke i attaches to hub
    md5-hash(i) mod n_hubs, with the hash folded so hub 0 collects ~25%
    of spokes (hot-key skew on purpose)."""
    from pyspark.sql import functions as F

    n_hubs = max(16, n_edges // 2048)
    spokes = spark.range(n_edges).select(
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("src"),
        F.concat(
            F.lit("h"),
            (
                F.when(F.col("id") % 4 == 0, F.lit(0)).otherwise(
                    F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 7),
                           16, 10).cast("long") % n_hubs
                )
            ).cast("string"),
        ).alias("dst"),
    )
    return spokes


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() \
        else 5_000_000
    reps = 3
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])

    sweep_stale_scratch()
    floor = calibrate()

    from multilingual_wiki_event_pipeline_spark.operators import graph
    from multilingual_wiki_event_pipeline_spark.session import get_spark

    spark = get_spark(app_name="mwep-bench-graph")
    spark.sparkContext.setLogLevel("ERROR")

    base = build_edges(spark, n_edges)
    sym = graph.symmetrize(base).localCheckpoint()
    n_directed = sym.count()

    algos = {
        "pagerank_5it": lambda: graph.pagerank(sym, n_iters=5).count(),
        "lpa_3it": lambda: graph.label_propagation(sym, n_iters=3).count(),
        "bfs_4it": lambda: graph.bfs_distances(sym, ["h0"], max_depth=4).count(),
    }
    detail: dict[str, list[dict]] = {k: [] for k in algos}
    for name, fn in algos.items():  # untimed warm-up
        fn()
    for _ in range(reps):
        s_prev = sentinel_wall()
        for name, fn in algos.items():
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
        spark.catalog.clearCache()

    out = {"n_directed_edges": n_directed, "algos": {}}
    for name, rs in detail.items():
        accepted = [r["wall_sec"] for r in rs if r["accepted"]] or [
            r["wall_sec"] for r in rs
        ]
        best = min(accepted)
        out["algos"][name] = {
            "best_sec": best,
            "edges_per_sec": round(n_directed / best),
            "reps": rs,
        }
    with open(os.path.join(REPO, "BENCH", "graph_scale.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
