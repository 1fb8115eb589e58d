"""CI-side full-catalog oracle gate (round-2 verdict item 4): every
``queries()`` entry is checked against its DuckDB ``oracle_sql()`` twin at
sf0.01 inside the test suite, so an entry that rotates out of the driver's
correctness window still has an automated green here.

Reuses the driver-gate implementation in tools/check_oracle.py verbatim —
same canonical hash, same compare.
"""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from check_oracle import SF_DIR, run_checks  # noqa: E402


# Entries whose DataFrame construction runs Spark jobs, with the exact
# count at sf0.01 in the test session (local[4], 8 shuffle partitions).
# Every other entry must build its DataFrame without starting a job.
# - iterative by design: the graph loops (node-stats checkpoint and
#   rounds), triangle_counts' localCheckpoint, the connected-components
#   rounds of canonicalize_components and dedup_neardup_keep, the BPE
#   merge rounds, and the k-means Lloyd rounds of ann_ivf and
#   semantic_dedup_keep;
# - localCheckpoints that pin one evaluation: vocab_build's range
#   boundaries, the MinHash / SimHash signature tables, sem_dedup_lsh's
#   cell assignment;
# - sparql_update_rewrite: the lazy localCheckpoint between update
#   operations still runs the adaptive plan's query stages.
CONSTRUCTION_JOBS = {
    "semantic_dedup_keep": 19, "canonicalize_components": 28,
    "dedup_neardup_keep": 28, "ann_ivf": 16,
    "graph_pagerank": 12, "graph_ppr": 16, "graph_lpa": 9, "graph_bfs": 11,
    "graph_sssp": 11, "graph_triangles": 10, "graph_kcore": 17,
    "bpe_train": 34, "bpe_segment_words": 34,
    "sparql_update_rewrite": 6, "vocab_build": 5,
    "dedup_minhash_pairs": 2, "dedup_simhash_pairs": 2, "sem_dedup_lsh": 1,
}


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_full_catalog_matches_oracles(spark):
    jobs = {}
    failed = run_checks(spark, construct_jobs=jobs)
    assert not failed, f"catalog entries failing oracle check: {failed}"
    assert {n: k for n, k in jobs.items() if k} == CONSTRUCTION_JOBS


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
@pytest.mark.parametrize("name", ["graph_pagerank", "graph_ppr", "graph_lpa",
                                  "graph_bfs", "graph_sssp"])
def test_graph_entries_match_oracles_on_shuffle_rounds(
        spark, broadcast_threshold, name):
    # broadcasting off: the graph loops take the shuffle shape that large
    # scale factors take, and must still hash-match the same oracles
    with broadcast_threshold(-1):
        assert not run_checks(spark, only={name})
