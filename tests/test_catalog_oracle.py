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


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_full_catalog_matches_oracles(spark):
    failed = run_checks(spark)
    assert not failed, f"catalog entries failing oracle check: {failed}"


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
@pytest.mark.parametrize("name", ["graph_pagerank", "graph_ppr", "graph_lpa",
                                  "graph_bfs", "graph_sssp"])
def test_graph_entries_match_oracles_on_shuffle_rounds(
        spark, broadcast_threshold, name):
    # broadcasting off: the graph loops take the shuffle shape that large
    # scale factors take, and must still hash-match the same oracles
    with broadcast_threshold(-1):
        assert not run_checks(spark, only={name})
