"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, compares row count, column names, and an order-insensitive
value hash (columns sorted by name, values stringified canonically).

Usage: python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import uuid

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
SF_DIR = "/root/testdata/sf0.01"


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    return str(v)


def table_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def construction_jobs(spark, build):
    """``(build(), n)``: the result of ``build()`` and the number of Spark
    jobs started while it ran, counted under a job group of its own."""
    sc = spark.sparkContext
    group = f"construct-{uuid.uuid4().hex}"
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
    prev = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup(group, "DataFrame construction")
    try:
        out = build()
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def run_checks(spark, only: set[str] | None = None,
               sf_dir: str = SF_DIR, echo=print,
               construct_jobs: dict[str, int] | None = None) -> list[str]:
    """Run every (or ``only`` the named) catalog query on Spark and its
    DuckDB oracle twin, compare, and return the list of failing names.
    Importable so tests/test_catalog_oracle.py runs the full gate in CI.
    ``construct_jobs``, when given, receives each entry's count of Spark
    jobs started while its DataFrame was built (before any action)."""
    import os
    import sys as _sys

    _sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # the driver sees exactly the 50 queries()/oracle_sql() entries; the CI
    # gate additionally checks the rotated-out extras (catalog.EXTRA_QUERIES)
    # so they keep an automated hash-green
    from multilingual_wiki_event_pipeline_spark.catalog import EXTRA_QUERIES
    from multilingual_wiki_event_pipeline_spark.oracles import EXTRA_ORACLES

    qs = {**e.queries(), **EXTRA_QUERIES}
    oracles = {**e.oracle_sql(), **EXTRA_ORACLES}
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf, n_jobs = construction_jobs(spark, lambda: fn(spark, sf_dir))
            if construct_jobs is not None:
                construct_jobs[name] = n_jobs
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as ex:
            echo(f"FAIL {name}: spark error {str(ex)[:2000]}")
            failed.append(name)
            continue
        if name not in oracles:
            echo(f"ROWS {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as ex:
            echo(f"FAIL {name}: duckdb error {str(ex)[:400]}")
            failed.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema {sorted(scols)} vs {sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} vs {len(drows)}")
        if not problems:
            hs, hd = table_hash(srows, scols), table_hash(drows, dcols)
            if hs != hd:
                problems.append(f"hash {hs} vs {hd}")
        if problems:
            echo(f"FAIL {name}: {'; '.join(problems)}")
            failed.append(name)
        else:
            echo(f"OK   {name}: {len(srows)} rows")
    echo(f"\n{len(failed)} failures: {failed}" if failed else "\nall OK")
    return failed


def main() -> int:
    sys.path.insert(0, "/root/repo")
    from multilingual_wiki_event_pipeline_spark.session import get_spark

    failed = run_checks(get_spark(), only=set(sys.argv[1:]) or None)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
