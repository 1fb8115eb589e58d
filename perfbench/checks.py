"""Output checks.

* ``table_hash`` -- the order-insensitive value hash of the catalog's
  DuckDB gate (tools/check_oracle.py): columns sorted by name, values
  stringified canonically, lines sorted, sha256.  Kept here so the
  benchmark does not depend on a tool script.  Used once per run to
  compare a collected Spark result with its DuckDB twin.
* ``spark_hash`` -- an order-independent hash aggregate computed inside
  Spark.  It is the timed action: it reads every column (unlike
  ``count()``, for which Catalyst prunes columns), and it is the per-pass
  check, since every timed pass must reproduce the checked pass's value.
  Spark runs with ANSI arithmetic, so the 64-bit row hashes are summed as
  two 32-bit halves: each sum stays below 2**63 for fewer than 2**31 rows.
"""

from __future__ import annotations

import hashlib
import math


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
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def compare(srows: list[tuple], scols: list[str],
            drows: list[tuple], dcols: list[str]) -> str | None:
    """None when the two results agree under the gate's rule, else why not."""
    if sorted(scols) != sorted(dcols):
        return f"schema {sorted(scols)} vs {sorted(dcols)}"
    if len(srows) != len(drows):
        return f"rows {len(srows)} vs {len(drows)}"
    hs, hd = table_hash(srows, scols), table_hash(drows, dcols)
    return None if hs == hd else f"hash {hs} vs {hd}"


def spark_hash(df) -> tuple[int, int, int]:
    """(rows, low-half sum, high-half sum) of xxhash64 over every column,
    taken in name order so the value does not depend on column order."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in sorted(df.columns)])
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.sum(F.shiftrightunsigned(F.col("h"), 32)).alias("hi"),
    ).collect()[0]
    return int(row["n"]), int(row["lo"] or 0), int(row["hi"] or 0)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))
