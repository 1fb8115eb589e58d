"""Checkpointed stage materialization, lineage, and the partitioned triple
sink (SURVEY K1/K3/K5 + the north rule's resumability requirement).

The reference wipes its output dirs on every run (main.py:283-288) and keeps
everything in driver memory; a 10^12-turn run cannot do either. Here every
stage boundary is materialized to the checkpoint store (Iceberg when a
catalog is configured, parquet-by-path otherwise — same interface as
sources/tables.py) with:

- **resume**: a stage whose output is already complete (`_SUCCESS`) is NOT
  recomputed — a rerun after executor/driver failure skips finished stages
  and recomputes only the tail. Writes go to a temp dir + atomic rename so a
  killed write never looks complete.
- **lineage**: one row per (stage, output file) with row count and bytes,
  appended to `<root>/_lineage`; per-stage counters (rows in/out, wall
  seconds) appended to `<root>/_counters`. These are the per-partition
  lineage rows + metrics of the north rule — queryable DataFrames, not logs.
- **plan truncation**: reading the boundary back gives downstream stages a
  shallow scan instead of the full upstream lineage — the Spark-native
  equivalent of the reference's per-stage pickle bins (main.py:361-363),
  and what keeps Catalyst analysis cost flat as the DAG grows.

The final triple sink partitions by a salted bucket of the subject so one
hot incident type / mega-conversation cannot produce a straggler partition
file (north rule's explicit skew handling; reference suffers exactly this,
one mega event type = one giant loop iteration). The write rebalances by
bucket, so each bucket is one file; AQE splits a bucket across tasks (and
files) only when its measured shuffle size exceeds the advisory partition
size.

The bucket count is a property of the store, not a constant: the writer
takes ``n = spark.sql.shuffle.partitions`` of the writing session (so the
directory and file count follows the cluster's parallelism, not a fixed
fan-out) and records it as field metadata ``{"mwep.salt_buckets": n}``
(``SALT_KEY``) on ``subj``, which parquet keeps in every file footer and
``spark.read.parquet`` returns. A reader pins a constant subject to its
one bucket, ``bucket = pmod(hash(subj), n)``, only when its input is a
plain scan of such a store (:func:`subject_bucket_filter`, used by BGP
matching in ``operators/bgp.py``): a frame that mixes in rows from
elsewhere can keep the ``subj`` metadata while those rows carry no (or a
different) bucket.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LINEAGE_SCHEMA = (
    "stage string, file string, n_rows long, n_bytes long, wall_sec double, "
    "run_id string, ts double"
)
COUNTER_SCHEMA = "stage string, metric string, value double, run_id string, ts double"


@dataclass
class CheckpointStore:
    """Stage-boundary materializer with resume + lineage.

    ``materialize(df, stage)`` returns a DataFrame reading the stored
    boundary; the compute is skipped entirely when the boundary is already
    complete (idempotent overwrite-by-stage, reference K6's idempotence
    guard xml_utils.py:364-369 generalized).
    """

    spark: SparkSession
    root: str
    catalog: str | None = None  # Iceberg catalog, e.g. "iceberg_cat.mwep_ckpt"
    run_id: str = ""
    fingerprint: str = ""  # run manifest: hash of (input, params, code rev)

    def __post_init__(self) -> None:
        if not self.run_id:
            self.run_id = uuid.uuid4().hex[:12]
        os.makedirs(self.root, exist_ok=True)

    @staticmethod
    def params_fingerprint(**params) -> str:
        """Stable fingerprint of run parameters (input path, build() args,
        schema/code markers). Rerunning with the same --checkpoint but a
        different fingerprint invalidates every stage instead of silently
        serving stale boundaries."""
        import hashlib
        import json as _json

        blob = _json.dumps(params, sort_keys=True, default=str)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]

    # -- stage boundaries ---------------------------------------------------

    def _path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._path(stage), "_MWEP_MANIFEST")

    def is_complete(self, stage: str) -> bool:
        if self.catalog:
            tbl = f"{self.catalog}.{stage}"
            if not self.spark.catalog.tableExists(tbl):
                return False
            if not self.fingerprint:
                return True
            # fingerprint lives as a table property (set in _write) so a
            # catalog-backed store invalidates on parameter/code changes
            # exactly like the path store's manifest file does.
            rows = self.spark.sql(
                f"SHOW TBLPROPERTIES {tbl} ('mwep.fingerprint')"
            ).collect()
            return bool(rows) and rows[0]["value"] == self.fingerprint
        if not os.path.exists(os.path.join(self._path(stage), "_SUCCESS")):
            return False
        if not self.fingerprint:
            return True  # unfingerprinted store keeps legacy behavior
        mp = self._manifest_path(stage)
        if not os.path.exists(mp):
            return False  # boundary predates fingerprinting -> recompute
        with open(mp) as f:
            return f.read().strip() == self.fingerprint

    def materialize(self, df: DataFrame, stage: str,
                    partition_by: tuple[str, ...] = ()) -> DataFrame:
        """Write ``df`` as ``stage`` unless it is already complete, and
        return a scan of the stored boundary.

        A boundary this call has just written is read back with the
        written frame's schema (non-partition fields, then the
        ``partition_by`` fields, the order a parquet scan puts them in),
        so the read-back starts no schema-inference job. A resumed
        boundary, written by an earlier run, is read with inference:
        whatever schema it was written with is what the scan returns, so
        a stale boundary fails downstream rather than being read through
        the current code's schema."""
        if self.is_complete(stage):
            return self._read(stage)
        t0 = time.perf_counter()
        self._write(df, stage, partition_by)
        if self.fingerprint and not self.catalog:
            with open(self._manifest_path(stage), "w") as f:
                f.write(self.fingerprint)
        self._record(stage, time.perf_counter() - t0)
        schema = df.schema
        return self._read(stage, StructType(
            [f for f in schema if f.name not in partition_by]
            + [schema[c] for c in partition_by]))

    def _write(self, df: DataFrame, stage: str,
               partition_by: tuple[str, ...]) -> None:
        if self.catalog:
            w = df.writeTo(f"{self.catalog}.{stage}")
            if self.fingerprint:
                w = w.tableProperty("mwep.fingerprint", self.fingerprint)
            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
            return
        # temp dir + atomic rename: a killed run never leaves a dir that
        # looks complete (parquet _SUCCESS alone is not atomic across the
        # job's final rename on all filesystems).
        final = self._path(stage)
        tmp = final + f".__tmp_{self.run_id}"
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)

    def _read(self, stage: str, schema: StructType | None = None) -> DataFrame:
        if self.catalog:
            return self.spark.read.table(f"{self.catalog}.{stage}")
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._path(stage))

    # -- lineage + counters (north rule) ------------------------------------

    def _record(self, stage: str, wall_sec: float) -> None:
        # per-partition lineage straight from the parquet footers: driver-side
        # metadata reads, zero Spark jobs — the lineage table costs nothing at
        # any scale (footers are O(files), not O(rows)).
        if self.catalog:
            out = self._read(stage)
            rows = [(stage, f"{self.catalog}.{stage}", out.count(), None)]
        else:
            rows = [(stage, *f) for f in _parquet_footers(self._path(stage))]
        self._append_rows(
            "_lineage",
            [
                (stage_, file_, n_rows, n_bytes, round(wall_sec, 3), self.run_id)
                for (stage_, file_, n_rows, n_bytes) in rows
            ],
            ["stage", "file", "n_rows", "n_bytes", "wall_sec", "run_id"],
        )

    def _append_rows(self, table: str, rows: list[tuple], cols: list[str]) -> None:
        import time as _time

        import pyarrow as pa
        import pyarrow.parquet as pq

        d = os.path.join(self.root, table)
        os.makedirs(d, exist_ok=True)
        data = {c: [r[i] for r in rows] for i, c in enumerate(cols)}
        data["ts"] = [_time.time()] * len(rows)
        t = pa.Table.from_pydict(data)
        pq.write_table(
            t, os.path.join(d, f"part-{self.run_id}-{uuid.uuid4().hex[:8]}.parquet")
        )

    def stage_row_count(self, stage: str) -> int:
        """Row count from recorded lineage (no Spark job).

        Only the LATEST recording of the stage counts: after
        invalidate()+recompute on a reused store the superseded run's rows
        remain in _lineage (append-only) and must not double the total.
        One _record() call = one lineage file, so "latest" = the file with
        the max ts among files mentioning the stage.
        """
        import pyarrow.parquet as pq

        d = os.path.join(self.root, "_lineage")
        best_ts, best_total = -1.0, 0
        for fn in os.listdir(d):
            t = pq.read_table(
                os.path.join(d, fn), columns=["stage", "n_rows", "ts"]
            )
            total, ts = 0, -1.0
            for s, n, row_ts in zip(
                t["stage"].to_pylist(), t["n_rows"].to_pylist(), t["ts"].to_pylist()
            ):
                if s == stage:
                    total += n
                    ts = max(ts, row_ts)
            if ts > best_ts:
                best_ts, best_total = ts, total
        return best_total

    def add_counter(self, stage: str, metric: str, value: float) -> None:
        self._append_rows(
            "_counters",
            [(stage, metric, float(value), self.run_id)],
            ["stage", "metric", "value", "run_id"],
        )

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(
            os.path.join(self.root, "_lineage"))

    def counters(self) -> DataFrame:
        return self.spark.read.schema(COUNTER_SCHEMA).parquet(
            os.path.join(self.root, "_counters"))

    def invalidate(self, stage: str) -> None:
        """Drop a boundary so the next run recomputes it (and everything
        that reads it downstream of a missing boundary)."""
        if self.catalog:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.catalog}.{stage}")
            return
        p = self._path(stage)
        if os.path.exists(p):
            shutil.rmtree(p)


def _parquet_footers(path: str) -> list[tuple[str, int, int]]:
    """(file, rows, bytes) of every parquet file under the local directory
    ``path``, read from the file footers on the driver."""
    import pyarrow.parquet as pq

    out = []
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                out.append((p, pq.ParquetFile(p).metadata.num_rows,
                            os.path.getsize(p)))
    return out


def stored_row_count(spark: SparkSession, path: str) -> int:
    """Rows of the parquet data written at ``path``. A local directory is
    summed from its file footers on the driver, with no Spark job; any
    other location (an object-store or ``file:`` URI) costs one Spark
    count."""
    if os.path.isdir(path):
        return sum(n for _, n, _ in _parquet_footers(path))
    return spark.read.parquet(path).count()


def write_layer_union(store: CheckpointStore, layers: dict[str, DataFrame],
                      stage: str) -> DataFrame:
    """Fold independent output layers into ONE tagged write job.

    Every extra Spark action pays a serial floor (Catalyst analysis, job
    schedule, commit, broadcast rebuild) that does not shrink with cores —
    N output layers written as N jobs puts N floors on the critical path.
    The layers are unioned under one tag column and written once,
    partitioned by layer, so the whole output block is a single job with a
    single floor. Per-layer row counts come for free from the parquet
    footers via ``layer_row_counts`` (partition dirs carry ``layer=``).

    The union is a nullable SUPERSCHEMA: every layer keeps its native
    columns, missing ones null-filled by
    ``unionByName(allowMissingColumns=True)``; a column name claimed by an
    earlier layer with a different type is layer-qualified
    (``name__layer``). Typed columns, not one serialized blob per row, so
    readers of a stored layer keep column pruning and predicate pushdown.
    """
    seen_types: dict[str, str] = {}
    emitted: set[str] = set()
    qualified: set[str] = set()
    parts = []
    for name, df in layers.items():
        sel = []
        for f in df.schema.fields:
            # up-front schema validation (ADVICE r3): a layer column named
            # like the tag column, or colliding with a qualified alias
            # another layer already claimed, would make the union
            # ambiguous — fail loudly before building it.
            if f.name == "layer":
                raise ValueError(
                    f"layer {name!r} has a column named 'layer', which "
                    "collides with the union's tag column"
                )
            t = f.dataType.simpleString()
            out_name = f.name
            if seen_types.get(f.name, t) != t:
                out_name = f"{f.name}__{name}"
            else:
                seen_types[f.name] = t
            collides = (
                (out_name != f.name and out_name in emitted)
                or (out_name == f.name and out_name in qualified)
            )
            if collides:
                raise ValueError(
                    f"layer {name!r} column {f.name!r} maps to "
                    f"{out_name!r}, which collides with a column "
                    "another layer already emits under that name"
                )
            emitted.add(out_name)
            if out_name != f.name:
                qualified.add(out_name)
            sel.append(F.col(f.name).alias(out_name))
        parts.append(df.select(F.lit(name).alias("layer"), *sel))
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p, allowMissingColumns=True)
    return store.materialize(union, stage, partition_by=("layer",))


def layer_row_counts(store: CheckpointStore, stage: str) -> dict[str, int]:
    """Per-layer row counts of a write_layer_union stage, from the recorded
    lineage (partition-dir names carry layer=<name>; no Spark job).

    Catalog mode has no per-file lineage paths, so it falls back to one
    grouped count over the stage table — a single metadata-cheap Spark job
    (Iceberg answers partition-level counts from manifests)."""
    import pyarrow.parquet as pq

    if store.catalog:
        return {
            r["layer"]: r["n"]
            for r in store._read(stage).groupBy("layer").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }

    d = os.path.join(store.root, "_lineage")
    best_ts: float = -1.0
    best: dict[str, int] = {}
    for fn in os.listdir(d):
        t = pq.read_table(os.path.join(d, fn), columns=["stage", "file", "n_rows", "ts"])
        counts, ts = {}, -1.0
        for s, f, n, row_ts in zip(
            t["stage"].to_pylist(), t["file"].to_pylist(),
            t["n_rows"].to_pylist(), t["ts"].to_pylist(),
        ):
            if s != stage or "layer=" not in f:
                continue
            layer = f.split("layer=")[1].split(os.sep)[0]
            counts[layer] = counts.get(layer, 0) + n
            ts = max(ts, row_ts)
        if ts > best_ts:
            best_ts, best = ts, counts
    return best


# -- final triple sink (K3) ---------------------------------------------------

# field-metadata key on ``subj`` that records a store's salt-bucket count
SALT_KEY = "mwep.salt_buckets"


def _bucket(subj: Column, n: int) -> Column:
    return F.pmod(F.hash(subj), F.lit(n))


def _salted(triples: DataFrame) -> DataFrame:
    """``triples`` plus ``bucket = pmod(hash(subj), n)`` for the writing
    session's ``n = spark.sql.shuffle.partitions``, with ``n`` recorded on
    ``subj`` as field metadata ``{SALT_KEY: n}``."""
    n = int(triples.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return triples.withColumn(
        "bucket", _bucket(F.col("subj"), n)
    ).withMetadata("subj", {SALT_KEY: n})


def subject_bucket_filter(triples: DataFrame, subj: str) -> Column | None:
    """``bucket = pmod(hash(subj), n)`` for the constant ``subj`` when
    ``triples`` is a plain scan of a store written by :func:`write_triples`
    or :func:`write_quads` (``n`` read from its ``subj`` metadata), else
    None. Catalyst folds the predicate into a PartitionFilter, so the scan
    reads one ``bucket=`` directory.

    Plain scan, checked on the analyzed plan: only Project / Filter /
    SubqueryAlias above one file relation partitioned by ``bucket``, with
    ``subj`` and ``bucket`` still that relation's own attributes. Only then
    does every row sit in its subject's bucket. Anything else may keep the
    ``subj`` metadata while carrying rows from elsewhere: a
    ``unionByName(..., allowMissingColumns=True)`` onto a store gives the
    added rows ``bucket = NULL``, which the filter would drop."""
    cols = triples.columns
    if "subj" not in cols or "bucket" not in cols:
        return None
    n = triples.schema["subj"].metadata.get(SALT_KEY)
    if not n:
        return None
    plan = triples._jdf.queryExecution().analyzed()
    keep = {a for a in plan.output().mkString("\t").split("\t")
            if a.startswith(("subj#", "bucket#"))}
    while plan.nodeName() in ("Project", "Filter", "SubqueryAlias"):
        plan = plan.child()
    if (plan.nodeName() != "LogicalRelation"
            or plan.relation().getClass().getSimpleName()
            != "HadoopFsRelation"
            or "bucket" not in plan.relation().partitionSchema().fieldNames()):
        return None
    leaf = set(plan.output().mkString("\t").split("\t"))
    if len(keep) != 2 or not keep <= leaf:
        return None
    return F.col("bucket") == _bucket(F.lit(subj), int(n))


def write_triples(triples: DataFrame, path: str) -> None:
    """Partitioned triple write, salted on the subject hash.

    ``bucket = pmod(hash(subj), n)`` spreads hot subject RANGES
    (mega-conversation neighborhoods / hot incident types) across output
    partitions instead of partitioning by raw subject or incident_type,
    either of which recreates the reference's one-giant-iteration skew.
    ``n`` is the writing session's ``spark.sql.shuffle.partitions``: the
    store gets as many ``bucket=`` dirs as the session has write
    parallelism, at most. ``n`` is recorded in the parquet footers as
    ``subj`` field metadata ``{SALT_KEY: n}``; BGP matching uses it to
    prune a constant-subject pattern to one bucket, but only over a plain
    scan of the store (see the module docstring).

    The write goes through a ``rebalance`` hint on ``bucket``: AQE puts
    each bucket in one task and coalesces the small ones, so a bucket is
    written as one file, not one file per write task. A single
    mega-subject still lands in one bucket; AQE's skew split for
    rebalances (``OptimizeSkewInRebalancePartitions``) divides that
    bucket across tasks once its shuffle partition exceeds
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, so a straggler
    bucket is split by its measured size, never by a fixed task count.
    The split is by ranges of upstream map outputs: a bucket fed by one
    map task stays one task.
    On Iceberg this becomes a ``bucket(n, subj)`` partition transform
    with fanout writers — identical layout.
    """
    _salted(triples).hint("rebalance", "bucket").write.mode(
        "overwrite").partitionBy("bucket").parquet(path)


def write_quads(quads: DataFrame, path: str) -> None:
    """Partitioned QUAD-store write: ``partitionBy(g, bucket)`` — the
    graph name is the leading partition column, so a ``GRAPH <iri>`` /
    ``FROM`` equality predicate prunes to that graph's directories
    before any row is read (the quads module's whole point), and within
    each graph the subject-hash salting of :func:`write_triples`
    applies unchanged: the same session-sized ``n``, the same ``subj``
    footer metadata, so a constant subject prunes to one bucket dir per
    graph. The ``rebalance`` hint is on ``(g, bucket)``: one file per
    graph bucket, and a bucket is split across tasks only when its
    measured shuffle size exceeds AQE's advisory partition size (see
    :func:`write_triples`).

    Contract: ``g`` must be LOW-CARDINALITY (collections, sources,
    snapshots — the reference's file-per-collection layout; thousands,
    not millions). A high-cardinality graph term would explode the
    partition directory count — put it in the data, not the layout, and
    write with :func:`write_triples` + a plain column instead. On
    Iceberg this becomes ``(identity(g), bucket(n, subj))`` partition
    transforms — identical pruning."""
    _salted(quads).hint("rebalance", "g", "bucket").write.mode(
        "overwrite").partitionBy("g", "bucket").parquet(path)
