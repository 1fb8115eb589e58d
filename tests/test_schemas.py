"""Declared parquet schemas (sources/tables.py) and schema-carrying
read-backs (sinks.CheckpointStore): they equal what Spark would infer, a
file that lacks a declared column fails loudly, and building the corpus
tables or the pipeline's DataFrames starts no Spark job."""

from __future__ import annotations

import datetime as dt
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
sys.path.insert(0, os.path.join(REPO, "perfbench"))

from check_oracle import SF_DIR, construction_jobs  # noqa: E402

from multilingual_wiki_event_pipeline_spark.plans import pipeline  # noqa: E402
from multilingual_wiki_event_pipeline_spark.sinks import (  # noqa: E402
    CheckpointStore, COUNTER_SCHEMA, LINEAGE_SCHEMA,
)
from multilingual_wiki_event_pipeline_spark.sources.tables import (  # noqa: E402
    CORPUS_SCHEMAS, SF_SCHEMAS, TABLE_NAMES, CorpusTables, read_parquet,
)


def _assert_declared_equals_inferred(spark, root, schemas):
    for name, ddl in schemas.items():
        path = f"{root}/{name}.parquet"
        assert (read_parquet(spark, path, ddl).schema
                == spark.read.parquet(path).schema), name


def test_corpus_schemas_equal_inferred(spark, corpus_dir):
    _assert_declared_equals_inferred(spark, corpus_dir, CORPUS_SCHEMAS)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="sf testdata absent")
def test_sf_schemas_equal_inferred_on_testdata(spark):
    assert sorted(SF_SCHEMAS) == sorted(
        f[: -len(".parquet")] for f in os.listdir(SF_DIR))
    _assert_declared_equals_inferred(spark, SF_DIR, SF_SCHEMAS)


def test_sf_schemas_equal_inferred_on_generated_tables(spark, tmp_path):
    import inputs  # perfbench's seeded sf-table generator

    inputs.sf_tables(str(tmp_path), 0.01, 5)
    _assert_declared_equals_inferred(spark, str(tmp_path), SF_SCHEMAS)


def test_missing_declared_column_raises(spark, tmp_path):
    ddl = SF_SCHEMAS["region"]
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int32())}),
                   path)
    # what the footer check guards against: Spark reads the missing
    # column as NULL without an error
    assert {r.r_name for r in spark.read.schema(ddl).parquet(path).collect()} == {None}
    with pytest.raises(ValueError, match="r_name"):
        read_parquet(spark, path, ddl)


def test_missing_column_checked_in_part_file_directory(spark, tmp_path):
    out = str(tmp_path / "t")
    spark.createDataFrame([(1, "x"), (2, "y")], "k BIGINT, v STRING").write.parquet(out)
    got = read_parquet(spark, out, "k BIGINT,v STRING")
    assert sorted(map(tuple, got.collect())) == [(1, "x"), (2, "y")]
    with pytest.raises(ValueError, match=r"\['w'\]"):
        read_parquet(spark, out, "k BIGINT,w STRING")


def _frame(spark):
    # ``n`` is non-nullable in the frame; a parquet scan reads every
    # column as nullable, declared or inferred
    return spark.createDataFrame(
        [("a", 1, 2.5, ["x", "y"], dt.datetime(2020, 1, 2, 3, 4, 5), "l1"),
         ("b", None, None, [], dt.datetime(2021, 6, 7), "l2"),
         ("c", 3, -1.0, None, None, "l1")],
        "s STRING, i INT, d DOUBLE, arr ARRAY<STRING>, ts TIMESTAMP, "
        "layer STRING",
    ).withColumn("n", F.lit(7))


@pytest.mark.parametrize("partition_by", [(), ("layer",)])
def test_materialize_readback_equals_inferred_read(spark, tmp_path,
                                                   partition_by):
    df = _frame(spark)
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    _, n_plain = construction_jobs(spark, lambda: df.write.partitionBy(
        *partition_by).parquet(str(tmp_path / "plain")))
    back, n_mat = construction_jobs(
        spark, lambda: store.materialize(df, "st", partition_by=partition_by))
    inferred = spark.read.parquet(str(tmp_path / "ckpt" / "st"))
    assert back.schema == inferred.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, inferred.collect()))
    # the read-back adds no job to the write
    assert n_mat == n_plain


def test_resumed_stage_keeps_its_written_schema(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    first = _frame(spark)
    store.materialize(first, "st")
    # complete stage: not rewritten, and read as it was written, not
    # through the new frame's schema
    back = store.materialize(first.select("s", "i"), "st")
    assert back.columns == first.columns


def test_lineage_and_counters_read_with_declared_schemas(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    store.materialize(_frame(spark), "st")
    store.add_counter("st", "rows_out", 3)
    lin, cnt = store.lineage(), store.counters()
    assert lin.schema == spark.read.parquet(
        str(tmp_path / "ckpt" / "_lineage")).schema
    assert cnt.schema == spark.read.parquet(
        str(tmp_path / "ckpt" / "_counters")).schema
    assert lin.columns == [c.split()[0] for c in LINEAGE_SCHEMA.split(", ")]
    assert cnt.columns == [c.split()[0] for c in COUNTER_SCHEMA.split(", ")]
    assert lin.agg({"n_rows": "sum"}).first()[0] == 3


def test_corpus_tables_and_pipeline_build_start_no_jobs(spark, corpus_dir):
    def build():
        t = CorpusTables(spark, corpus_dir)
        for name in TABLE_NAMES:
            t.table(name)
        o = pipeline.build(t)
        o.incident_ancestors  # the deferred closure plan: built, not run
        return o

    _, n = construction_jobs(spark, build)
    assert n == 0
