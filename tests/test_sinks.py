"""Checkpoint-store semantics: resume-after-failure, stage skipping,
lineage/counters, and the salted triple sink (north rule; SURVEY §7.1 M5).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_oracle import construction_jobs  # noqa: E402

from multilingual_wiki_event_pipeline_spark.plans import pipeline  # noqa: E402
from multilingual_wiki_event_pipeline_spark.sinks import (  # noqa: E402
    SALT_KEY,
    CheckpointStore,
    layer_row_counts,
    stored_row_count,
    write_layer_union,
    write_triples,
)
from multilingual_wiki_event_pipeline_spark.sources.tables import (  # noqa: E402
    CorpusTables,
)


def _n_files(bucket_dir):
    return sum(f.endswith(".parquet") for f in os.listdir(bucket_dir))


def _triples(df):
    return {
        (r.subj, r.pred, r.obj, r.obj_is_literal, r.lang, r.datatype)
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def store_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ckpt"))


def test_resume_identical_output(spark, corpus_dir, store_dir, tmp_path_factory):
    """A run interrupted after the early stages resumes without recomputing
    them and produces byte-identical triples."""
    t = CorpusTables(spark, corpus_dir)

    # run 1: full run through a store
    s1 = CheckpointStore(spark, store_dir)
    o1 = pipeline.build(t, store=s1)
    want = _triples(o1.pilot_triples)
    want_mentions = o1.mentions.count()
    assert s1.is_complete("s04_ref_dim")

    # simulate mid-run failure: later boundaries lost, early ones intact
    s1.invalidate("s04_ref_dim")
    s1.invalidate("s03_aligned_mentions")
    assert not s1.is_complete("s03_aligned_mentions")
    assert s1.is_complete("s01_texts_full")

    # run 2 (fresh store handle = fresh driver): completes only the missing
    # tail; output identical
    s2 = CheckpointStore(spark, store_dir)
    o2 = pipeline.build(t, store=s2)
    assert _triples(o2.pilot_triples) == want
    assert o2.mentions.count() == want_mentions

    # stages recomputed in run 2 are exactly the invalidated ones
    lineage = s2.lineage()
    redone = {
        r.stage
        for r in lineage.filter(F.col("run_id") == s2.run_id).collect()
    }
    assert redone == {"s03_aligned_mentions", "s04_ref_dim"}


def test_store_output_matches_cache_path(spark, corpus_dir, tmp_path_factory):
    """The materialized-store pipeline and the in-session cache pipeline are
    the same computation."""
    t = CorpusTables(spark, corpus_dir)
    store = CheckpointStore(spark, str(tmp_path_factory.mktemp("ckpt_eq")))
    via_store = _triples(pipeline.build(t, store=store).full_triples)
    via_cache = _triples(pipeline.build(t, cache_intermediates=True).full_triples)
    assert via_store == via_cache


def test_lineage_rows_cover_rowcounts(spark, corpus_dir, store_dir):
    """Per-partition lineage rows sum to the boundary's row count."""
    store = CheckpointStore(spark, store_dir)
    got = (
        store.lineage()
        .groupBy("stage")
        .agg(F.sum("n_rows").alias("n"))
        .collect()
    )
    by_stage = {r.stage: r.n for r in got}
    s02 = store._read("s02_pilot_texts").count()
    assert by_stage["s02_pilot_texts"] == s02
    assert by_stage["s03_aligned_mentions"] > 0


def test_counters_roundtrip(spark, store_dir):
    store = CheckpointStore(spark, store_dir)
    store.add_counter("s03_aligned_mentions", "misaligned_mentions", 7)
    rows = store.counters().filter(F.col("metric") == "misaligned_mentions").collect()
    assert any(r.value == 7.0 for r in rows)


def test_layer_union_typed_superschema_roundtrip(spark, tmp_path):
    """write_layer_union folds N layers into one tagged write under a
    nullable superschema:
    shared same-type columns merge, a name reused with a different type is
    layer-qualified, missing columns null-fill, and per-layer counts come
    from lineage."""
    store = CheckpointStore(spark, str(tmp_path / "ckpt_lu"))
    a = spark.range(7).select(F.col("id").alias("x"), (F.col("id") * 2).alias("y"))
    b = spark.range(3).select(F.col("id").cast("string").alias("s"))
    c = spark.range(2).select(
        F.col("id").alias("x"),                      # same name+type as a.x
        F.col("id").cast("string").alias("y"),        # name clash, new type
    )
    out = write_layer_union(store, {"a": a, "b": b, "c": c}, "out_layers")
    assert set(out.columns) == {"layer", "x", "y", "s", "y__c"}
    assert layer_row_counts(store, "out_layers") == {"a": 7, "b": 3, "c": 2}
    back_a = out.filter(F.col("layer") == "a").select("x", "y")
    assert {(r.x, r.y) for r in back_a.collect()} == {
        (i, 2 * i) for i in range(7)
    }
    # null-fill outside the owning layer; qualified column only in c
    assert out.filter(F.col("layer") == "b").select("x").distinct().collect()[0].x is None
    assert {r.y__c for r in out.filter(F.col("layer") == "c").collect()} == {"0", "1"}
    # resume: a fresh handle sees the stage complete
    assert CheckpointStore(spark, store.root).is_complete("out_layers")


def test_manifest_invalidates_on_param_change(spark, tmp_path):
    """Resume is keyed by the run manifest: the same checkpoint root with a
    different params fingerprint must NOT serve the stale boundary."""
    root = str(tmp_path / "ckpt_fp")
    df = spark.range(5).withColumnRenamed("id", "v")
    fp1 = CheckpointStore.params_fingerprint(input="/a", languages="en,nl")
    s1 = CheckpointStore(spark, root, fingerprint=fp1)
    s1.materialize(df, "stage_x")
    assert s1.is_complete("stage_x")

    # same params -> fresh handle resumes
    s1b = CheckpointStore(spark, root, fingerprint=fp1)
    assert s1b.is_complete("stage_x")

    # changed params -> stale boundary is invalid, recompute happens
    fp2 = CheckpointStore.params_fingerprint(input="/a", languages="en")
    assert fp1 != fp2
    s2 = CheckpointStore(spark, root, fingerprint=fp2)
    assert not s2.is_complete("stage_x")
    out = s2.materialize(df.filter("v < 3"), "stage_x")
    assert out.count() == 3
    assert s2.is_complete("stage_x")

    # unfingerprinted legacy store still resumes on _SUCCESS alone
    s3 = CheckpointStore(spark, root)
    assert s3.is_complete("stage_x")


def test_stage_row_count_uses_latest_run(spark, tmp_path):
    """After invalidate()+recompute, stage_row_count reports the latest
    recording only — superseded lineage rows must not double the count."""
    root = str(tmp_path / "ckpt_rc")
    store = CheckpointStore(spark, root)
    store.materialize(spark.range(10).withColumnRenamed("id", "v"), "stage_y")
    assert store.stage_row_count("stage_y") == 10
    store.invalidate("stage_y")
    store.materialize(spark.range(4).withColumnRenamed("id", "v"), "stage_y")
    assert store.stage_row_count("stage_y") == 4


def test_iceberg_catalog_branch(spark, tmp_path):
    """CheckpointStore's Iceberg branch (writeTo/createOrReplace +
    tableExists resume + DROP TABLE invalidate). The sandbox ships no
    Iceberg runtime jar, so this skips unless a catalog is configured —
    the interface is exercised wherever one is (north-star production
    path; see sources/tables.py for the reader side)."""
    try:
        spark.conf.get("spark.sql.catalog.iceberg_cat")
    except Exception:
        pytest.skip("no Iceberg catalog configured in this session")
    store = CheckpointStore(
        spark, str(tmp_path / "ckpt_ice"), catalog="iceberg_cat.mwep_ckpt"
    )
    df = spark.range(5).withColumnRenamed("id", "v")
    out = store.materialize(df, "stage_ice")
    assert out.count() == 5
    assert store.is_complete("stage_ice")
    store.invalidate("stage_ice")
    assert not store.is_complete("stage_ice")


def test_salted_triple_sink(spark, corpus_dir, store_dir, tmp_path):
    """write_triples spreads hot subjects across salted buckets and rereads
    losslessly; the bucket count is the session's shuffle partitions and
    is recorded on ``subj`` in the store."""
    t = CorpusTables(spark, corpus_dir)
    o = pipeline.build(t, store=CheckpointStore(spark, store_dir))
    out = str(tmp_path / "triples_out")
    write_triples(o.full_triples, out)
    back = spark.read.parquet(out)
    assert _triples(back.drop("bucket")) == _triples(o.full_triples)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert back.schema["subj"].metadata == {SALT_KEY: n}
    # bucket dirs exist, at most n of them, and no single bucket holds
    # everything
    buckets = [d for d in os.listdir(out) if d.startswith("bucket=")]
    assert len(buckets) > 1
    assert {int(b.split("=")[1]) for b in buckets} <= set(range(n))
    per_bucket = back.groupBy("bucket").count().collect()
    total = sum(r["count"] for r in per_bucket)
    assert max(r["count"] for r in per_bucket) < total
    # the rebalance write puts each (small) bucket in one task: one file
    assert {b: _n_files(os.path.join(out, b)) for b in buckets} == {
        b: 1 for b in buckets}


def test_write_outputs_writes_the_shipped_sequence(spark, corpus_dir,
                                                  store_dir, tmp_path):
    """pipeline.write_outputs writes the six output layers into
    ``out_layers``, the full and pilot triples as bucketed stores, and one
    sink counter per output equal to what DuckDB counts in the written
    files; the triple counts are read from footers, with no Spark job."""
    store = CheckpointStore(spark, store_dir)
    o = pipeline.build(CorpusTables(spark, corpus_dir), store=store)
    out = str(tmp_path / "out")
    counts = pipeline.write_outputs(o, store, out)

    layers = {"mentions", "corefs", "srl_links", "gazetteer_links",
              "type_index", "incident_ancestors"}
    layer_dirs = {d.split("=", 1)[1]
                  for d in os.listdir(os.path.join(store_dir, "out_layers"))
                  if d.startswith("layer=")}
    assert layer_dirs == layers
    assert set(counts) == layers | {"full_triples", "pilot_triples"}

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for which in ("full", "pilot"):
        back = spark.read.parquet(os.path.join(out, which))
        assert back.schema["subj"].metadata == {SALT_KEY: n}
        assert any(d.startswith("bucket=")
                   for d in os.listdir(os.path.join(out, which)))

    con = duckdb.connect()
    want = dict(con.sql(
        "SELECT layer, count(*) FROM read_parquet("
        f"'{store_dir}/out_layers/*/*.parquet', hive_partitioning = true) "
        "GROUP BY layer").fetchall())
    for which in ("full", "pilot"):
        want[f"{which}_triples"] = con.sql(
            f"SELECT count(*) FROM '{out}/{which}/*/*.parquet'").fetchone()[0]
    assert counts == want
    recorded = store.counters().filter(
        (F.col("stage") == "sink") & (F.col("run_id") == store.run_id))
    assert {r.metric: int(r.value) for r in recorded.collect()} == want

    full = os.path.join(out, "full")
    assert construction_jobs(spark, lambda: stored_row_count(spark, full)) == (
        want["full_triples"], 0)
    # a location that is not a local directory is counted by Spark
    assert stored_row_count(spark, "file://" + full) == want["full_triples"]


def test_salted_sink_splits_hot_bucket_by_measured_size(spark, tmp_path):
    """One hot subject fills one bucket; once that bucket's shuffle
    partition exceeds AQE's advisory size it is written by several tasks
    (several files), and the rows read back losslessly."""
    df = spark.range(0, 4000, numPartitions=4).select(
        F.when(F.col("id") % 4 == 0,
               F.concat(F.lit("s"), F.col("id").cast("string")))
        .otherwise(F.lit("hot")).alias("subj"),
        F.lit("p").alias("pred"),
        F.concat(F.lit("o"), F.col("id").cast("string")).alias("obj"),
    )
    out = str(tmp_path / "hot")
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "8k")
    try:
        write_triples(df, out)
    finally:
        spark.conf.set(key, old)
    back = spark.read.parquet(out)
    hot = back.where(F.col("subj") == "hot").select("bucket").distinct()
    (hot_bucket,) = [r.bucket for r in hot.collect()]
    assert _n_files(os.path.join(out, f"bucket={hot_bucket}")) > 1
    cols = ["subj", "pred", "obj"]
    assert sorted(back.select(cols).collect()) == sorted(
        df.select(cols).collect())
