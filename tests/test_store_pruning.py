"""Triple stores that readers use: a store written by ``sinks.write_triples``
/ ``write_quads`` records its salt-bucket count on ``subj``, and BGP
matching prunes a constant-subject pattern to that subject's bucket — but
only over a plain scan of the store. Also: BGP joins add no re-cluster
exchange over a low-parallelism input."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from multilingual_wiki_event_pipeline_spark.operators.bgp import bgp_match
from multilingual_wiki_event_pipeline_spark.operators.sparql import (
    sparql_query,
)
from multilingual_wiki_event_pipeline_spark.sinks import (
    SALT_KEY,
    write_quads,
    write_triples,
)

SUBJ = "s7"
BUCKET_FILTER = re.compile(r"PartitionFilters: \[[^\]]*\(bucket#\d+ = (\d+)\)")


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _frame(spark, n=2000):
    """``n`` triples over 50 subjects and 3 predicates."""
    return spark.range(n).select(
        F.concat(F.lit("s"), (F.col("id") % 50).cast("string")).alias("subj"),
        F.concat(F.lit("p"), (F.col("id") % 3).cast("string")).alias("pred"),
        F.col("id").cast("string").alias("obj"),
    )


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pruning") / "store")
    write_triples(_frame(spark), path)
    return path


def _bucket_of(spark, path, subj):
    (b,) = {r.bucket for r in spark.read.parquet(path)
            .where(F.col("subj") == subj).select("bucket").collect()}
    return b


def test_constant_subject_scans_one_bucket(spark, store):
    """Same rows as over the same store with the metadata stripped, and
    the scan's PartitionFilters pin the subject's bucket."""
    text = f"SELECT ?p ?o WHERE {{ <{SUBJ}> ?p ?o }}"
    pruned = sparql_query(spark.read.parquet(store), text)
    plain = sparql_query(
        spark.read.schema("subj string, pred string, obj string, bucket int")
        .parquet(store), text)
    assert _rows(pruned) == _rows(plain)
    assert len(_rows(pruned)) == 40
    assert BUCKET_FILTER.findall(_plan(pruned)) == [
        str(_bucket_of(spark, store, SUBJ))]
    assert not BUCKET_FILTER.search(_plan(plain))


def test_union_onto_store_is_not_pruned(spark, store):
    """A unionByName onto a store keeps the ``subj`` metadata, but the
    added rows carry ``bucket = NULL``: the subject's added row must come
    back, so no bucket filter may be applied."""
    st = spark.read.parquet(store)
    extra = spark.createDataFrame([(SUBJ, "p9", "added")],
                                  "subj string, pred string, obj string")
    merged = st.unionByName(extra, allowMissingColumns=True)
    assert merged.schema["subj"].metadata.get(SALT_KEY)
    got = _rows(sparql_query(merged, f"SELECT ?o WHERE {{ <{SUBJ}> <p9> ?o }}"))
    assert got == [("added",)]
    assert not BUCKET_FILTER.search(_plan(
        sparql_query(merged, f"SELECT ?p ?o WHERE {{ <{SUBJ}> ?p ?o }}")))


def test_quad_store_prunes_within_graph(spark, tmp_path):
    quads = _frame(spark, 1000).withColumn(
        "g", F.when(F.col("obj").cast("int") % 4 < 2, F.lit("http://g/a"))
        .otherwise(F.lit("http://g/b")))
    path = str(tmp_path / "quads")
    write_quads(quads, path)
    text = f"SELECT ?p ?o WHERE {{ GRAPH <http://g/a> {{ <{SUBJ}> ?p ?o }} }}"
    got = sparql_query(spark.read.parquet(path), text)
    want = quads.where((F.col("g") == "http://g/a")
                       & (F.col("subj") == SUBJ)).select("pred", "obj")
    assert _rows(got) == _rows(want) and _rows(want)
    plan = _plan(got)
    assert BUCKET_FILTER.findall(plan) == [str(_bucket_of(spark, path, SUBJ))]
    assert re.search(r"PartitionFilters: \[[^\]]*\(g#\d+ = http://g/a\)", plan)


def test_bgp_over_one_partition_input_adds_no_repartition(spark):
    triples = _frame(spark, 300).coalesce(1)
    got = bgp_match(triples, "?s p0 ?o . ?s p1 ?o2")
    assert "REPARTITION_BY_NUM" not in _plan(got)
    assert got.count() == 50 * 2 * 2

