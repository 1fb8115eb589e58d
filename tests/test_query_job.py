"""jobs/query.py — the SPARQL-over-the-produced-store entry point: write
a small store with the real triple sink, then drive the job's main() in
process (SparkSession.getOrCreate reuses the test session; the
spark-submit launch contract itself is covered by test_spark_submit_e2e
for the pipeline job, which shares the import/arg conventions)."""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest

from multilingual_wiki_event_pipeline_spark.sinks import SALT_KEY, write_triples

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def query_main():
    spec = importlib.util.spec_from_file_location(
        "mwep_query_job", os.path.join(REPO, "jobs", "query.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


@pytest.fixture(scope="module")
def store_dir(spark, tmp_path_factory):
    rows = [
        ("e1", "rdfs:label", "error"),
        ("e1", "sem:hasActor", "alice"),
        ("e2", "rdfs:label", "signup"),
        ("e2", "sem:hasActor", "bob"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string"
    )
    path = str(tmp_path_factory.mktemp("triples") / "store")
    write_triples(df, path)
    return path


def test_select_to_parquet_output(query_main, store_dir, tmp_path):
    out = str(tmp_path / "result")
    rc = query_main([
        "--store", store_dir,
        "--query",
        'SELECT ?e ?who WHERE { ?e rdfs:label "error" ; '
        'sem:hasActor ?who }',
        "--output", out,
    ])
    assert rc == 0
    got = duckdb.sql(f"SELECT e, who FROM '{out}/*.parquet'").fetchall()
    assert got == [("e1", "alice")]


def test_select_show_path(query_main, store_dir, capsys):
    rc = query_main([
        "--store", store_dir,
        "--query", "SELECT ?who WHERE { ?e sem:hasActor ?who } "
                   "ORDER BY ?who",
    ])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "alice" in printed and "bob" in printed


def test_ask_exit_codes(query_main, store_dir):
    assert query_main([
        "--store", store_dir,
        "--query", 'ASK { ?e sem:hasActor "alice" }',
    ]) == 0
    assert query_main([
        "--store", store_dir,
        "--query", 'ASK { ?e sem:hasActor "nobody" }',
    ]) == 1


def test_update_writes_new_store_never_in_place(
        query_main, spark, store_dir, tmp_path):
    out = str(tmp_path / "store_v2")
    rc = query_main([
        "--store", store_dir,
        "--update",
        'DELETE { ?e sem:hasActor ?w } INSERT { ?e sem:agent ?w } '
        'WHERE { ?e sem:hasActor ?w } ;\n'
        'INSERT DATA { e3 rdfs:label "added" }',
        "--output", out,
    ])
    assert rc == 0
    got = sorted(duckdb.sql(
        f"SELECT subj, pred, obj FROM read_parquet('{out}/*/*.parquet', "
        "hive_partitioning = true)"
    ).fetchall())
    assert got == [
        ("e1", "rdfs:label", "error"),
        ("e1", "sem:agent", "alice"),
        ("e2", "rdfs:label", "signup"),
        ("e2", "sem:agent", "bob"),
        ("e3", "rdfs:label", "added"),
    ]
    # the new generation records its salt-bucket count like any store
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert spark.read.parquet(out).schema["subj"].metadata == {
        SALT_KEY: n}
    # original store untouched (immutability contract)
    orig = duckdb.sql(
        f"SELECT COUNT(*) FROM '{store_dir}/**/*.parquet'"
    ).fetchone()[0]
    assert orig == 4
    # a second generation into the same --output is refused
    with pytest.raises(SystemExit):
        query_main([
            "--store", store_dir,
            "--update", 'INSERT DATA { e4 rdfs:label "again" }',
            "--output", out,
        ])


def test_update_without_output_errors(query_main, store_dir):
    with pytest.raises(SystemExit):
        query_main([
            "--store", store_dir,
            "--update", 'INSERT DATA { x <p> "v" }',
        ])


def test_query_file(query_main, store_dir, tmp_path, capsys):
    qf = tmp_path / "q.rq"
    qf.write_text(
        "# which events have actors?\n"
        "SELECT DISTINCT ?e WHERE { ?e sem:hasActor ?who }\n"
    )
    assert query_main(["--store", store_dir, "--query-file", str(qf)]) == 0
    printed = capsys.readouterr().out
    assert "e1" in printed and "e2" in printed


def test_quad_store_graph_query_end_to_end(query_main, spark, tmp_path,
                                           capsys):
    """write_quads -> spark.read.parquet -> GRAPH text query through the
    CLI: the quad layout (g as leading partition dir) is schema-detected
    by sparql_query, no flag needed."""
    from multilingual_wiki_event_pipeline_spark.operators.bgp import (
        DEFAULT_GRAPH,
    )
    from multilingual_wiki_event_pipeline_spark.sinks import write_quads

    rows = [
        ("http://g/a", "e1", "sem:hasActor", "alice"),
        ("http://g/b", "e1", "sem:hasActor", "anna"),
        (DEFAULT_GRAPH, "e1", "rdfs:label", "boom"),
    ]
    q = spark.createDataFrame(
        rows, "g string, subj string, pred string, obj string"
    )
    store = str(tmp_path / "quads")
    write_quads(q, store)
    # partition layout: graph dirs first, bucket dirs inside
    gdirs = sorted(
        d for d in os.listdir(store) if d.startswith("g=")
    )
    assert len(gdirs) == 3
    assert any(os.listdir(os.path.join(store, gdirs[0])))
    # the rebalance write gives each (g, bucket) dir exactly one file
    bdirs = [os.path.join(store, g, b) for g in gdirs
             for b in os.listdir(os.path.join(store, g))]
    assert bdirs and all(
        sum(f.endswith(".parquet") for f in os.listdir(d)) == 1
        for d in bdirs)
    rc = query_main([
        "--store", store,
        "--query",
        "SELECT ?g ?who WHERE { GRAPH ?g { ?e <sem:hasActor> ?who } "
        "?e <rdfs:label> \"boom\" . }",
        "--show", "10",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "http://g/a" in out and "alice" in out
    assert "http://g/b" in out and "anna" in out
    assert DEFAULT_GRAPH not in out


def test_explain_prints_plan_without_executing(query_main, store_dir, capsys):
    rc = query_main([
        "--store", store_dir, "--explain",
        "--query", "SELECT ?s WHERE { ?s <rdfs:label> \"error\" }",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Physical Plan" in out
    # the constant pattern must reach the reader as a pushed filter —
    # assert on the filter CONTENT ('PushedFilters:' alone prints as an
    # empty list even when nothing is pushed)
    assert "EqualTo(obj,error)" in out or "EqualTo(obj, error)" in out
    # no result rows were printed
    assert "e1" not in out


def test_explain_rejects_ask(query_main, store_dir):
    with pytest.raises(SystemExit):
        query_main([
            "--store", store_dir, "--explain",
            "--query", "ASK { ?s <rdfs:label> \"error\" }",
        ])


def test_explain_rejects_update_and_output(query_main, store_dir, tmp_path):
    with pytest.raises(SystemExit):
        query_main([
            "--store", store_dir, "--explain",
            "--output", str(tmp_path / "never"),
            "--update", 'DELETE WHERE { ?s <rdfs:label> "error" }',
        ])
    # nothing was written: the dry-run flag must not execute the update
    assert not os.path.exists(str(tmp_path / "never"))
    with pytest.raises(SystemExit):
        query_main([
            "--store", store_dir, "--explain",
            "--output", str(tmp_path / "never2"),
            "--query", "SELECT ?s WHERE { ?s ?p ?o }",
        ])


def test_explain_form_detection_ignores_prefix_names(query_main, store_dir,
                                                     capsys):
    # 'ask' as a PREFIX name must not trip the ASK guard
    rc = query_main([
        "--store", store_dir, "--explain",
        "--query", "PREFIX ask: <http://x#>\n"
                   'SELECT ?s WHERE { ?s <rdfs:label> "error" }',
    ])
    assert rc == 0
    assert "Physical Plan" in capsys.readouterr().out
