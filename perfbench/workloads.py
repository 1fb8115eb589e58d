"""The workloads.

Each workload is closed-loop with one client: one process, one
``local[<cpus>]`` session, operations back to back.  A workload has

* ``make_inputs`` -- seeded inputs, written before the session starts
  (generator time, not part of ``setup_s``);
* ``checked_pass`` -- one untimed pass whose results are compared with a
  DuckDB oracle; it is also the cold warm-up pass.  It records the
  in-Spark hash of every result;
* ``timed_pass`` -- one timed pass; ``verify_pass`` then checks, untimed,
  that every result's in-Spark hash equals the checked pass's.

Operations run inside recorder spans; with tracing off the spans cost a
branch each.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import contextmanager

import duckdb

from checks import compare, spark_hash

import inputs

KG_INCIDENTS = 300
CATALOG_SCALE = 0.1

# bench.py's HEADLINE entries plus the four graph loops.  quality_score is
# left out: on generated documents it disagrees with its DuckDB twin at
# exact half-way rounding points (Spark rounds the decimal form half-up,
# DuckDB the binary double), so it would fail the output check.
CATALOG_OPS = [
    "a1_incident_grouping", "a2_dedup_window", "a3_collection_stats",
    "j2_dimension_join", "j7_interval_containment", "j10_transitive_closure",
    "w5_sessionize", "triples_events", "dedup_minhash_pairs",
    "dedup_simhash_pairs", "knn_cosine", "lang_id_profile", "fingerprint",
    "mention_link_rank", "canonicalize_components", "j10_incident_ancestors",
    "sparql_bgp", "graph_pagerank", "graph_ppr", "graph_lpa", "graph_bfs",
    "graph_sssp",
]


def collect_hashed(df):
    """Collect ``df`` once; return its rows, columns and the value
    ``spark_hash(df)`` would give, from per-row hashes computed in Spark."""
    from pyspark.sql import functions as F

    cols = df.columns
    h = F.xxhash64(*[F.col(f"`{c}`") for c in sorted(cols)])
    got = df.select(*[F.col(f"`{c}`") for c in cols], h.alias("__h")).collect()
    rows = [tuple(r)[:-1] for r in got]
    hs = [r["__h"] & 0xFFFFFFFFFFFFFFFF for r in got]
    value = (len(hs), sum(x & 0xFFFFFFFF for x in hs), sum(x >> 32 for x in hs))
    return rows, cols, value


class Context:
    """What a workload shares with the runner: session, recorder, work
    dir, seed, failure list, and the time spent in generators and oracles
    (excluded from ``setup_s``)."""

    def __init__(self, work: str, seed: int):
        from spans import Recorder

        self.spark = None  # set once the session is up
        self.rec = Recorder()
        self.work = work
        self.seed = seed
        self.attempted = 0
        self.failures: list[str] = []
        self.oracle_s = 0.0

    @contextmanager
    def oracle(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.oracle_s += time.perf_counter() - t0

    def check(self, what: str, problem: str | None) -> None:
        if problem:
            self.failures.append(f"{what}: {problem}")

    @contextmanager
    def op(self, name: str, walls: list | None):
        """One operation: counted as attempted, timed into ``walls`` when
        given, and counted as failed if it raises."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.rec.span(name):
                yield
        except Exception as exc:  # a failed operation is a result, not a crash
            self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
        finally:
            if walls is not None:
                walls.append((name, time.perf_counter() - t0))


def dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


class Workload:
    name = ""
    min_passes = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.written: list[tuple[int, int]] = []  # (files, bytes) per timed pass
        self.rows_returned = 0  # result rows hashed in timed passes

    @property
    def spark(self):
        return self.ctx.spark

    @property
    def rec(self):
        return self.ctx.rec

    def make_inputs(self) -> None:
        raise NotImplementedError

    def checked_pass(self) -> None:
        raise NotImplementedError

    def timed_pass(self, p: int) -> list[tuple[str, float]]:
        """Run the pass's operations; return (operation, wall seconds)."""
        raise NotImplementedError

    def verify_pass(self, p: int) -> None:
        """Untimed: check pass ``p``'s results and clean up after it."""

    def units_per_pass(self) -> int:
        raise NotImplementedError


# -- kg_build_query -----------------------------------------------------------

SEM = "http://semanticweb.cs.vu.nl/2009/11/sem/"
GRASP = "http://groundedannotationframework.org/grasp#"
DCT = "http://purl.org/dc/elements/1.1/"
PREFIXES = (f"PREFIX sem: <{SEM}>\nPREFIX grasp: <{GRASP}>\n"
            f"PREFIX dct: <{DCT}>\n")


def kg_queries(subject: str) -> list[tuple[str, str, str]]:
    """(name, SPARQL text, equivalent DuckDB SQL over view ``kg``)."""
    return [
        ("point",
         f"SELECT ?p ?o WHERE {{ <{subject}> ?p ?o }}",
         f"SELECT pred AS p, obj AS o FROM kg WHERE subj = '{subject}'"),
        ("filter",
         'SELECT ?doc ?title WHERE { ?doc dct:title ?title . '
         'FILTER(CONTAINS(?title, "incident 1")) }',
         f"SELECT subj AS doc, obj AS title FROM kg WHERE pred = '{DCT}title'"
         " AND contains(obj, 'incident 1')"),
        ("star",
         "SELECT ?e ?type ?actor ?ts WHERE { ?e sem:eventType ?type ; "
         "sem:hasActor ?actor ; sem:hasTimeStamp ?ts }",
         f"SELECT a.subj AS e, a.obj AS type, b.obj AS actor, c.obj AS ts "
         f"FROM kg a JOIN kg b ON a.subj = b.subj JOIN kg c ON a.subj = c.subj"
         f" WHERE a.pred = '{SEM}eventType' AND b.pred = '{SEM}hasActor'"
         f" AND c.pred = '{SEM}hasTimeStamp'"),
        ("two_hop",
         "SELECT ?e ?doc ?lang WHERE { ?e grasp:denotedIn ?doc . "
         "?doc dct:language ?lang }",
         f"SELECT a.subj AS e, a.obj AS doc, b.obj AS lang FROM kg a "
         f"JOIN kg b ON a.obj = b.subj WHERE a.pred = '{GRASP}denotedIn'"
         f" AND b.pred = '{DCT}language'"),
        ("group_count",
         "SELECT ?type (COUNT(?e) AS ?n) WHERE { ?e sem:eventType ?type } "
         "GROUP BY ?type",
         f"SELECT obj AS type, count(*) AS n FROM kg "
         f"WHERE pred = '{SEM}eventType' GROUP BY obj"),
        ("optional",
         "SELECT ?e ?actor ?place WHERE { ?e sem:hasActor ?actor "
         "OPTIONAL { ?e sem:hasPlace ?place } }",
         f"SELECT a.subj AS e, a.obj AS actor, b.obj AS place FROM kg a "
         f"LEFT JOIN kg b ON a.subj = b.subj AND b.pred = '{SEM}hasPlace'"
         f" WHERE a.pred = '{SEM}hasActor'"),
        ("ask",
         f"ASK {{ <{subject}> sem:hasPlace ?p }}",
         f"SELECT count(*) > 0 FROM kg WHERE subj = '{subject}'"
         f" AND pred = '{SEM}hasPlace'"),
    ]


UPDATE = ("DELETE WHERE { ?e sem:hasPlace ?p }",
          f"SELECT DISTINCT subj, pred, obj FROM kg "
          f"WHERE pred <> '{SEM}hasPlace'")


class KgBuildQuery(Workload):
    """The product path.  Write: the body of jobs/run_pipeline.py --
    pipeline.build with a checkpoint store, write_triples for full and
    pilot, write_layer_union.  Read: the SPARQL shapes of ``kg_queries``
    through sparql_query over the full-triples store just written (the
    path of jobs/query.py), and one sparql_update written as a new store
    generation."""

    name = "kg_build_query"
    min_passes = 2

    def make_inputs(self) -> None:
        self.corpus = os.path.join(self.ctx.work, "inputs", "corpus")
        self.turns = inputs.kg_corpus(self.corpus, KG_INCIDENTS, self.ctx.seed)

    def units_per_pass(self) -> int:
        return self.turns

    def _build(self, out: str, walls) -> None:
        from multilingual_wiki_event_pipeline_spark.plans import pipeline
        from multilingual_wiki_event_pipeline_spark.sinks import (
            CheckpointStore, write_layer_union, write_triples,
        )
        from multilingual_wiki_event_pipeline_spark.sources.tables import (
            CorpusTables,
        )

        ctx, rec = self.ctx, self.rec
        store = CheckpointStore(self.spark, os.path.join(out, "ckpt"))
        with ctx.op("pipeline.build", walls):
            with rec.span("sources"):
                tables = CorpusTables(self.spark, self.corpus)
            with rec.span("plans.pipeline"):
                o = pipeline.build(tables, store=store)
        for which, triples in (("full", o.full_triples),
                               ("pilot", o.pilot_triples)):
            with ctx.op(f"write_triples.{which}", walls):
                with rec.span("sinks.write_triples"):
                    write_triples(triples, os.path.join(out, which))
        layers = {
            "mentions": o.mentions,
            "corefs": o.corefs,
            "srl_links": o.srl_links,
            "gazetteer_links": o.gazetteer_links,
            "type_index": o.type_index,
            "incident_ancestors": o.incident_ancestors,
        }
        with ctx.op("write_layer_union", walls):
            with rec.span("sinks.out_layers"):
                write_layer_union(store, layers, "out_layers")

    def _query(self, triples, name: str, text: str, walls, hashed: bool):
        from multilingual_wiki_event_pipeline_spark.operators.sparql import (
            sparql_query,
        )

        result = None
        with self.ctx.op(f"sparql.{name}", walls):
            with self.rec.span("sparql.compile"):
                res = sparql_query(triples, PREFIXES + text)
            if isinstance(res, bool):  # ASK: the probe ran while compiling
                result = res
            else:
                with self.rec.span("sparql.exec"):
                    result = (collect_hashed(res) if hashed
                              else spark_hash(res))
        return result

    def _update(self, triples, gen: str, walls) -> None:
        from multilingual_wiki_event_pipeline_spark.operators.sparql import (
            sparql_update,
        )
        from multilingual_wiki_event_pipeline_spark.sinks import write_triples

        with self.ctx.op("sparql.update", walls):
            with self.rec.span("sparql.compile"):
                df = sparql_update(triples, PREFIXES + UPDATE[0])
            with self.rec.span("sinks.write_triples"):
                write_triples(df, gen)

    def _run(self, out: str, walls, hashed: bool) -> dict:
        self._build(out, walls)
        triples = self.spark.read.parquet(os.path.join(out, "full"))
        got = {name: self._query(triples, name, text, walls, hashed)
               for name, text, _ in self.queries}
        self._update(triples, os.path.join(out, "gen1"), walls)
        return got

    def _read(self, out: str, which: str):
        return self.spark.read.parquet(os.path.join(out, which)).select(
            *self.cols)

    def checked_pass(self) -> None:
        from multilingual_wiki_event_pipeline_spark.oracles import (
            _kg_pipeline_sql,
        )

        with self.ctx.oracle():
            rel = duckdb.sql(_kg_pipeline_sql(self.corpus))
            self.cols, drows = rel.columns, rel.fetchall()
            subjects = sorted({r[self.cols.index("subj")] for r in drows
                               if r[self.cols.index("pred")]
                               == f"{SEM}eventType"})
        self.queries = kg_queries(random.Random(self.ctx.seed).choice(subjects))
        out = os.path.join(self.ctx.work, "kg_checked")
        got = self._run(out, None, hashed=True)
        ref = {}
        rows, cols, ref["full"] = collect_hashed(self._read(out, "full"))
        ref["pilot"] = spark_hash(self._read(out, "pilot"))
        gen_rows, gen_cols, ref["update"] = collect_hashed(
            self.spark.read.parquet(os.path.join(out, "gen1")).select(
                "subj", "pred", "obj"))
        with self.ctx.oracle():
            self.ctx.check("full triples", compare(rows, cols, drows,
                                                   self.cols))
            con = duckdb.connect()
            con.sql("CREATE VIEW kg AS SELECT * FROM read_parquet("
                    f"'{out}/full/*/*.parquet', hive_partitioning = true)")
            for name, _, sql in self.queries:
                res = con.sql(sql)
                drows_q = res.fetchall()
                if isinstance(got[name], bool):
                    ok = got[name] == drows_q[0][0]
                    self.ctx.check(f"sparql.{name}",
                                   None if ok else f"{got[name]}")
                    ref[name] = got[name]
                elif got[name] is not None:  # None: raised, already failed
                    g_rows, g_cols, ref[name] = got[name]
                    self.ctx.check(f"sparql.{name}", compare(
                        g_rows, g_cols, drows_q, res.columns))
            res = con.sql(UPDATE[1])
            self.ctx.check("sparql.update", compare(
                gen_rows, gen_cols, res.fetchall(), res.columns))
            con.close()
        self.ref = ref
        self._clean(out)

    def timed_pass(self, p: int) -> list[tuple[str, float]]:
        walls: list[tuple[str, float]] = []
        self.got = self._run(os.path.join(self.ctx.work, f"kg_pass{p}"),
                             walls, hashed=False)
        return walls

    def verify_pass(self, p: int) -> None:
        out = os.path.join(self.ctx.work, f"kg_pass{p}")
        got = self.got
        got["full"] = spark_hash(self._read(out, "full"))
        got["pilot"] = spark_hash(self._read(out, "pilot"))
        got["update"] = spark_hash(self.spark.read.parquet(
            os.path.join(out, "gen1")).select("subj", "pred", "obj"))
        self.written.append(dir_usage(out))
        self.rows_returned += sum(
            v[0] for k, v in got.items()
            if isinstance(v, tuple) and k not in ("full", "pilot", "update"))
        for name, ref in self.ref.items():
            self.ctx.check(f"pass {p} {name}",
                           None if got.get(name) == ref
                           else f"{got.get(name)} vs {ref}")
        self._clean(out)

    def _clean(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)
        # a pass's cached frames embed its checkpoint paths; drop them
        self.spark.catalog.clearCache()


# -- catalog_mix --------------------------------------------------------------

class CatalogMix(Workload):
    """Catalog operators outside the KG path, in a seeded order per pass."""

    name = "catalog_mix"

    def make_inputs(self) -> None:
        self.sf = os.path.join(self.ctx.work, "inputs", "sf")
        inputs.sf_tables(self.sf, CATALOG_SCALE, self.ctx.seed)
        self.rng = random.Random(self.ctx.seed)

    def units_per_pass(self) -> int:
        return len(CATALOG_OPS)

    def _op(self, name: str, walls, hashed: bool):
        from multilingual_wiki_event_pipeline_spark.catalog import (
            EXTRA_QUERIES, QUERIES,
        )

        build = QUERIES.get(name) or EXTRA_QUERIES[name]
        result = None
        with self.ctx.op(name, walls):
            with self.rec.span("catalog.construct"):
                df = build(self.spark, self.sf)
            with self.rec.span("catalog.action"):
                result = collect_hashed(df) if hashed else spark_hash(df)
        return result

    def checked_pass(self) -> None:
        from multilingual_wiki_event_pipeline_spark.oracles import (
            EXTRA_ORACLES, ORACLES,
        )

        with self.ctx.oracle():
            con = duckdb.connect()
            for t in inputs.SF_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf}/{t}.parquet'")
        self.ref = {}
        for name in CATALOG_OPS:
            got = self._op(name, None, hashed=True)
            if got is None:
                continue
            with self.ctx.oracle():
                rel = con.sql(ORACLES.get(name) or EXTRA_ORACLES[name])
                self.ctx.check(name, compare(
                    got[0], got[1], rel.fetchall(), rel.columns))
            self.ref[name] = got[2]

    def timed_pass(self, p: int) -> list[tuple[str, float]]:
        order = list(CATALOG_OPS)
        self.rng.shuffle(order)
        walls: list[tuple[str, float]] = []
        self.got = {name: self._op(name, walls, hashed=False)
                    for name in order}
        return walls

    def verify_pass(self, p: int) -> None:
        self.rows_returned += sum(v[0] for v in self.got.values() if v)
        for name, got in self.got.items():
            ref = self.ref.get(name)
            self.ctx.check(f"pass {p} {name}",
                           None if got == ref else f"{got} vs {ref}")


WORKLOADS = {w.name: w for w in (KgBuildQuery, CatalogMix)}
