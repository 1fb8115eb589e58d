"""Query a produced triple store with a SPARQL query string.

The pipeline's complement: `jobs/run_pipeline.py` constructs the KG and
writes it bucket-partitioned (`sinks.write_triples`); this job reads that
store and runs the textual SPARQL the reference's users already write
(reference `utils.py:33-83` authors this exact form against Wikidata —
here it runs against the KG the pipeline itself produced).

Launch:

    spark-submit --master <master> --py-files mwep_spark.zip \
      jobs/query.py --store /path/triples \
      --query 'PREFIX sem: <...> SELECT ?e WHERE { ... } LIMIT 100' \
      [--query-file q.rq] [--output /path/result] [--show 20]

SELECT/CONSTRUCT/DESCRIBE results are written as parquet when --output
is given, otherwise printed (first --show rows). ASK prints true/false
and exits 0/1 — shell-scriptable.

--update runs a SPARQL 1.1 Update request instead (INSERT/DELETE DATA,
DELETE WHERE, DELETE/INSERT ... WHERE; ';'-sequences) and REQUIRES
--output: the store is immutable — the updated graph is written as a
NEW store, never in place (the same new-generation discipline as the
streaming compactor's manifest pointer). An --output that already
exists is refused.

Scale notes: the query compiles to per-pattern filtered scans over the
partitioned store + equi-joins (operators/bgp.py); constant predicates
and subjects reach the parquet reader as pushed filters. A constant
subject also prunes to one `bucket=` directory: the store records its
bucket count on `subj` (parquet footer metadata), and a pattern over a
plain scan of the store adds `bucket = pmod(hash(<subject>), n)`, which
Spark applies as a PartitionFilter (visible with --explain). --store is
read as such a plain scan, so its constant-subject patterns are pruned;
a frame built by union onto a store is not. --update writes its
generation with `sinks.write_triples`, so an updated store keeps the `bucket=` layout,
records its own bucket count, and prunes the same way.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--store", required=True,
                    help="triple-store root (parquet, write_triples layout)")
    q = ap.add_mutually_exclusive_group(required=True)
    q.add_argument("--query", help="SPARQL query text")
    q.add_argument("--query-file", help="file containing the query")
    q.add_argument("--update",
                   help="SPARQL Update text — writes the updated graph "
                        "to --output as a new store (never in place)")
    ap.add_argument("--output", default=None,
                    help="write the result as parquet here (default: print)")
    ap.add_argument("--show", type=int, default=20,
                    help="rows to print when no --output is given")
    ap.add_argument("--explain", action="store_true",
                    help="print the compiled Spark physical plan instead "
                         "of executing (SELECT/CONSTRUCT/DESCRIBE only — "
                         "the place to check that constant patterns reach "
                         "the scan as pushed filters)")
    args = ap.parse_args(argv)

    # imports AFTER spark-submit has the --py-files zip on sys.path
    from pyspark.sql import SparkSession

    from multilingual_wiki_event_pipeline_spark.operators.sparql import (
        SparqlSyntaxError,
        sparql_query,
        sparql_query_form,
        sparql_update,
    )
    from multilingual_wiki_event_pipeline_spark.sinks import write_triples

    text = args.query or args.update
    if text is None:
        with open(args.query_file, encoding="utf-8") as fh:
            text = fh.read()

    # --explain validation BEFORE the session spins up, via the real
    # prologue-aware scanner (a regex would match form keywords inside
    # PREFIX names or IRIs)
    if args.explain:
        if args.update:
            ap.error("--explain is not supported with --update (a dry "
                     "run must not write a store)")
        if args.output:
            ap.error("--explain prints a plan and writes nothing; drop "
                     "--output")
        try:
            form = sparql_query_form(text)
        except SparqlSyntaxError as exc:
            # malformed query surfaces as the clean argparse error path,
            # not a raw traceback (ADVICE r5)
            ap.error(f"--explain: {exc}")
        if form == "ASK":
            ap.error("--explain is not supported with ASK (the probe "
                     "executes during compilation)")

    spark = SparkSession.builder.appName("mwep-sparql-query").getOrCreate()
    triples = spark.read.parquet(args.store)

    if args.update:
        if not args.output:
            ap.error("--update requires --output (stores are immutable; "
                     "the updated graph is written as a new store)")
        # refuse to clobber — a new store dir per generation. Checked on
        # the output's own Hadoop filesystem (HDFS/S3 paths included),
        # because write_triples itself overwrites.
        out = spark._jvm.org.apache.hadoop.fs.Path(args.output)
        if out.getFileSystem(spark._jsc.hadoopConfiguration()).exists(out):
            ap.error(f"--output {args.output} already exists (stores are "
                     "immutable; write each generation to a new path)")
        write_triples(sparql_update(triples, text), args.output)
        print(f"wrote {args.output}")
        return 0

    result = sparql_query(triples, text)
    if args.explain and not isinstance(result, bool):
        result.explain(mode="formatted")
        return 0
    if isinstance(result, bool):  # ASK
        if args.output:
            ap.error("--output is not supported with ASK — the answer "
                     "is printed and returned as the exit code (0/1)")
        print("true" if result else "false")
        return 0 if result else 1
    if args.output:
        result.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
    else:
        result.show(args.show, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
