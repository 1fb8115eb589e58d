"""Cluster entry point for the KG-construction pipeline.

Launch (north-star contract — multi-executor cluster, code shipped via
--py-files):

    zip -r mwep_spark.zip multilingual_wiki_event_pipeline_spark
    spark-submit \
      --master <cluster-master> \
      --py-files mwep_spark.zip \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.adaptive.skewJoin.enabled=true \
      --conf spark.sql.shuffle.partitions=<2-3x total executor cores> \
      jobs/run_pipeline.py \
      --input /path/or/catalog.db.transcripts_root \
      --checkpoint /path/ckpt --output /path/triples \
      [--catalog iceberg_cat.mwep] [--languages en,nl,it]

Reads the corpus tables (Iceberg when --catalog is given, parquet-by-path
otherwise), runs the full pipeline with every stage boundary materialized
to the checkpoint store (resumable: a rerun after failure skips complete
stages), and writes the outputs with pipeline.write_outputs: full + pilot
triples salted-bucket-partitioned under --output, the six NAF-side and
analysis layers as one tagged checkpoint stage, and a sink counter per
output. The bucket count is the session's spark.sql.shuffle.partitions
(there is no flag for it); each store records it, and SPARQL over the
store (jobs/query.py) prunes constant-subject patterns to one bucket by
it.

Local smoke (this sandbox): spark-submit --master local[8] works the same.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="corpus tables root (dir of parquet, or Iceberg namespace root when --catalog is set)")
    ap.add_argument("--checkpoint", required=True, help="checkpoint-store root")
    ap.add_argument("--output", required=True, help="triples output root")
    ap.add_argument("--catalog", default=None, help="Iceberg catalog.namespace for the corpus tables")
    ap.add_argument("--languages", default="en,nl,it")
    ap.add_argument("--max-pilot-incidents", type=int, default=None)
    ap.add_argument("--seed-mode", default="by_incident",
                    choices=["by_incident", "by_participant"])
    ap.add_argument("--skew-report", action="store_true",
                    help="write the skew telemetry the partitioning "
                         "strategy depends on under <output>/skew: "
                         "turns-per-conversation quantiles (mega-"
                         "conversation detection) and Count-Min hot "
                         "incident types")
    args = ap.parse_args(argv)

    # imports AFTER spark-submit has the --py-files zip on sys.path
    from pyspark.sql import SparkSession

    from multilingual_wiki_event_pipeline_spark.plans import pipeline
    from multilingual_wiki_event_pipeline_spark.sinks import CheckpointStore
    from multilingual_wiki_event_pipeline_spark.sources.tables import CorpusTables

    spark = SparkSession.builder.appName("mwep-kg-pipeline").getOrCreate()
    t = CorpusTables(spark, args.input, catalog=args.catalog)
    # resume is keyed by the run manifest: same --checkpoint with different
    # --input/--languages/--max-pilot-incidents invalidates stale boundaries
    # instead of silently serving them. The package version is part of the
    # fingerprint so a code upgrade also invalidates (bump __version__ when
    # operator semantics change).
    import multilingual_wiki_event_pipeline_spark as pkg

    store = CheckpointStore(
        spark,
        args.checkpoint,
        fingerprint=CheckpointStore.params_fingerprint(
            code_version=pkg.__version__,
            input=args.input,
            catalog=args.catalog,
            languages=args.languages,
            max_pilot_incidents=args.max_pilot_incidents,
            seed_mode=args.seed_mode,
        ),
    )

    o = pipeline.build(
        t,
        target_languages=args.languages.split(","),
        max_pilot_incidents=args.max_pilot_incidents,
        store=store,
        seed_mode=args.seed_mode,
    )
    pipeline.write_outputs(o, store, args.output)

    # optional: the skew report the north-rule partitioning strategy is
    # tuned against — mega-conversations (turns-per-conv p50/p90/p99, a
    # bounded histogram exchange, sketch-only so no in-group rank) and hot
    # incident types (Count-Min, a <= d*w-cell exchange); deterministic,
    # O(sketch) not O(data) beyond the one conv_id count aggregation
    if args.skew_report:
        from pyspark.sql import functions as F

        from multilingual_wiki_event_pipeline_spark.operators import (
            text_analysis,
        )

        conv_sizes = (
            t.transcripts.groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("n_turns"))
            .select(F.lit("all").alias("corpus"), "n_turns")
        )
        text_analysis.log2_histogram_quantiles(
            conv_sizes, "corpus", "n_turns", with_exact=False
        ).write.mode("overwrite").parquet(
            f"{args.output}/skew/conv_size_quantiles")
        text_analysis.cms_heavy_hitters(
            t.incidents.select("incident_id", "incident_type"),
            "incident_type", sample_key_cols=("incident_id",),
        ).write.mode("overwrite").parquet(
            f"{args.output}/skew/hot_incident_types")


if __name__ == "__main__":
    main(sys.argv[1:])
