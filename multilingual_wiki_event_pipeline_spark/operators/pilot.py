"""Pilot-selection stage: F4 -> A2 -> F1 -> F2 -> F3 -> label backfill ->
deterministic limit (reference create_pilot_data, pilot_utils.py:127-178,
plus the main.py:377-379 truncation made deterministic).

All relational: the role-set equality check is a broadcast join against the
role-mapping dimension, the language-completeness check one aggregation per
incident, the label backfill a broadcast join against entity_labels. No
UDFs, so every predicate stays visible to Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import deduplicate_ref_texts
from .filters import first_section_col, qid_from_uri, ref_text_ok, skip_incident_expr


def full_texts(conv_meta: DataFrame, docs: DataFrame,
               annotations_present: bool = True,
               dedup: bool = True) -> DataFrame:
    """F8 (main.py:218-227) + A2: join page metadata to assembled content,
    drop failed/empty fetches, dedup identical content per (incident, lang).

    ``dedup=False`` skips the A2 content-dedup — the streaming ingest path
    uses it because a micro-batch sees only a slice of the corpus, so dedup
    must run globally at read time (streaming/ingest.read_streamed_triples)
    rather than batch-locally, where it could drop a unit that global
    context would keep."""
    texts = (
        conv_meta.join(docs, "conv_id", "inner")  # missing page -> dropped
        .filter(F.length("content") > 0)
    )
    return deduplicate_ref_texts(texts) if dedup else texts


def incidents_with_texts(incidents: DataFrame, texts: DataFrame) -> DataFrame:
    """Keep incidents with >= 1 surviving text (main.py:224-227)."""
    return incidents.join(
        texts.select("incident_id").distinct(), "incident_id", "left_semi"
    )


def expected_roles_per_type(type2mapping: DataFrame, role_mappings: DataFrame) -> DataFrame:
    """Dimension: type_qid -> sorted distinct role list of its mapping
    (wdt_fn_mappings JSON key set; 'any' handled by the caller's coalesce)."""
    return (
        type2mapping.join(role_mappings, "mapping_name")
        .groupBy("type_qid", "mapping_name")
        .agg(F.sort_array(F.collect_set("role")).alias("expected_roles"))
    )


def filter_missing_fes(incidents: DataFrame, incident_roles: DataFrame,
                       type2mapping: DataFrame, role_mappings: DataFrame) -> DataFrame:
    """F4 (pilot_utils.py:77-95): keep incidents whose extra_info key set
    equals the mapping's full role set. Broadcast dimension join."""
    any_roles = (
        role_mappings.filter(F.col("mapping_name") == "any")
        .agg(F.sort_array(F.collect_set("role")).alias("any_roles"))
    )
    expected = expected_roles_per_type(type2mapping, role_mappings)
    actual = incident_roles.groupBy("incident_id").agg(
        F.sort_array(F.collect_set("role")).alias("actual_roles")
    )
    return (
        incidents.join(actual, "incident_id", "left")
        .join(F.broadcast(expected), incidents["incident_type"] == expected["type_qid"], "left")
        .crossJoin(F.broadcast(any_roles))
        .withColumn("expected_roles", F.coalesce("expected_roles", "any_roles"))
        .filter(
            F.coalesce(F.col("actual_roles"), F.array().cast("array<string>"))
            == F.col("expected_roles")
        )
        .select(incidents["*"])
    )


def pilot_texts(texts: DataFrame, target_languages: list[str],
                must_have_all_languages: bool = True,
                must_have_english: bool = True,
                one_page_per_language: bool = True,
                min_chars: int = 100,
                max_chars: int = 50000) -> tuple[DataFrame, DataFrame]:
    """A2 was already applied upstream (dedup is idempotent — the reference
    re-runs it at pilot_utils.py:139 as a no-op); apply F1 truncation, F2
    filter, then the per-incident F3 language predicate.

    Returns ``(passing, keep)``: the truncated texts that pass F2, and the
    ``incident_id`` of every incident whose passing texts satisfy F3. The
    pilot texts are ``passing`` semi-joined to the selected incidents.
    F3 and F4 are both per-incident predicates, so they commute: the
    caller applies F4 to ``keep`` instead of to ``texts``, and the F4
    chain is planned once, not once per consumer of the texts."""
    truncated = texts.withColumn("content", first_section_col(F.col("content")))
    passing = truncated.filter(
        ref_text_ok(F.col("content"), F.col("name"), min_chars, max_chars)
    )
    per_incident = passing.groupBy("incident_id").agg(
        F.collect_set("lang").alias("langs"), F.count("*").alias("n_texts")
    )
    keep = per_incident.filter(
        ~skip_incident_expr(
            F.col("langs"), F.col("n_texts"), target_languages,
            must_have_all_languages, must_have_english, one_page_per_language,
        )
    ).select("incident_id")
    return passing, keep


def backfill_role_labels(incident_roles: DataFrame, entity_labels: DataFrame) -> DataFrame:
    """Label backfill (pilot_utils.py:160-176): values without ' | ' get the
    entity label appended (empty when unknown / non-http). Broadcast join —
    the reference's memo-cache + sleep(1) rate limit collapses into this."""
    unlabeled = ~F.col("value").contains("|")
    qid = qid_from_uri(F.col("value"))
    joined = incident_roles.withColumn(
        "__qid", F.when(unlabeled & F.col("value").startswith("http"), qid)
    ).join(
        F.broadcast(entity_labels.withColumnRenamed("qid", "__qid")),
        "__qid",
        "left",
    )
    return joined.withColumn(
        "value",
        F.when(
            unlabeled,
            F.concat(F.col("value"), F.lit(" | "), F.coalesce(F.col("label"), F.lit(""))),
        ).otherwise(F.col("value")),
    ).select(*incident_roles.columns)


def deterministic_pilot_limit(pilot_incidents: DataFrame, max_pilot_incidents: int | None) -> DataFrame:
    """O2 made deterministic (reference truncates a set, main.py:377-379):
    orderBy(wdt_id).limit(n)."""
    if max_pilot_incidents is None:
        return pilot_incidents
    return pilot_incidents.orderBy("incident_id").limit(max_pilot_incidents)
