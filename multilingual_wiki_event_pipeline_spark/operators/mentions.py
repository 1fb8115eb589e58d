"""Mention alignment, entity linking, and coreference clustering
(SURVEY U2/J3/J4/J5/J6/J8/A7).

Design: the only Python kernels are Arrow-batched ``mapInPandas`` over
*pre-grouped* per-document rows — tokenization and char-offset -> token-id
alignment are inherently per-document string work (reference
pilot_utils.py:262-340 + xml_utils.py:237-258). Everything around them
(langlink fanout, wiki->wd rewrite, coref eligibility + clustering) is
relational: broadcast joins against dimension tables and aggregations,
visible to Catalyst/AQE.

Scale notes: the kernel input is one row per document (conv_id, content,
packed annotations) — there is exactly one shuffle to group annotations per
document, and document batches stream through Arrow. The alternative
(materializing a token table and equi-joining mention offsets, SURVEY J6)
costs a tokens-sized shuffle (~10 rows per turn); it is provided as
``token_table`` for the NAF wf-layer output but is not on the hot path.
"""

from __future__ import annotations

import urllib.parse
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import offset_alignment_maps, tokenize

WD = "http://www.wikidata.org/entity/"
SEM_EVENT = "http://semanticweb.cs.vu.nl/2009/11/sem/Event"

TOKENS_SCHEMA = "conv_id string, tid int, offset int, length int, surface string"
MENTIONS_SCHEMA = (
    "conv_id string, eid int, begin_tid int, end_tid int, surface string, uri string"
)


def token_table(texts: DataFrame) -> DataFrame:
    """NAF text/wf + terms layer analog: one row per token with stable
    1-based ids (W1/W2). Arrow-batched; parallel across documents."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"conv_id": [], "tid": [], "offset": [], "length": [], "surface": []}
            for conv_id, content in zip(pdf["conv_id"], pdf["content"]):
                for tid, (off, surf) in enumerate(tokenize(content), start=1):
                    out["conv_id"].append(conv_id)
                    out["tid"].append(tid)
                    out["offset"].append(off)
                    out["length"].append(len(surf))
                    out["surface"].append(surf)
            yield pd.DataFrame(out)

    return texts.select("conv_id", "content").mapInPandas(kernel, TOKENS_SCHEMA)


def align_mentions(texts: DataFrame, annotations: DataFrame) -> DataFrame:
    """J6/U2/F10: align annotation char offsets to token boundaries over the
    (pilot-truncated) content; misaligned mentions are skipped
    (pilot_utils.py:297-306). Returns one row per aligned mention with the
    language-prefixed, percent-decoded wiki URI (load_annotations,
    pilot_utils.py:233-253).

    ``texts`` needs (conv_id, lang, content); annotation order inside a
    document is by char offset — the reference's dict keyed by (start, end)
    keeps the *last* annotation per span, reproduced here.

    The kernel runs at the join's own shuffle grain: repartitioning the
    texts first was measured, and the extra exchange cost more than the
    finer grain won (BENCH/scaling_diag_30k.md).
    """
    packed = annotations.groupBy("conv_id").agg(
        F.sort_array(
            F.collect_list(F.struct("offset", "surface_form", "uri"))
        ).alias("anns")
    )
    texts = texts.select("conv_id", "lang", "content")
    joined = texts.join(packed, "conv_id")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("conv_id", "eid", "begin_tid", "end_tid", "surface", "uri")}
            for conv_id, lang, content, anns in zip(
                pdf["conv_id"], pdf["lang"], pdf["content"], pdf["anns"]
            ):
                start2tid, end2tid = offset_alignment_maps(tokenize(content))
                prefix = f"https://{lang}.wikipedia.org/wiki/"
                span2info: dict[tuple[int, int], tuple[str, str]] = {}
                for ann in anns:
                    start = ann["offset"]
                    sf = ann["surface_form"]
                    uri = urllib.parse.unquote(prefix + ann["uri"])
                    span2info[(start, start + len(sf))] = (sf, uri)
                eid = 1
                for (start, end), (sf, uri) in span2info.items():
                    if start not in start2tid or end not in end2tid:
                        continue  # F10 misalignment -> skip, counted upstream
                    out["conv_id"].append(conv_id)
                    out["eid"].append(eid)
                    out["begin_tid"].append(start2tid[start])
                    out["end_tid"].append(end2tid[end])
                    out["surface"].append(sf)
                    out["uri"].append(uri)
                    eid += 1
            yield pd.DataFrame(out)

    return joined.mapInPandas(kernel, MENTIONS_SCHEMA)


def align_mentions_relational(texts: DataFrame, annotations: DataFrame,
                              tokens: DataFrame) -> DataFrame:
    """J6 relational twin of ``align_mentions``: char-offset -> token-id
    alignment as two equi-joins against the token table instead of a
    per-document Python kernel.

    Exact reference semantics preserved (byte-identical to the kernel,
    enforced by the parity suite):

    - last-annotation-per-span: the kernel sorts annotations by
      (offset, surface_form, uri) and dict-overwrites per (start, end) —
      relationally a row_number() keeping the MAX (surface_form, uri) per
      span (pilot_utils.py:233-253 dict semantics).
    - eid numbering: dict insertion order = each span's FIRST occurrence
      in the sorted list = its MIN (surface_form, uri) struct; eids are
      assigned after the F10 alignment filter, so misaligned mentions do
      not consume ids — a row_number() over (offset, first-struct) on the
      surviving rows.
    - F10: a span survives iff some token starts at its start offset AND
      some token ends at its end offset — the two equi-joins.
    - percent-decoding runs on the DISTINCT (lang, uri) DIMENSION through
      an Arrow-batched pandas UDF (urllib.parse.unquote exactly), never on
      the fact table.

    Scale: the Python tokenizer runs once (token_table, which the NAF
    layers need anyway); everything else is JVM joins that scale with
    shuffle parallelism — this replaces the alignment kernel whose
    per-document Python cost was the one non-scaling stage at 2x corpus
    (BENCH/BASELINE.md "Known next lever").
    """
    from pyspark.sql.functions import pandas_udf

    ann = (
        annotations.join(texts.select("conv_id", "lang"), "conv_id")
        .select(
            "conv_id", "lang", "offset", "surface_form", "uri",
            (F.col("offset") + F.length("surface_form")).alias("end_off"),
        )
    )
    w_span = Window.partitionBy("conv_id", "offset", "end_off").orderBy(
        F.desc("surface_form"), F.desc("uri")
    )
    spans = (
        ann.withColumn("__rn", F.row_number().over(w_span))
        .withColumn(
            "__first",
            F.min(F.struct("surface_form", "uri")).over(
                Window.partitionBy("conv_id", "offset", "end_off")
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    b = tokens.select(
        F.col("conv_id").alias("b_conv"),
        F.col("offset").alias("b_off"),
        F.col("tid").alias("begin_tid"),
    )
    e = tokens.select(
        F.col("conv_id").alias("e_conv"),
        (F.col("offset") + F.col("length")).alias("e_off"),
        F.col("tid").alias("end_tid"),
    )
    # fact-to-fact joins: force sort-merge — Catalyst's size estimate for
    # the windowed annotation side is unreliable (measured: it broadcast a
    # ~1 GB spans side at the 15M-turn corpus and blew past
    # spark.driver.maxResultSize). Both sides scale with the corpus, so a
    # broadcast is never the right plan here; SMJ shuffles on the join key
    # and survives any scale.
    aligned = (
        spans.join(
            b.hint("merge"),
            (F.col("conv_id") == F.col("b_conv"))
            & (F.col("offset") == F.col("b_off")),
        )
        .drop("b_conv", "b_off")
        .join(
            e.hint("merge"),
            (F.col("conv_id") == F.col("e_conv"))
            & (F.col("end_off") == F.col("e_off")),
        )
        .drop("e_conv", "e_off")
    )

    def _unq(s):
        from urllib.parse import unquote

        return s.map(lambda x: unquote(x) if x is not None else None)

    unquote_udf = pandas_udf(_unq, "string")
    uri_dim = (
        aligned.select("lang", "uri").distinct()
        .withColumn(
            "full_uri",
            unquote_udf(
                F.concat(
                    F.lit("https://"), F.col("lang"),
                    F.lit(".wikipedia.org/wiki/"), F.col("uri"),
                )
            ),
        )
    )
    w_eid = Window.partitionBy("conv_id").orderBy(
        "offset", F.col("__first.surface_form"), F.col("__first.uri")
    )
    # no broadcast hint on uri_dim: it scales with (entities + incidents) ×
    # languages, so let AQE pick broadcast vs shuffle from its runtime size
    return (
        aligned.withColumn("eid", F.row_number().over(w_eid))
        .join(uri_dim, ["lang", "uri"])
        .select(
            "conv_id", "eid", "begin_tid", "end_tid",
            F.col("surface_form").alias("surface"),
            F.col("full_uri").alias("uri"),
        )
    )


def ext_ref_dim(mentions: DataFrame, texts: DataFrame,
                langlinks: DataFrame, wiki_to_wd: DataFrame) -> DataFrame:
    """The J3+J5 expansion as a DIMENSION: (lang, uri) -> ext_refs.

    ext_refs[0] is always the mention's own wiki URI (the reference's first
    externalRef, consumed by the SRL join); langlink URIs follow sorted;
    Wikidata URIs not already present are appended (xml_utils.py:377-398
    dup guard).

    ``ext_refs`` is a pure function of ``(lang, uri)``, so the whole
    expansion (langlink groupBy, wiki->wd probe, dedup) runs on the DISTINCT
    mention keys — dimension-sized (gazetteer x languages), never
    fact-sized. Downstream consumers either join the packed array to the
    fact table (expand_ext_refs) or pre-filter the exploded dim before ever
    touching the fact table (coref_clusters) — mention counts multiply
    neither path.
    """
    m = mentions.join(texts.select("conv_id", "lang"), "conv_id")
    keys = m.select("lang", "uri").distinct()
    base = (
        keys.join(F.broadcast(langlinks), ["lang", "uri"], "left")
        .groupBy("lang", "uri")
        .agg(F.array_sort(F.collect_set("other_uri")).alias("link_uris"))
        .withColumn("base_refs", F.concat(F.array(F.col("uri")), F.col("link_uris")))
        .drop("link_uris")
    )
    wd_adds = (
        base.select("lang", "uri", F.explode("base_refs").alias("ref"))
        .join(F.broadcast(wiki_to_wd), F.col("ref") == wiki_to_wd["wiki_uri"])
        .groupBy("lang", "uri")
        .agg(F.array_sort(F.collect_set("wd_uri")).alias("wd_uris"))
    )
    return (
        base.join(wd_adds, ["lang", "uri"], "left")
        .select(
            "lang",
            "uri",
            F.concat(
                F.col("base_refs"),
                F.array_except(
                    F.coalesce(F.col("wd_uris"), F.array().cast("array<string>")),
                    F.col("base_refs"),
                ),
            ).alias("ext_refs"),
        )
    )


def expand_ext_refs(mentions: DataFrame, texts: DataFrame,
                    langlinks: DataFrame, wiki_to_wd: DataFrame,
                    ref_dim: DataFrame | None = None) -> DataFrame:
    """Mention fact table enriched with its ext_refs array — one hash join
    against the (lang, uri) dimension (see ext_ref_dim)."""
    if ref_dim is None:
        ref_dim = ext_ref_dim(mentions, texts, langlinks, wiki_to_wd)
    m = mentions.join(texts.select("conv_id", "lang"), "conv_id")
    return m.join(ref_dim, ["lang", "uri"]).select(
        "conv_id", "eid", "begin_tid", "end_tid", "surface", "uri", "ext_refs"
    )


def structured_data_uris(incidents: DataFrame, incident_roles: DataFrame) -> tuple[DataFrame, DataFrame]:
    """get_uris (utils.py:642-688, deviation D2 — see oracle.py): returns
    (uri_to_rels(qid, rels array), inc_to_wd_uris(incident_id, wd_uri))."""
    rel_map = {
        "sem:hasPlace": "http://semanticweb.cs.vu.nl/2009/11/sem/hasPlace",
        "sem:hasActor": "http://semanticweb.cs.vu.nl/2009/11/sem/hasActor",
    }
    from .filters import packed_value_uri

    role_vals = (
        incident_roles.filter(F.col("role").isin(*rel_map.keys()))
        .withColumn("val_uri", packed_value_uri(F.col("value")))
        .filter(F.col("val_uri").startswith(WD))
        .select(
            "incident_id",
            F.replace(F.col("val_uri"), F.lit(WD), F.lit("")).alias("qid"),
            F.col("role"),
        )
        .join(F.broadcast(incidents.select("incident_id")), "incident_id", "left_semi")
    )
    rel_expr = F.when(F.col("role") == "sem:hasPlace", F.lit(rel_map["sem:hasPlace"])) \
        .otherwise(F.lit(rel_map["sem:hasActor"]))
    ent_rels = role_vals.select("qid", rel_expr.alias("rel"))
    inc_rels = incidents.select(
        F.col("incident_id").alias("qid"), F.lit(SEM_EVENT).alias("rel")
    )
    uri_to_rels = ent_rels.unionByName(inc_rels).groupBy("qid").agg(
        F.collect_set("rel").alias("rels")
    )
    inc_to_wd = (
        incidents.select("incident_id", F.concat(F.lit(WD), "incident_id").alias("wd_uri"))
        .unionByName(
            role_vals.select(
                "incident_id", F.concat(F.lit(WD), "qid").alias("wd_uri")
            )
        )
        .distinct()
    )
    return uri_to_rels, inc_to_wd


def restrict_sitelinks(wd_sitelinks: DataFrame, uri_to_rels: DataFrame) -> DataFrame:
    """wiki_to_wd map scope (native_api_utils.py:228-262): only URIs present
    in the collection's structured data are mapped."""
    return wd_sitelinks.join(
        uri_to_rels.select(F.concat(F.lit(WD), "qid").alias("wd_uri")),
        "wd_uri",
        "left_semi",
    ).select("wiki_uri", "wd_uri").distinct()


def coref_clusters(mentions: DataFrame, texts: DataFrame,
                   uri_to_rels: DataFrame, inc_to_wd: DataFrame,
                   ref_dim: DataFrame) -> DataFrame:
    """A7/J8 (xml_utils.py:411-548): group mention spans per (doc, wd uri),
    eligibility = wd-prefixed AND in the incident's structured-data set;
    clusters whose entity has 0 or >=2 sem rels are dropped; typed 'event'
    iff the sole rel is sem:Event.

    Scale shape: the ref fanout (every wd URI each mention points at) is
    exploded on the (lang, uri) DIMENSION and intersected with the
    incident's structured-data URIs *before* touching the fact table —
    mentions fan out only to their eligible refs (~1 each), never to the
    full ext_refs list. Exploding the fact table first multiplies it by
    |ext_refs| (measured 120x on the synthetic corpus — two orders of
    magnitude of wasted shuffle).

    This is the degenerate shared-URI connected-components canonicalization;
    the generalized similarity-graph version lives in canonicalize.py.
    """
    wd_refs = (
        ref_dim.select("lang", "uri", F.explode("ext_refs").alias("ref"))
        .filter(F.col("ref").startswith(WD))
    )
    # (lang, uri) -> incidents whose structured data contains the ref:
    # dimension x dimension join keyed on the ref itself
    eligible_dim = wd_refs.join(
        inc_to_wd.select("incident_id", F.col("wd_uri").alias("ref")), "ref"
    )
    m = mentions.join(
        texts.select("conv_id", "lang", "incident_id"), "conv_id"
    ).select(
        "conv_id", "incident_id", "lang", "uri",
        F.sequence("begin_tid", "end_tid").alias("span"),
    )
    eligible = m.join(eligible_dim, ["incident_id", "lang", "uri"])
    clusters = eligible.groupBy("conv_id", "ref").agg(
        F.array_sort(F.collect_set("span")).alias("spans")
    )
    typed = clusters.join(
        F.broadcast(
            uri_to_rels.select(
                F.concat(F.lit(WD), "qid").alias("ref"), "rels"
            )
        ),
        "ref",
        "left",
    ).filter(F.size(F.coalesce(F.col("rels"), F.array().cast("array<string>"))) == 1)
    return typed.select(
        "conv_id",
        F.col("ref").alias("wd_uri"),
        F.when(F.col("rels")[0] == SEM_EVENT, F.lit("event"))
        .otherwise(F.lit("entity"))
        .alias("coref_type"),
        "spans",
    )
