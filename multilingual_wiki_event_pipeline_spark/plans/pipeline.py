"""End-to-end KG-construction pipeline (reference main.py:241-505 lifecycle,
SURVEY §3.1, re-expressed as one lazy DataFrame DAG):

  incidents --S1/S2 seed scan (by_incident | by_participant)
       |
  transcripts --assemble--> docs --F8+A2--> full texts --serialize--> full triples
       |                                        |
       |                               F4..F3 pilot filters
       |                                        |
  annotations ----align (Arrow kernel)----> mentions --J3/J5--> linked mentions
       |                                        |                   |
  gazetteer --detect+rank--> gazetteer links   srl --J7--> srl links | A7 corefs
       |                                        |
  ontology_edges --closure--> incident ancestors + A5 type index
                                                |
                                 label backfill + serialize --> pilot triples

Boundaries (shuffles) are chosen by Catalyst; explicit scale measures:
two-phase skew-safe document assembly, broadcast dimension joins, hash-keyed
dedup, salted partition column on writes (sinks.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import cached_property
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sinks
from ..operators import (
    documents, gazetteer as G, mentions as M, ontology, pilot, srl, triples,
)
from ..sources.tables import CorpusTables

LANGS_DEFAULT = ["en", "nl", "it"]


@dataclass
class PipelineOutputs:
    docs: DataFrame
    turns_out: DataFrame
    full_texts: DataFrame
    full_incidents: DataFrame
    full_triples: DataFrame
    pilot_incidents: DataFrame
    pilot_texts: DataFrame
    pilot_roles: DataFrame
    pilot_triples: DataFrame
    tokens: DataFrame
    mentions: DataFrame
    corefs: DataFrame
    srl_links: DataFrame
    gazetteer_links: DataFrame
    type_index: DataFrame
    # Every field is a LAZY DataFrame (no job until an action), and so is
    # incident_ancestors. It is deferred behind a thunk because building
    # its plan alone is driver work: 20 unrolled closure rounds cost
    # about 0.2 s of plan construction (no job) on a 300-incident corpus
    # at 4 cores, which a consumer that never reads the output should not
    # pay.
    incident_ancestors_thunk: "Callable[[], DataFrame]" = None

    @cached_property
    def incident_ancestors(self) -> DataFrame:
        return self.incident_ancestors_thunk()


def build(t: CorpusTables, target_languages: list[str] = None,
          must_have_all_languages: bool = True, must_have_english: bool = True,
          one_page_per_language: bool = True,
          max_pilot_incidents: int | None = None,
          cache_intermediates: bool = False,
          store: sinks.CheckpointStore | None = None,
          seed_mode: str = "by_incident") -> PipelineOutputs:
    """``store`` (sinks.CheckpointStore) materializes every shared stage
    boundary to the checkpoint store: resumable after failure (complete
    stages are skipped), per-partition lineage recorded, and downstream
    plans read shallow scans instead of re-analyzing the whole upstream DAG.
    ``cache_intermediates`` is the in-session alternative for tests.

    ``seed_mode`` (S2, reference query_test.py:288-587): ``by_incident``
    (main.py lifecycle, the default) seeds from incidents with no
    participant; ``by_participant`` seeds from participant-minted incidents
    (``wd:{participant}_{event}`` subjects) and serializes with
    serialize_as_participant_event semantics (classes.py:167-262) —
    sem:hasActor edge, /wiki/-namespace direct-type rdf:type edges, plain
    participant-event label, no per-text label / fn17 / collection-label
    triples. When reusing a checkpoint store across modes, key it with a
    params fingerprint (CheckpointStore.params_fingerprint)."""
    target_languages = target_languages or LANGS_DEFAULT
    if seed_mode not in ("by_incident", "by_participant"):
        raise ValueError(f"unknown seed_mode {seed_mode!r}")
    by_participant = seed_mode == "by_participant"
    if store is not None:
        maybe_cache = lambda df, name: store.materialize(df, name)  # noqa: E731
    elif cache_intermediates:
        maybe_cache = lambda df, name: df.cache()  # noqa: E731
    else:
        maybe_cache = lambda df, name: df  # noqa: E731

    # --- seed scan (S1/S2): one mode per run, like the reference ------------
    seeds = t.incidents.filter(
        F.col("participant_id").isNotNull() if by_participant
        else F.col("participant_id").isNull()
    )
    conv_meta = t.conv_meta.join(
        seeds.select("incident_id"), "incident_id", "left_semi"
    )
    if by_participant:
        def serialize(incs, texts, roles, conv_sources=None):
            return triples.serialize_participant_collection(
                incs, texts, roles, t.type2mapping, t.role_mappings,
                t.incident_direct_types, conv_sources=conv_sources,
            )
    else:
        def serialize(incs, texts, roles, conv_sources=None):
            return triples.serialize_collection(
                incs, texts, roles, t.type2mapping, t.role_mappings,
                conv_sources=conv_sources,
            )

    # --- ingest + stabilize -------------------------------------------------
    docs = documents.assemble_documents(t.transcripts)
    turns_out = documents.stable_turns(t.transcripts)

    # --- full collection (F8 + A2 + serialize) ------------------------------
    texts_full = maybe_cache(pilot.full_texts(conv_meta, docs), "s01_texts_full")
    incidents_full = pilot.incidents_with_texts(seeds, texts_full)
    roles_full = t.incident_roles.join(
        incidents_full.select("incident_id"), "incident_id", "left_semi"
    )
    full_triples = serialize(
        incidents_full, texts_full, roles_full,
        conv_sources=None,  # primary links not yet fetched at this stage
    )

    # --- pilot selection -----------------------------------------------------
    inc_f4 = pilot.filter_missing_fes(
        incidents_full, roles_full, t.type2mapping, t.role_mappings
    )
    # F3 (language completeness) and F4 (role completeness) are both
    # per-incident predicates, so they commute: F3 runs over every full
    # text and F4 is applied once, to the incident ids that survive F3.
    # Filtering the texts by F4 would put the F4 chain into every branch
    # that reads them.
    passing, keep_f3 = pilot.pilot_texts(
        texts_full, target_languages, must_have_all_languages,
        must_have_english, one_page_per_language,
    )
    # cache, don't checkpoint: p_incidents is a small frame (<= one row per
    # incident) whose F4 aggregation chain feeds FIVE sibling branches of
    # the fused output write (p_texts/p_roles semi-joins + the three
    # incident-keyed triple parts). Spark executes a repeated uncached
    # subplan once PER BRANCH inside a single job — measured at ~9.7 s of
    # the 32-core pilot_triples wall, the dominant non-scaling slice of
    # out_layers (round-5 straggler probe).
    p_incidents = pilot.deterministic_pilot_limit(
        inc_f4.join(keep_f3, "incident_id", "left_semi"), max_pilot_incidents,
    ).cache()
    p_texts = maybe_cache(
        passing.join(p_incidents.select("incident_id"), "incident_id", "left_semi"),
        "s02_pilot_texts",
    )
    # same reasoning: consumed by role_triples AND the SRL/coref chains.
    p_roles = pilot.backfill_role_labels(
        t.incident_roles.join(p_incidents.select("incident_id"), "incident_id", "left_semi"),
        t.entity_labels,
    ).cache()
    pilot_triples = serialize(
        p_incidents, p_texts, p_roles,
        conv_sources=t.conv_sources,  # pilot stage fetched primary links
    )

    # --- NAF-side layers ------------------------------------------------------
    tokens = M.token_table(p_texts)
    # aligned feeds both the linking chain and the SRL join — materialized so
    # the alignment runs once. The per-document Arrow kernel is the measured
    # winner for the hot path: its J6 relational twin
    # (align_mentions_relational, kept + equality-tested) replaces one
    # grouped Arrow pass with two sorts/shuffles of the tokens table
    # (~10 rows per turn) and measured >10x slower at the 15M-turn corpus —
    # see BENCH/BASELINE.md "alignment path note".
    aligned = maybe_cache(M.align_mentions(p_texts, t.annotations),
                          "s03_aligned_mentions")
    uri_to_rels, inc_to_wd = M.structured_data_uris(incidents_full, roles_full)
    # tiny dimensions consumed by 2+ downstream joins: pin with cache(), not
    # the store — a store write is a whole extra job (serial floor per job:
    # schedule + commit + broadcast rebuild), while cache materializes
    # inside the first consumer. Cheap to recompute on resume.
    uri_to_rels = uri_to_rels.cache()
    inc_to_wd = inc_to_wd.cache()
    wiki_to_wd = M.restrict_sitelinks(t.wd_sitelinks, uri_to_rels).cache()
    ref_dim = maybe_cache(
        M.ext_ref_dim(aligned, p_texts, t.langlinks, wiki_to_wd), "s04_ref_dim"
    )
    linked = M.expand_ext_refs(aligned, p_texts, t.langlinks, wiki_to_wd,
                               ref_dim=ref_dim)
    corefs = M.coref_clusters(aligned, p_texts, uri_to_rels, inc_to_wd, ref_dim)
    spans = srl.role_spans(t.srl_predicates, t.srl_roles)
    srl_links = srl.entity_frame_roles(aligned, spans)
    # north-star steps 3-4: dictionary mention detection + candidate-ranked
    # entity linking over the pilot texts (the hyperlink path above links
    # pre-annotated mentions; this one FINDS them from the gazetteer).
    gaz_links = G.gazetteer_links(p_texts, t.gazetteer, tokens, inc_to_wd)
    # S3/J10/A5: direct-type index over the pilot set (classes.py:355-359)
    # + ancestor expansion through the ontology closure (utils.py:555-569),
    # the subsumed_by matching substrate (utils.py:117-118).
    typ_index = ontology.type_index(t.incident_direct_types, p_incidents)
    direct_types_full = t.incident_direct_types.join(
        incidents_full.select("incident_id"), "incident_id", "left_semi"
    )

    def inc_ancestors() -> DataFrame:
        return ontology.incident_ancestors(direct_types_full, t.ontology_edges)

    return PipelineOutputs(
        docs=docs, turns_out=turns_out,
        full_texts=texts_full, full_incidents=incidents_full,
        full_triples=full_triples,
        pilot_incidents=p_incidents, pilot_texts=p_texts, pilot_roles=p_roles,
        pilot_triples=pilot_triples,
        tokens=tokens, mentions=linked, corefs=corefs, srl_links=srl_links,
        gazetteer_links=gaz_links,
        type_index=typ_index, incident_ancestors_thunk=inc_ancestors,
    )


def write_outputs(o: PipelineOutputs, store: sinks.CheckpointStore,
                  out_dir: str) -> dict[str, int]:
    """Write what a pipeline run ships: the full and pilot triple stores
    (``sinks.write_triples``) under ``out_dir/full`` and ``out_dir/pilot``,
    and the six NAF-side and analysis layers as ONE tagged write, the
    ``out_layers`` stage of ``store`` (``sinks.write_layer_union``).

    Records one ``sink`` counter per output in ``store`` and returns them:
    per-layer counts from the lineage footers, triple counts from the
    written files' footers. Counting adds no Spark job for a local
    ``out_dir`` (see ``sinks.stored_row_count``)."""
    paths = {f"{which}_triples": os.path.join(out_dir, which)
             for which in ("full", "pilot")}
    sinks.write_triples(o.full_triples, paths["full_triples"])
    sinks.write_triples(o.pilot_triples, paths["pilot_triples"])
    layers = {
        "mentions": o.mentions,
        "corefs": o.corefs,
        "srl_links": o.srl_links,
        "gazetteer_links": o.gazetteer_links,
        "type_index": o.type_index,
        "incident_ancestors": o.incident_ancestors,
    }
    sinks.write_layer_union(store, layers, "out_layers")
    counts = sinks.layer_row_counts(store, "out_layers")
    for name, path in paths.items():
        counts[name] = sinks.stored_row_count(store.spark, path)
    for name, n in counts.items():
        store.add_counter("sink", name, n)
    return counts
