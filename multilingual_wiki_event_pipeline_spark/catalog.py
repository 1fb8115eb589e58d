"""Query catalog: one Spark builder per operator from SURVEY.md §2 plus the
training-data-pipeline operators, each with a DuckDB oracle in oracles.py.

Every builder takes (spark, sf_dir) and returns a DataFrame over the driver
testdata tables. Aliases match the oracle SQL exactly (the driver hashes
values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import multimodal, similarity, text_analysis, text_dedup


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _is_gyear(c) -> F.Column:
    return F.date_format(c, "MM-dd HH:mm:ss") == "01-01 00:00:00"


# --- SURVEY §2 relational operators over the testdata tables ---------------


def a1_incident_grouping(spark, sf_dir):
    """A1 (utils.py:262-300): group bindings per id; set-union types; last
    label. Partial+final hash agg — map-side combine for free."""
    return _t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "types_csv"
        ),
        F.max_by("event_type", "event_id").alias("last_type"),
    )


def a2_dedup_window(spark, sf_dir):
    """A2 (utils.py:386-398): keep-max-key dedup via ranking window —
    replaces the reference's O(n²) pairwise scan."""
    w = Window.partitionBy("lang", F.substring("text", 1, 40)).orderBy(
        F.desc("doc_id")
    )
    return (
        _t(spark, sf_dir, "documents")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang")
    )


def f2_ref_text_filter(spark, sf_dir):
    """F2 (pilot_utils.py:98-104): length-range + year-range-regex filter;
    pushed to the scan by Catalyst (length via n_chars stats at scale)."""
    d = _t(spark, sf_dir, "documents")
    return d.filter(
        F.length("text").between(100, 400)
        & ~F.col("text").rlike("[1-2][0-9]{3}-[1-2][0-9]{3}")
    ).select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))


def f3_language_completeness(spark, sf_dir):
    """F3 (pilot_utils.py:107-124): per-group language-completeness
    predicate — aggregate then filter, not per-row loops."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sort_array(F.collect_set("lang")).alias("langs"),
            F.count("*").alias("n_docs"),
        )
        .filter(
            F.array_contains("langs", "en") & (F.size("langs") >= 4)
        )
        .select(
            "source",
            F.array_join("langs", ",").alias("langs_csv"),
            "n_docs",
        )
    )


def j1_outer_merge(spark, sf_dir):
    """J1 (main.py:55-77): API-titles ⟕ incidents full-outer merge with
    found_by provenance union."""
    ev = _t(spark, sf_dir, "events")
    l = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    r = (
        ev.filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("r_user_id"))
        .distinct()
    )
    return l.join(r, l.user_id == r.r_user_id, "full_outer").select(
        F.coalesce("user_id", "r_user_id").alias("user_id"),
        F.concat_ws(
            ",",
            F.when(F.col("user_id").isNotNull(), "purchase"),
            F.when(F.col("r_user_id").isNotNull(), "error"),
        ).alias("found_by"),
    )


def j2_dimension_join(spark, sf_dir):
    """J2 (wikipedia_utils.py:81-99): hash-probe → broadcast dim joins.
    nation/region are broadcast; the orders↔customer join shuffles on the
    key Catalyst picks (AQE may also broadcast customer at this SF)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def j7_interval_containment(spark, sf_dir):
    """J7 (xml_utils.py:118-187): span-containment join — equi on the
    partition key (user/doc) + range predicates, shuffle-friendly."""
    ev = _t(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("v_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    return (
        v.join(c, v.user_id == c.c_user_id)
        .filter(
            (F.col("c_ts") >= F.col("v_ts"))
            & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .select("view_id", "click_id")
    )


def j10_transitive_closure(spark, sf_dir):
    """J10 (utils.py:489-569): ontology ancestor closure — iterative
    self-join to fixpoint (recursive-CTE equivalent), delegated to the ONE
    closure implementation (operators/ontology.ancestor_closure: equi-join
    rounds, localCheckpoint lineage hygiene, counts only at checkpoints,
    -1 sentinel). This entry's contract is proper ancestors only, so it
    passes ``reflexive=False`` (edge-seeded iteration — sound because the
    edge table is acyclic: nation -> region -> root) instead of building
    the reflexive closure and filtering ``node != ancestor`` after, which
    carried one identity row per node through every iteration's
    join+distinct (the r4 fold shape; sentinel-metered A/B of the two in
    BENCH/j10_ab.md)."""
    from .operators import ontology

    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    edges = n.select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("child"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("parent"),
    ).unionByName(
        r.select(
            F.concat(F.lit("r"), F.col("r_regionkey").cast("string")).alias(
                "child"
            ),
            F.lit("root").alias("parent"),
        )
    )
    # r6: max_depth=2 is a STRUCTURAL bound of this query, not a data
    # tune — the edge set is nation->region->root by construction, so the
    # longest proper-ancestor path is 2 regardless of scale factor; the
    # non-reflexive seed already covers 1-hop paths and each round adds a
    # hop, so 2 rounds reach the fixpoint with margin (extra rounds are
    # semantic no-ops; the old default ran 6 rounds plus two eager
    # checkpoint + convergence-count jobs).
    return ontology.ancestor_closure(edges, max_depth=2, reflexive=False)


def j10_incident_ancestors(spark, sf_dir):
    """S3+J10 wired end-to-end (utils.py:555-569 update_incident): a
    subclass tree is derived from the event types (type -> md5-bucketed
    category -> root), the ancestor closure runs through
    operators/ontology.ancestor_closure (iterative equi-join, localCheckpoint
    hygiene), and each incident's direct types expand to their root-path
    ancestors. Closure is dimension-sized; the only fact-sized step is one
    broadcast join. Oracle = recursive CTE."""
    from .operators import ontology

    ev = _t(spark, sf_dir, "events")
    types = ev.select("event_type").distinct()
    e1 = types.select(
        F.col("event_type").alias("child"),
        F.concat(
            F.lit("cat:"),
            F.substring(F.md5(F.col("event_type").cast("binary")), 1, 1),
        ).alias("parent"),
    )
    e2 = (
        e1.select(F.col("parent").alias("child"))
        .distinct()
        .select("child", F.lit("root").alias("parent"))
    )
    edges = e1.unionByName(e2)
    dts = ev.select(
        F.col("user_id").alias("incident_id"),
        F.col("event_type").alias("direct_type"),
    ).distinct()
    # max_depth=2 is structural (see j10_transitive_closure): the derived
    # tree is type -> cat -> root, so every root path has <= 2 edges at
    # any scale; the reflexive closure reaches its fixpoint in 2 rounds.
    return ontology.incident_ancestors(dts, edges, root="root", max_depth=2).select(
        F.col("incident_id").cast("long").alias("incident_id"), "ancestor"
    )


def w1_stable_ordering(spark, sf_dir):
    """W1: THE stable-ordering window (input-hint invariant) — row_number
    over (partition key, orderBy time + id tiebreak)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("user_id", "rn", "event_id")
    )


def w5_sessionize(spark, sf_dir):
    """W5: gap-based sessionization — lag + running sum (rowsBetween)."""
    by_time = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(by_time)
    new_sess = F.when(
        prev_ts.isNull()
        | (F.col("ts") > prev_ts + F.expr("INTERVAL 30 MINUTE")),
        1,
    ).otherwise(0)
    return (
        _t(spark, sf_dir, "events")
        .withColumn("new_sess", new_sess)
        .withColumn(
            "session_seq",
            F.sum("new_sess")
            .over(by_time.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
        .select("user_id", "event_id", "session_seq")
    )


def o3_top_types(spark, sf_dir):
    """O3 (classes.py:118): top-k by frequency, deterministic tiebreak."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
        .limit(10)
    )


def a3_collection_stats(spark, sf_dir):
    """A3 (classes.py:27-125): the stats battery as one groupBy().agg()."""
    return _t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_ship"),
    )


def a3_full_stats(spark, sf_dir):
    """A3 proper (classes.py:27-125 compute_stats): the ~15-field stats
    battery over a collection — counts, language-set distribution, per-group
    size distribution, top-10 value distribution, all-info count, and the
    scipy-describe moment block — as relational aggregations ending in ONE
    row (each distribution is a two-level agg packed to a sorted csv; the
    1-row frames cross-join for free). incidents := sources, reference
    texts := documents. The engine-output analog with oracle-checked parity
    lives in operators/analyze.py."""
    d = _t(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.array_join(F.sort_array(F.collect_set("lang")), ",").alias("langset"),
        F.size(F.collect_set("lang")).alias("n_langs"),
    )

    def dist_csv(counts, key, alias, top=None):
        if top is not None:
            counts = counts.orderBy(F.desc("cnt"), F.asc(key)).limit(top)
        return counts.agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (-F.col("cnt")).alias("nc"),
                                F.col(key).cast("string").alias("k"),
                                F.col("cnt").alias("c"),
                            )
                        )
                    ),
                    lambda s: F.concat(s["k"], F.lit("="), s["c"].cast("string")),
                ),
                "|",
            ).alias(alias)
        )

    base = d.agg(
        F.countDistinct("source").alias("num_incidents"),
        F.count("*").alias("num_texts"),
        F.sum(F.when(F.col("n_chars") > 0, 1).otherwise(0)).alias("num_with_content"),
        F.round(F.avg("n_chars"), 6).alias("mean_chars"),
        F.round(F.var_samp("n_chars"), 6).alias("var_chars"),
        F.round(F.skewness("n_chars"), 6).alias("skew_chars"),
        F.round(F.kurtosis("n_chars"), 6).alias("kurt_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    langset_dist = dist_csv(
        per_src.groupBy("langset").agg(F.count("*").alias("cnt")),
        "langset", "langset_dist",
    )
    numwiki_dist = dist_csv(
        per_src.groupBy("n_docs").agg(F.count("*").alias("cnt")),
        "n_docs", "numwiki_dist",
    )
    top_langs = dist_csv(
        d.groupBy("lang").agg(F.count("*").alias("cnt")), "lang",
        "top_langs", top=10,
    )
    all_info = per_src.agg(
        F.sum(F.when(F.col("n_langs") >= 5, 1).otherwise(0)).alias("all_info")
    )
    # found_by provenance distribution (classes.py:82,125): the driver table
    # has no provenance column, so it is derived deterministically from
    # doc_id (mirrored in the DuckDB oracle) — the engine-corpus battery in
    # operators/analyze.py reads a real found_by array<string> instead.
    # HEALTH WARNING: this doc_id%3 provenance is SYNTHETIC — it exercises
    # the distribution plumbing against the oracle, not real provenance
    # semantics; those are only tested via analyze.py + datagen's
    # conv_meta.found_by (r3 verdict housekeeping).
    fb = d.withColumn(
        "found_by",
        F.element_at(
            F.array(F.lit("SPARQL"), F.lit("SPARQL|API"), F.lit("API")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ),
    )
    found_by_dist = dist_csv(
        fb.groupBy("found_by").agg(F.count("*").alias("cnt")),
        "found_by", "found_by_dist",
    )
    return base.crossJoin(langset_dist).crossJoin(numwiki_dist) \
        .crossJoin(top_langs).crossJoin(found_by_dist).crossJoin(all_info)


def e2_set_difference(spark, sf_dir):
    """E2 (old_scripts/extract.py:19): target-langs minus found langs."""
    target = F.array(*[F.lit(x) for x in ["de", "en", "es", "fr", "zh"]])
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.collect_set("lang").alias("langs"))
        .select(
            "source",
            F.array_join(F.array_except(target, "langs"), ",").alias(
                "missing_langs"
            ),
        )
    )


def p1_scalar_chain(spark, sf_dir):
    """P1/P3/C1-C10: URI/id scalar projections (regexp_replace, split[-1],
    substring_index, trim/upper) plus the P3 'uri | label' pack/unpack
    (utils.py:294-297, classes.py:247) — all codegen'd, no UDF. (The former
    p3_uri_label_pack entry is folded in here; P4's gYear/date literal rule
    lives in triples_events — round-3 catalog trim to fit the driver's
    50-row correctness window.)"""
    packed = F.concat_ws(" | ", F.col("p_brand"), F.col("p_name"))
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.regexp_replace("p_brand", "Brand#", "b:").alias("brand_id"),
        F.element_at(F.split("p_type", " "), -1).alias("type_last"),
        F.substring_index("p_name", " ", 1).alias("name_first"),
        F.upper(F.trim(F.col("p_brand"))).alias("brand_uc"),
        packed.alias("packed"),
        F.substring_index(packed, " | ", 1).alias("unpacked_uri"),
    )


def k4_inverted_index(spark, sf_dir):
    """K4/A8 (json_utils.py:6-49): inverted index with sorted id lists."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set("user_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("user_ids_csv")
        )
    )


def triples_events(spark, sf_dir):
    """K3 (classes.py:265-353): the triple emitter — subject mint, rdf:type,
    actor edge, rdfs:label literal, gYear-ruled timestamp literal. Four
    projections of one scan, unioned; at scale this is a single pass
    (union of narrow maps, no shuffle until the partitioned write)."""
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    subj = F.concat(F.lit("inst:ev"), F.col("event_id").cast("string"))
    g = _is_gyear(F.col("ts"))
    t1 = e.select(
        subj.alias("subj"),
        F.lit("rdf:type").alias("pred"),
        F.lit("sem:Event").alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        F.lit("").alias("datatype"),
    )
    t2 = e.select(
        subj.alias("subj"),
        F.lit("sem:hasActor").alias("pred"),
        F.concat(F.lit("usr:"), F.col("user_id").cast("string")).alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        F.lit("").alias("datatype"),
    )
    t3 = e.select(
        subj.alias("subj"),
        F.lit("rdfs:label").alias("pred"),
        F.col("event_type").alias("obj"),
        F.lit(True).alias("obj_is_literal"),
        F.lit("xsd:string").alias("datatype"),
    )
    t4 = e.select(
        subj.alias("subj"),
        F.lit("sem:hasTimeStamp").alias("pred"),
        F.when(g, F.date_format("ts", "yyyy"))
        .otherwise(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"))
        .alias("obj"),
        F.lit(True).alias("obj_is_literal"),
        F.when(g, "xsd:gYear").otherwise("xsd:dateTime").alias("datatype"),
    )
    return t1.unionByName(t2).unionByName(t3).unionByName(t4)


def participant_triples(spark, sf_dir):
    """S2 (classes.py:167-262 serialize_as_participant_event over
    query_test.py:144-150 minted ids) on the driver tables: subjects are
    wd:{participant}_{event}, with the sem:hasActor edge, /wiki/-namespace
    direct-type rdf:type, plain participant-event label, and the
    gYear-ruled timestamp. One scan, 6 projections exploded — no shuffle
    until a downstream write."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    ).select("event_id", "user_id", "event_type", "ts")
    subj = F.concat(
        F.lit("wd:Q"), F.col("user_id").cast("string"),
        F.lit("_E"), F.col("event_id").cast("string"),
    )
    g = _is_gyear(F.col("ts"))

    def _tr(pred, obj, lit=False, dt=""):
        return F.struct(
            subj.alias("subj"),
            F.lit(pred).alias("pred"),
            (obj if not isinstance(obj, str) else F.lit(obj)).alias("obj"),
            F.lit(lit).alias("obj_is_literal"),
            (dt if not isinstance(dt, str) else F.lit(dt)).alias("datatype"),
        )

    rows = F.array(
        _tr("sem:hasActor", F.concat(F.lit("wd:Q"), F.col("user_id").cast("string"))),
        _tr("rdf:type", F.concat(F.lit("wiki:E"), F.col("event_id").cast("string"))),
        _tr("rdf:type", "sem:Event"),
        _tr("sem:eventType", F.concat(F.lit("wiki:"), F.col("event_type"))),
        _tr(
            "rdfs:label",
            F.concat(F.col("user_id").cast("string"), F.lit(" "), F.col("event_type")),
            lit=True,
        ),
        _tr(
            "sem:hasTimeStamp",
            F.when(g, F.date_format("ts", "yyyy"))
            .otherwise(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")),
            lit=True,
            dt=F.when(g, "xsd:gYear").otherwise(F.lit("xsd:dateTime")),
        ),
    )
    return e.select(F.explode(rows).alias("t")).select("t.*")


def f1_first_section(spark, sf_dir):
    """F1 (pilot_utils.py:142): keep text before the first separator —
    substring_index + trim, fully codegen'd."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.trim(F.substring_index("text", ".", 1)).alias("first_sec"),
    )


def f4_role_set_equality(spark, sf_dir):
    """F4/E3 (pilot_utils.py:77-95): keep groups whose key set EQUALS the
    required set — sorted-set equality after aggregation, no per-row loops."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
                "types_csv"
            )
        )
        .filter(F.col("types_csv") == "click,error,purchase,signup,view")
    )


def f8_surviving_orders(spark, sf_dir):
    """F8 (main.py:224-227): drop parents with zero surviving children —
    left-semi join, no aggregation needed."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return o.join(l, o.o_orderkey == l.l_orderkey, "left_semi").select(
        "o_orderkey", "o_orderstatus"
    )


def o2_deterministic_limit(spark, sf_dir):
    """F9/O1/O2 (main.py:377-379): the reference truncates a *set*
    (nondeterministic); we define order first — orderBy + limit."""
    return (
        _t(spark, sf_dir, "customer")
        .orderBy("c_custkey")
        .limit(5)
        .select("c_custkey", "c_name")
    )


def p5_dct_coalesce(spark, sf_dir):
    """P5/C12/C14 (main.py:437-445 + wikipedia_utils.py:94): DCT selection —
    coalesce of an absent JSON field with the formatted event time — plus
    C12 JSON field extraction with cast (former c12_json_extract entry,
    folded in by the round-3 catalog trim)."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.coalesce(
            F.get_json_object("props", "$.missing"),
            F.date_format("ts", "yyyy-MM-dd"),
        ).alias("dct"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


def j3_fanout_collect(spark, sf_dir):
    """J3/A6 (pilot_utils.py:319-324, xml_utils.py:45-84): fan out a key to
    its parallel rows and re-pack as a sorted list per parent."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.concat_ws(":", F.col("l_linenumber").cast("string"), "l_returnflag").alias(
            "item"
        ),
    )
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey")
        .agg(F.array_join(F.sort_array(F.collect_list("item")), ",").alias("items_csv"))
    )


def j5_rewrite_union(spark, sf_dir):
    """J5/E1 (xml_utils.py:350-408): append new refs not already present —
    array_union (dup guard xml_utils.py:396-398 = distinct semantics)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_returnflag").alias("modes"))
        .select(
            "l_orderkey",
            F.array_join(
                F.array_sort(F.array_union("modes", F.array(F.lit("AIR")))), ","
            ).alias("modes_csv"),
        )
    )


def j8_semi_join(spark, sf_dir):
    """J8/E4 (xml_utils.py:437-447): membership against a URI set —
    left-semi join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1995)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


def w2_sequence_expand(spark, sf_dir):
    """W2 (xml_utils.py:261-274): inclusive id-range expansion —
    explode(sequence(begin, end)); checked against the closed form."""
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", F.explode(F.sequence(F.lit(1), "l_linenumber")).alias("tid"))
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_expanded"))
    )


def c2_url_encode(spark, sf_dir):
    """C2/P2 (wikipedia_utils.py:35-54): percent-encoding — the one scalar
    Spark lacks as a builtin pre-3.4-semantics; vectorized pandas UDF over
    Arrow batches (never a row-at-a-time Python UDF)."""
    from pyspark.sql.functions import pandas_udf

    def _qp(s):
        from urllib.parse import quote_plus as qp

        return s.map(lambda x: qp(x) if x is not None else None)

    quote_plus = pandas_udf(_qp, "string")
    return _t(spark, sf_dir, "part").select(
        "p_partkey", quote_plus(F.col("p_name")).alias("enc")
    )


def f5f6f7_crawl_filters(spark, sf_dir):
    """F5/F6/F7 (crawl_utils.py:120-126, 185-204): the crawl-validation
    filter pack — URL prefix, excluded domains, accepted languages, illegal
    substrings, char-count range, title checks — as ONE chained predicate
    over the scan (all codegen'd; at scale these prune before any shuffle).

    Status semantics mirror the reference's sequential overwrites exactly:
    'excluded domain' beats 'not a valid url' (crawl_utils.py:120-126 runs
    both), the crawl guard skips content validations for invalid URLs, and
    within the validation block the LAST failing check wins
    (crawl_utils.py:185-204 overwrites status unconditionally) — hence the
    reversed WHEN order below."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("http://"), F.col("source"), F.lit(".example.org/doc/"),
        F.col("doc_id").cast("string"),
    )
    title = F.substring_index("text", " ", 3)
    status = (
        F.when(
            url.contains("src7.example.org") | url.contains("src13.example.org"),
            "excluded domain",
        )
        .when(~url.startswith("http"), "not a valid url")
        .when(title.contains("q"), "illegal char in title")
        .when(
            ~F.length("text").between(100, 499),
            "outside of accepted number of characters range",
        )
        .when(F.col("text").contains("slow fast table"), "illegal substring")
        .when(~F.col("lang").isin("en", "es", "de"), "not in accepted languages")
        .otherwise("succes")
    )
    return d.select("doc_id", status.alias("status"))


def a9_crawl_status_tally(spark, sf_dir):
    """A9 (main.py crawl bookkeeping): status counter over the validation
    pack — one partial+final agg over f5f6f7's statuses."""
    return (
        f5f6f7_crawl_filters(spark, sf_dir)
        .groupBy("status")
        .agg(F.count("*").alias("n"))
    )


def embed_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: all (a<b) pairs above a cosine
    threshold — brute within a bounded id range (the verification tier of a
    near-dup pipeline; production path buckets by LSH first, see
    ann_lsh_bucketed)."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300).select(
        "vec_id", similarity._as_double("embedding").alias("v")
    )
    a = e.select(F.col("vec_id").alias("a_id"), F.col("v").alias("av"))
    b = e.select(F.col("vec_id").alias("b_id"), F.col("v").alias("bv"))
    return (
        F.broadcast(a)
        .join(b, F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(similarity.cosine(F.col("av"), F.col("bv")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= 0.3)
    )


def canonicalize_components(spark, sf_dir):
    """A7 generalized / north-star canonicalization: connected components by
    iterative label propagation (J10 machinery) over a similarity graph —
    near-duplicate clusters of documents with token-Jaccard >= 0.9.

    Scale path end-to-end: candidate edges come from the bucketed MinHash
    LSH join and exact Jaccard is verified ONLY on candidates
    (jaccard_on_candidates) — the token self-join never appears in this
    plan. Oracle mirrors the same candidates+verify pipeline, then a
    recursive-CTE closure + min per vertex."""
    from .operators.canonicalize import connected_components

    docs = _t(spark, sf_dir, "documents")
    cand = text_dedup.minhash_candidate_pairs(docs)
    edges = text_dedup.jaccard_on_candidates(docs, cand, 0.9)
    return connected_components(edges, src="a_id", dst="b_id").select(
        F.col("vertex").cast("long").alias("vertex"),
        F.col("component").cast("long").alias("component"),
    )


def w4_sequential_match(spark, sf_dir):
    """W4 (old_scripts/enrich_pilot_data.py:26-53): greedy left-to-right
    stateful sequence matching — inherently sequential within a group,
    parallel across groups: applyInPandas per user over time-ordered events,
    counting non-overlapping view->click->purchase subsequences."""
    import pandas as pd

    pattern = ["view", "click", "purchase"]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        pos, matches = 0, 0
        for et in pdf["event_type"]:
            if et == pattern[pos]:
                pos += 1
                if pos == len(pattern):
                    matches += 1
                    pos = 0
        return pd.DataFrame(
            {"user_id": [pdf["user_id"].iloc[0]], "n_matches": [matches]}
        )

    return (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandas(kernel, "user_id long, n_matches long")
    )


# --- training-data-pipeline operators ---------------------------------------


def dedup_exact(spark, sf_dir):
    return text_dedup.exact_dedup(_t(spark, sf_dir, "documents"))


def dedup_minhash_sig(spark, sf_dir):
    return text_dedup.minhash_band_signatures(_t(spark, sf_dir, "documents"))


def dedup_minhash_pairs(spark, sf_dir):
    return text_dedup.minhash_candidate_pairs(
        _t(spark, sf_dir, "documents")
    ).agg(F.count("*").alias("n_candidate_pairs"))


def dedup_simhash(spark, sf_dir):
    return text_dedup.simhash(_t(spark, sf_dir, "documents")).select(
        "doc_id", "simhash"
    )


def dedup_simhash_pairs(spark, sf_dir):
    return text_dedup.simhash_pairs(_t(spark, sf_dir, "documents"), 3)


def knn_cosine(spark, sf_dir):
    return similarity.brute_force_topk(
        _t(spark, sf_dir, "embeddings"), k=5, query_pred=F.col("query_id") < 20
    )


def ann_lsh_bucketed(spark, sf_dir):
    """Seeded random-projection LSH ANN at catalog defaults (r4 retune:
    1 projection bit on this isotropic driver corpus — recall@3 0.59-0.63
    vs brute force, see similarity module docstring + BENCH/BASELINE.md
    'ANN recall'; the oracle embeds the same seeded weight literals)."""
    return similarity.lsh_bucketed_topk(
        _t(spark, sf_dir, "embeddings"), k=3, query_pred=F.col("query_id") < 50
    ).select("query_id", "neighbor_id", "bucket", "sim")


def ann_multiprobe(spark, sf_dir):
    """Multi-probe LSH ANN (similarity.multiprobe_lsh_topk): the query's
    bucket plus its single-bit-flip neighbor buckets, one equi-join on
    the probed key. R4 defaults: 3 seeded projection bits, full Hamming-1
    probing — recall@3 0.63-0.69 vs brute force (BENCH/BASELINE.md)."""
    return similarity.multiprobe_lsh_topk(
        _t(spark, sf_dir, "embeddings"), k=3,
        query_pred=F.col("query_id") < 50,
    )


def ann_ivf(spark, sf_dir):
    """k-means IVF ANN — the best-recall tier (recall@3 0.79-0.85 at
    probe 4 on trained centroids, BENCH/BASELINE.md) gets a driver
    CORRECTNESS row (round-4 verdict "What's missing" #1): the
    unsupervised Lloyd trainer (similarity.kmeans_centroids — fully
    deterministic: first-k-by-vec_id init, fixed iterations, no RNG) is
    unrolled into DuckDB CTEs in the oracle, one CTE pair per Lloyd round,
    exactly like _rp_bucket_sql mirrors the seeded projections.
    ``round_to=9`` pins the per-cell means cross-engine (float summation
    order differs between Spark partial aggs and DuckDB's scan; 9-decimal
    rounding wipes the ulp). Entry knobs sized to the 500-vector sf0.01
    driver corpus: k=8 cells, 2 Lloyd rounds, 2 probes."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, k=8, n_iters=2, round_to=9)
    return similarity.ivf_topk(
        emb, cents, k=3, query_pred=F.col("query_id") < 50, n_probe=2
    )


def lang_id_profile(spark, sf_dir):
    return text_analysis.profile_id(_t(spark, sf_dir, "documents"))


def quality_score(spark, sf_dir):
    return text_analysis.quality_score(_t(spark, sf_dir, "documents"))


def token_count(spark, sf_dir):
    return text_analysis.token_counts(_t(spark, sf_dir, "documents"))


def pii_redact(spark, sf_dir):
    """PII redaction (curation.redact_pii). The synthetic corpus carries
    no PII, so the probe appends deterministic doc_id-derived spans (one
    email, one IPv4, one phone-shaped number per document) before
    redacting; the oracle builds the identical augmented column, so the
    hash checks both the redacted text and the per-class match counts."""
    from .operators import curation

    d = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.2."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return curation.redact_pii(d.select("doc_id", aug.alias("text")))


def repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals (curation.repetition_stats):
    duplicate-word fraction + most-frequent bigram/trigram mass, pure
    array expressions — the word-salad corpus gives every doc a
    non-trivial profile."""
    from .operators import curation

    return curation.repetition_stats(_t(spark, sf_dir, "documents"))


def decontaminate(spark, sf_dir):
    """Benchmark decontamination (curation.ngram_decontaminate): docs
    with doc_id % 10 == 0 play the eval set; the remaining 90% of the
    corpus is flagged when it shares any 4-gram with it (4 chosen so the
    sf0.01 corpus splits ~75 contaminated / ~375 clean — measured). The
    eval fingerprints are broadcast; the corpus side is one explode +
    one partial-agg count."""
    from .operators import curation

    d = _t(spark, sf_dir, "documents")
    return curation.ngram_decontaminate(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
        n=4,
    )


def chunk_docs(spark, sf_dir):
    """Sliding-window chunking (training_prep.chunk_documents): 24-token
    windows with 8-token overlap over the ~30-80-token synthetic docs —
    every doc emits 2-5 chunks, exercising both full and short tails."""
    from .operators import training_prep

    return training_prep.chunk_documents(
        _t(spark, sf_dir, "documents"), size=24, overlap=8
    )


def pack_boundary(spark, sf_dir):
    """GPT-style boundary-split packing (training_prep.pack_sequences,
    budget 256): the doc_id-ordered corpus token stream cut every 256
    tokens; the distributed two-phase prefix sum is hash-checked against
    the oracle's plain window cumsum — bucketing must not change the
    arithmetic."""
    from .operators import training_prep

    return training_prep.pack_sequences(
        _t(spark, sf_dir, "documents"), budget=256, bucket_width=64
    )


def pack_firstfit(spark, sf_dir):
    """SFT-style no-split greedy packing (training_prep.pack_greedy,
    budget 128, 8 partitions): sequential first-fit-next per partition
    inside one applyInPandas group; the DuckDB twin replays the identical
    fold as a recursive CTE."""
    from .operators import training_prep

    return training_prep.pack_greedy(
        _t(spark, sf_dir, "documents"), budget=128, n_parts=8
    )


# Mixture spec for the mixture_weighted entry — sources are the synthetic
# corpus's domains; rates chosen to exercise keep-all-but-clamp (1.2),
# mid rates, and the default for the unlisted remainder.
MIXTURE_RATES = {"src0": 0.5, "src1": 1.2, "src2": 0.25}
MIXTURE_SEED = "mix_r5"
MIXTURE_DEFAULT = 0.1


def mixture_weighted(spark, sf_dir):
    """Deterministic data-mixture sampling (training_prep.mixture_sample):
    per-source Bernoulli keep via the first 8 md5 hex digits of
    seed:doc_id — the oracle recomputes the identical coin, so the kept
    set hash-matches exactly (no RNG anywhere)."""
    from .operators import training_prep

    return training_prep.mixture_sample(
        _t(spark, sf_dir, "documents"), MIXTURE_RATES,
        seed=MIXTURE_SEED, default_rate=MIXTURE_DEFAULT,
    )


def sample_exact(spark, sf_dir):
    """Deterministic exact-size sample (training_prep.sample_exact_n,
    n=100): the 100 lowest md5-coin docs — the oracle recomputes the same
    coin and ORDER BY ... LIMIT, so the sampled set hash-matches."""
    from .operators import training_prep

    return training_prep.sample_exact_n(
        _t(spark, sf_dir, "documents"), n=100, seed=MIXTURE_SEED
    )


def dup_spans(spark, sf_dir):
    """ExactSubstr-style duplicate-span statistics
    (text_dedup.duplicate_span_stats, n=4): per-document count/fraction
    of 4-token windows whose exact text occurs more than once anywhere
    in the corpus (Lee et al. 2022 substring-level dedup, the granularity
    the document-level minhash/simhash entries cannot see). n=4 matches
    the decontaminate entry: the ~20-word synthetic vocabulary makes
    4-gram birthday collisions common enough for a non-trivial profile."""
    from .operators import text_dedup

    return text_dedup.duplicate_span_stats(
        _t(spark, sf_dir, "documents"), n=4
    )


def dup_span_removal(spark, sf_dir):
    """ExactSubstr removal (text_dedup.remove_duplicate_spans, n=4): the
    transform tier of dup_spans — every token covered by a non-first
    occurrence of a duplicated 4-token window is removed; the globally
    first (min (doc_id,pos)) occurrence keeps its copy. Oracle rebuilds
    the same winner election from the scalar occurrence key."""
    from .operators import text_dedup

    return text_dedup.remove_duplicate_spans(
        _t(spark, sf_dir, "documents"), n=4
    )


def vocab_build(spark, sf_dir):
    """Corpus vocabulary with deterministic frequency-ranked ids
    (text_analysis.build_vocab, min_count 2): the ranking is the
    distributed zipWithIndex (range partition + per-partition local index
    + broadcast prefix offsets) and must hash-match the oracle's plain
    row_number — proving the distributed rank IS the global rank."""
    from .operators import text_analysis

    return text_analysis.build_vocab(_t(spark, sf_dir, "documents"),
                                     min_count=2)


def dedup_neardup_keep(spark, sf_dir):
    """NearDup document dedup end-to-end (text_dedup.neardup_keep,
    Jaccard >= 0.9): MinHash-LSH candidates -> exact Jaccard on candidates
    -> connected components -> one surviving canonical doc per cluster
    with its cluster size — the keep-one materialization tier above
    canonicalize_components' cluster labels. Oracle replays the identical
    candidates+verify+closure pipeline and the same min-doc_id election.
    Recall semantics: candidates are 3-word-shingle MinHash (order-
    sensitive); dedup_prefix_pairs is the lossless 1-gram-set
    alternative (see its docstring for the measured gap)."""
    from .operators import text_dedup

    return text_dedup.neardup_keep(_t(spark, sf_dir, "documents"), 0.9)


def unigram_quality(spark, sf_dir):
    """CCNet-style unigram-LM quality scoring (curation.unigram_logprob):
    mean negative log-probability of each document's tokens under the
    corpus's own unigram distribution — the perplexity-bucket curation
    signal. Per-token nll is integer micro-nats so the per-doc sum is
    exact and the DuckDB twin hash-matches bit-for-bit."""
    from .operators import curation

    return curation.unigram_logprob(_t(spark, sf_dir, "documents"))


def sample_stratified(spark, sf_dir):
    """Per-stratum exact-size sampling (training_prep.sample_stratified,
    10 docs per source): the 10 lowest-md5-coin docs within each source
    (the sf0.01 strata hold 25, so the cap binds) —
    the per-source-cap sampler mixture specs actually state. The salted
    two-phase per-group top-k must hash-match the oracle's plain QUALIFY
    row_number, proving the skew-safe salting is execution-only."""
    from .operators import training_prep

    return training_prep.sample_stratified(
        _t(spark, sf_dir, "documents"), 10, seed=MIXTURE_SEED)


def hll_token_distinct(spark, sf_dir):
    """HyperLogLog distinct-token estimate per language
    (text_analysis.hll_distinct, m=64): the cardinality-sketch tier for
    100 TB columns — one max-agg over 64 registers per group instead of a
    full distinct shuffle. Fully deterministic (integer register path,
    exact dyadic indicator sum), so the estimate — and its reported error
    vs the exact count — hash-matches the DuckDB twin bit-for-bit."""
    from .operators import text_analysis

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(F.filter(F.split("text", " "), lambda x: x != ""))
         .alias("token"),
    )
    return text_analysis.hll_distinct(toks, "lang", "token")


def cms_hot_tokens(spark, sf_dir):
    """Count-Min-sketch heavy hitters (text_analysis.cms_heavy_hitters,
    d=4 x w=512, top-20): the hot-key detector every skew treatment
    needs — est/exact/overestimate per candidate token, all exact
    integers, the deterministic-tie-break cut hash-matched against the
    DuckDB twin. Candidates are occurrence-sampled on (doc_id, token)
    coins so true heavies are caught w.h.p."""
    from .operators import text_analysis

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != ""))
         .alias("token"),
    )
    return text_analysis.cms_heavy_hitters(
        toks, "token", sample_key_cols=("doc_id",))


def quantile_doclen(spark, sf_dir):
    """Power-of-two histogram quantile sketch
    (text_analysis.log2_histogram_quantiles): p50/p90/p99 of per-document
    token counts per language without a global sort — the exchange
    carries ≤ 63 buckets per group regardless of corpus size. Estimate,
    exact (computed alongside for the error report) and rel_err all
    hash-match the DuckDB twin bit-for-bit."""
    from .operators import text_analysis

    d = _t(spark, sf_dir, "documents")
    lens = d.select(
        "lang",
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
         .alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)  # operator raises on <= 0 by contract
    return text_analysis.log2_histogram_quantiles(lens, "lang", "n_tokens")


def dedup_prefix_pairs(spark, sf_dir):
    """Exact prefix-filtered near-dup pairs
    (text_dedup.prefix_filter_pairs, Jaccard >= 0.9): the LOSSLESS
    candidate path — every qualifying pair is found (no LSH band
    misses), candidates come from an equi-join on the rare-first ~10%
    prefix of each token set. Same output contract as
    dedup_minhash_pairs' verified tier."""
    from .operators import text_dedup

    return text_dedup.prefix_filter_pairs(
        _t(spark, sf_dir, "documents"), 0.9)


def bloom_semijoin(spark, sf_dir):
    """Bloom semi-join reduction report (operators/bloom.py): a 4096-bit
    k=5 filter over the selective dimension (parts with p_size <= 5, ~10%)
    probes every lineitem row; the one-row report accounts exactly —
    n_pass >= n_member always (no false negatives), n_false_pos is the
    sketch's price. All-integer md5 bit mechanics, so the DuckDB twin
    hash-matches bit-for-bit."""
    from .operators import bloom

    part = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    li = _t(spark, sf_dir, "lineitem")
    return bloom.bloom_semijoin_report(li, "l_partkey", part, "p_partkey")


# Fixed probe query for the bm25_rank entry — the oracle SQL is generated
# from the SAME list, so term order (float-sum order) matches by
# construction. Terms chosen for spread: 'spark' is mid-frequency,
# 'window' high, 'merge' low in the synthetic vocabulary.
BM25_QUERY = ["spark", "window", "merge"]


def bm25_rank(spark, sf_dir):
    """Okapi BM25 top-k retrieval over documents (LLM-curation ranked
    keyword probe). Map-only tf via array expressions, one broadcast
    stats row, TakeOrdered top-k — no explode, no per-term shuffle."""
    from .operators import retrieval

    return retrieval.bm25_topk(
        _t(spark, sf_dir, "documents"), BM25_QUERY, k=20
    )


def embed_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization of the embeddings table
    (similarity.quantize_embeddings): the 4x-smaller storage tier with
    per-vector scale + exact BIGINT quantized norm. Map-only array
    expressions; bit-exact DuckDB mirror (one float divide + ties-away
    round, then all-integer)."""
    return similarity.quantize_embeddings(_t(spark, sf_dir, "embeddings"))


def ann_quantized(spark, sf_dir):
    """Top-k cosine in the int8 quantized space (similarity.
    quantized_topk): scales cancel out of cosine, dots are
    integer-exact, only the final sqrt/divide/round is float."""
    return similarity.quantized_topk(
        _t(spark, sf_dir, "embeddings"), k=5,
        query_pred=F.col("query_id") < 20,
    )


def rrf_hybrid_rank(spark, sf_dir):
    """Reciprocal-rank fusion (operators/retrieval.rrf_fuse) of two
    incomparable rankers — BM25 topical relevance (top-50 for the probe
    query) and the lexical quality prior (top-50 by quality_score) —
    into one top-20: the LLM-curation hybrid that needs no score
    calibration because RRF consumes only ranks. Both inputs are
    TakeOrdered candidate lists, so the per-system rank windows run over
    ≤50 rows."""
    from .operators import retrieval

    docs = _t(spark, sf_dir, "documents")
    bm = retrieval.bm25_topk(docs, BM25_QUERY, k=50)
    qual = (
        text_analysis.quality_score(docs)
        .orderBy(F.desc("quality"), "doc_id")
        .limit(50)
    )
    return retrieval.rrf_fuse(
        [(bm, "score"), (qual, "quality")], k=20
    )


def fingerprint(spark, sf_dir):
    return text_analysis.fingerprint(_t(spark, sf_dir, "documents"))


def multimodal_meta(spark, sf_dir):
    return multimodal.decode_features(
        multimodal.to_binary_table(_t(spark, sf_dir, "documents"))
    )


def multimodal_frames(spark, sf_dir):
    """Frame sampling over binary payloads (video-pipeline plumbing):
    UDTF-shaped mapInPandas, deterministic md5 frame fingerprints."""
    return multimodal.frame_sample(
        multimodal.to_binary_table(_t(spark, sf_dir, "documents"))
    )


def multimodal_resize(spark, sf_dir):
    """REAL codec-free image resize (round 5 — the former env-limited
    stub): deterministic 16x12 raw-RGB frames (md5-pattern payloads) ->
    8x8 nearest-neighbor via the numpy mapInPandas kernel
    (operators/multimodal.resize_images). The payload is built from md5
    hexdigest ASCII bytes, so the DuckDB oracle reproduces the EXACT
    resized bytes with VARCHAR substring arithmetic and the comparison is
    a full value hash, not plumbing-only."""
    t = multimodal.to_raw_image_table(
        _t(spark, sf_dir, "documents"), width=16, height=12
    )
    r = multimodal.resize_images(t, target=(8, 8))
    return r.select(
        "doc_id", "width", "height", F.md5("payload").alias("payload_md5")
    )


def mention_link_rank(spark, sf_dir):
    """North-star steps 3-4 on the driver tables: gazetteer mention
    detection + candidate-ranked entity linking (KG-corpus twin with exact
    oracle parity lives in operators/gazetteer.py + tests/test_parity.py).

    Shape: (1) documents tokenize to positioned bigram surfaces (one
    tokens-sized window, partitioned by doc); (2) a surface dictionary with
    per-candidate priors is built from the knowledge-base subset
    (doc_id % 7 == 0) — dimension-sized, broadcast-able; (3) detection is
    an equi-join of all docs' bigrams against the dictionary (shuffle on
    the surface key, never scan-per-pattern); (4) candidates are ranked by
    row_number() over (mention, order by prior desc, cand) and capped at
    top-2. No step is quadratic in corpus size."""
    # r6: positioned bigrams are generated MAP-SIDE from the split array
    # (struct(pos, arr[i] || ' ' || arr[i+1]) over an index sequence) —
    # the old posexplode + lead() window shuffled and sorted the entire
    # token table by (doc_id, pos) just to pair adjacent tokens. A doc
    # with < 2 tokens yields NULL, which explode drops (the lead() filter
    # did the same). The doc rows are re-clustered with an AQE-SIZED
    # repartition (no explicit count — unlike the signature ops' _spread,
    # the per-byte map work here is light, and A/B at both sf0.1 and
    # sf1.0 measured the data-sized exchange fastest: 1.79 -> 1.4 s and
    # 4.3 -> 3.1 s) so the kb/probe branches share one exchange and the
    # stage count follows the corpus size.
    d = _t(spark, sf_dir, "documents").repartition(F.col("doc_id"))
    toks = F.split("text", " ")
    n_toks = F.size(toks)
    # bigrams = zip each token with its successor (shifted slice), drop
    # the last pairing; per-element indexing (F.get) would re-evaluate
    # the split per element — zip_with touches the array per row only
    surfaces = F.slice(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(n_toks - 1, F.lit(0))),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
        1,
        F.greatest(n_toks - 1, F.lit(0)),
    )
    bigrams = d.select(
        "doc_id", "source", F.posexplode(surfaces).alias("pos", "surface")
    ).select(
        "doc_id", "source", F.col("pos").cast("long").alias("pos"), "surface"
    )
    kb = bigrams.filter(F.col("doc_id") % 7 == 0).select(
        "surface", "source", "doc_id"
    ).distinct()
    df_src = kb.groupBy("surface", "source").agg(F.count("*").alias("df_src"))
    df_all = kb.groupBy("surface").agg(F.count("*").alias("df_all"))
    gaz = df_src.join(df_all, "surface").select(
        "surface",
        F.col("source").alias("cand"),
        F.round(F.col("df_src") / F.col("df_all"), 6).alias("prior"),
    )
    # r6: a mention's candidate ranking depends ONLY on its surface — the
    # row_number order (prior desc, cand asc) is a per-surface total
    # order, identical for every (doc_id, pos) with that surface — so the
    # top-2 cap and the rank value are computed in the DIMENSION (one
    # window over the gazetteer) and attached by the same broadcast join.
    # The old shape joined all candidates first (measured 53.4M rows at
    # sf1.0, a 20x fanout of the bigram table) and ranked them with a
    # window that shuffled the whole fanout by (doc_id, pos).
    w = Window.partitionBy("surface").orderBy(F.desc("prior"), F.asc("cand"))
    gaz_top = (
        gaz.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 2)
    )
    return (
        bigrams.select("doc_id", "pos", "surface")
        .join(F.broadcast(gaz_top), "surface")
        .select("doc_id", "pos", "surface", "cand", "prior", "rank")
    )


def sparql_bgp(spark, sf_dir):
    """SPARQL BGP query layer over the K3 triple store (operators/bgp.py —
    the query-side complement of reference utils.py:33-83, which BUILDS
    SPARQL against Wikidata; here the constructed KG itself is queryable):
    actors with both a late-January 'error' and a 'signup' event, plus
    (OPTIONAL, SPARQL left-join) the same actor's month-end 'purchase'
    events. Five required patterns compile to filtered scans + equi-joins
    on the shared ?ev/?actor/?s variables (constant terms reach the scan
    as pushed filters, AQE broadcasts the selective sides); the FILTER on
    ?etime is a post-join predicate Catalyst pushes back to the timestamp
    pattern's scan side; the FILTER on ?ptime is scoped INSIDE the
    OPTIONAL group (SPARQL filter-scope rule — actors with no month-end
    purchase keep their row, ev2/ptime null; top-level placement would
    silently turn the left join inner). Oracle = the same self-joins +
    LEFT JOIN over the triples_events CTE with the purchase filter in the
    optional CTE's WHERE."""
    from .operators import bgp

    return bgp.bgp_match(
        triples_events(spark, sf_dir),
        [
            ("?ev", "rdfs:label", "error"),
            ("?ev", "sem:hasActor", "?actor"),
            ("?ev", "sem:hasTimeStamp", "?etime"),
            ("?s", "rdfs:label", "signup"),
            ("?s", "sem:hasActor", "?actor"),
        ],
        optional=[{
            "patterns": [
                ("?ev2", "rdfs:label", "purchase"),
                ("?ev2", "sem:hasActor", "?actor"),
                ("?ev2", "sem:hasTimeStamp", "?ptime"),
            ],
            "filters": ["ptime >= '2024-01-28'"],
        }],
        filters=["etime >= '2024-01-20'"],
    )


def _cs_pairs_int(spark, sf_dir):
    """customer↔supplier co-transaction pairs with BIGINT node ids
    (customer k → 2k, supplier k → 2k+1) — r6, guide §2.3 "narrower
    types": the per-round joins/aggs of the iterative graph operators
    shuffle and compare 8-byte ints instead of "c123"-style strings
    (measured 1.5× on pagerank at sf0.1, output bit-identical after
    :func:`_cs_node_str` decodes the ids back). Only valid for operators
    whose results are invariant under the relabeling — pagerank/PPR
    (equality joins + integer arithmetic only); NOT for LPA/connected
    components, whose min-label tie-breaks depend on string ordering."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )


def _cs_node_str(col):
    """Decode _cs_pairs_int ids back to the catalog's "c<k>"/"s<k>"
    surface — exactly the strings the pre-r6 entries emitted."""
    return F.when(
        col % 2 == 0, F.concat(F.lit("c"), (col / F.lit(2)).cast("long").cast("string"))
    ).otherwise(
        F.concat(F.lit("s"), ((col - 1) / F.lit(2)).cast("long").cast("string"))
    )


def graph_pagerank(spark, sf_dir):
    """Fixed-point PageRank (operators/graph.py; 5 iterations, d = 85/100
    exact) over the symmetrized customer↔supplier co-transaction graph
    (orders ⋈ lineitem). Ranks are BIGINT 1e-12 units with integer
    division everywhere, so the unrolled-CTE DuckDB oracle matches
    bit-for-bit — the exact-arithmetic sibling of ann_ivf's round_to
    pinning (zero float-summation-order risk). r6: the iteration runs on
    BIGINT node ids (_cs_pairs_int); the "c…"/"s…" strings are
    reconstructed only in the final projection — ranks are invariant
    under the relabeling, so the oracle hash is unchanged."""
    from .operators import graph

    ranks = graph.pagerank(graph.symmetrize(_cs_pairs_int(spark, sf_dir)),
                           n_iters=5)
    return ranks.select(_cs_node_str(F.col("node")).alias("node"), "rank_e12")


def graph_ppr(spark, sf_dir):
    """Personalized PageRank (graph.personalized_pagerank, 5 iterations):
    teleport mass returns only to the seed cohort — customers of nation 0
    — so ranks measure proximity to that cohort through the
    customer↔supplier co-transaction graph (the entity-centric relevance
    a KG serves). Same BIGINT fixed-point discipline as graph_pagerank;
    the unrolled-CTE oracle matches bit-for-bit. r6: BIGINT node ids
    in-flight (_cs_pairs_int), strings reconstructed at the end — rank
    values are relabeling-invariant."""
    from .operators import graph

    seeds = _t(spark, sf_dir, "customer").filter(
        F.col("c_nationkey") == 0
    ).select((F.col("c_custkey") * 2).alias("node"))
    ranks = graph.personalized_pagerank(
        graph.symmetrize(_cs_pairs_int(spark, sf_dir)), seeds, n_iters=5)
    return ranks.select(_cs_node_str(F.col("node")).alias("node"), "rank_e12")


def rollup_stats(spark, sf_dir):
    """Grouping-sets aggregation (the A/O-family member not yet shown):
    ROLLUP over (lang, source) computes per-(lang, source) doc counts +
    token sums, per-lang subtotals, and the grand total in ONE aggregate
    pass — Spark expands the grouping sets inside a single HashAggregate
    instead of self-unioning three scans; the oracle is DuckDB's
    GROUP BY ROLLUP verbatim (NULL-filled subtotal rows match)."""
    d = _t(spark, sf_dir, "documents")
    return d.rollup("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        ).cast("long").alias("n_tokens"),
    )


PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


def pivot_lang_matrix(spark, sf_dir):
    """Pivot (the reshape family): source × language doc-count matrix via
    groupBy(source).pivot(lang, [explicit values]).count() — the explicit
    value list keeps the schema static (no extra distinct-scan job) and
    matches the oracle's conditional-aggregation spelling column for
    column. The inverse unpivot/melt roundtrip is pinned by unit test."""
    d = _t(spark, sf_dir, "documents")
    p = (
        d.groupBy("source")
        .pivot("lang", PIVOT_LANGS)
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "source",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
          for c in PIVOT_LANGS],
    )


def zorder_layout(spark, sf_dir):
    """Z-order layout keys (functions/layout.morton_interleave): the
    Morton key over (c_nationkey, floor(c_acctbal) bucketed to 16 bits)
    per customer — the Delta/Iceberg OPTIMIZE-ZORDER clustering key that
    lets min/max file stats prune BOTH dimensions of a range-partitioned
    layout. Pure unrolled bit arithmetic; the oracle recomputes the
    identical interleave, so keys match bit-for-bit (the reproducibility
    a layout key needs or compaction re-clusters forever)."""
    from .functions.layout import morton_interleave

    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        morton_interleave(
            F.col("c_nationkey"),
            F.floor(F.col("c_acctbal")).cast("long"),
        ).alias("zkey"),
    )


def kmv_lang_overlap(spark, sf_dir):
    """KMV / theta-sketch set-operation estimates
    (text_analysis.kmv_overlap, k=16): estimated union size, Jaccard and
    intersection of the en-vs-de token sets from two 16-hash sketches —
    the overlap question HLL cannot answer (HLL unions, never
    intersects). Exact figures computed alongside for the error report;
    deterministic integer hashes + identical expression trees make the
    estimates hash-match the DuckDB twin."""
    from .operators import text_analysis

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(F.filter(F.split("text", " "), lambda x: x != ""))
         .alias("token"),
    )
    return text_analysis.kmv_overlap(toks, "lang", "token", "en", "de",
                                     k=16)


def sparql_union(spark, sf_dir):
    """SPARQL UNION over the K3 triple store (operators/bgp.bgp_union):
    month-end 'error' events (with timestamp) ∪ all 'signup' events
    (no timestamp pattern — ?etime comes back null, SPARQL's unbound).
    Each branch compiles independently (own pushed filters + join
    strategy); the union is a shuffle-free unionByName. Oracle = UNION
    ALL with a typed NULL column in the signup branch."""
    from .operators import bgp

    return bgp.bgp_union(
        triples_events(spark, sf_dir),
        [
            {
                "patterns": [
                    ("?ev", "rdfs:label", "error"),
                    ("?ev", "sem:hasActor", "?actor"),
                    ("?ev", "sem:hasTimeStamp", "?etime"),
                ],
                "filters": ["etime >= '2024-01-30'"],
            },
            {
                "patterns": [
                    ("?ev", "rdfs:label", "signup"),
                    ("?ev", "sem:hasActor", "?actor"),
                ]
            },
        ],
    )


def sparql_construct(spark, sf_dir):
    """SPARQL CONSTRUCT over the K3 store (operators/bgp.bgp_construct):
    rewrite late-January error events into a compact 'flagged' graph —
    per (error event, actor) solution emit (actor, ex:flagged, ev) and
    (ev, ex:status, error). CONSTRUCT output is an RDF graph, so the
    result is DISTINCT (the one spot SPARQL's bag semantics flips to
    set). Oracle = the same join + UNION + DISTINCT in SQL."""
    from .operators import bgp

    return bgp.bgp_construct(
        triples_events(spark, sf_dir),
        template=[
            ("?actor", "ex:flagged", "?ev"),
            ("?ev", "ex:status", "error"),
        ],
        patterns=[
            ("?ev", "rdfs:label", "error"),
            ("?ev", "sem:hasActor", "?actor"),
            ("?ev", "sem:hasTimeStamp", "?etime"),
        ],
        filters=["etime >= '2024-01-20'"],
    )


def sparql_agg(spark, sf_dir):
    """SPARQL GROUP BY + aggregates + HAVING over the K3 store: per actor,
    the error-event count and latest error timestamp, keeping actors with
    at least two errors. One shuffle on the grouping variable with
    map-side partial aggregation; HAVING is a post-agg filter. Oracle =
    the same join + GROUP BY + HAVING in SQL."""
    from .operators import bgp

    return bgp.bgp_match(
        triples_events(spark, sf_dir),
        patterns=[
            ("?ev", "rdfs:label", "error"),
            ("?ev", "sem:hasActor", "?actor"),
            ("?ev", "sem:hasTimeStamp", "?etime"),
        ],
        group_by=["?actor"],
        aggregates={"n_errors": "count(ev)", "latest": "max(etime)"},
        having=["n_errors >= 2"],
    )


def sparql_minus(spark, sf_dir):
    """SPARQL MINUS over the K3 store: error events whose actor did NOT
    sign up in the opening days of the window (the date filter is scoped
    inside the negation group, same scoping machinery as OPTIONAL) — a
    LEFT ANTI join on the shared ?actor variable (AQE broadcasts the
    filtered signup side). Oracle = the same ANTI JOIN in SQL."""
    from .operators import bgp

    return bgp.bgp_match(
        triples_events(spark, sf_dir),
        patterns=[
            ("?ev", "rdfs:label", "error"),
            ("?ev", "sem:hasActor", "?actor"),
        ],
        minus=[{
            "patterns": [
                ("?s", "rdfs:label", "signup"),
                ("?s", "sem:hasActor", "?actor"),
                ("?s", "sem:hasTimeStamp", "?stime"),
            ],
            "filters": ["stime < '2024-01-03'"],
        }],
    )


def sparql_describe(spark, sf_dir):
    """DESCRIBE ?actor WHERE over the K3 store: every triple touching an
    error-event actor (subject or object position). The data-dependent
    resource set compiles to two LEFT SEMI joins + set-dedup
    (operators/bgp.bgp_describe_solutions); AQE broadcasts the small
    distinct-actor side. Oracle = the same SEMI joins in SQL."""
    from .operators.sparql import sparql_query

    return sparql_query(triples_events(spark, sf_dir), """
        DESCRIBE ?actor WHERE {
            ?ev rdfs:label "error" ;
                sem:hasActor ?actor .
        }
    """)


def sparql_update_rewrite(spark, sf_dir):
    """SPARQL 1.1 Update as an immutable transform over the K3 store: a
    two-op sequence (predicate migration via DELETE/INSERT WHERE, then
    an INSERT DATA marker) returning the NEW graph. Deletions are a
    LEFT ANTI with the instantiated delete set as build side; insertions
    keep set semantics via the SEMI-probe + exceptAll plan (the store is
    never re-shuffled); lineage is truncated between ops. Oracle = the
    same anti-join / not-exists-union pipeline in SQL."""
    from .operators.sparql import sparql_update

    return sparql_update(triples_events(spark, sf_dir), """
        DELETE { ?ev sem:hasActor ?a }
        INSERT { ?ev sem:agent ?a }
        WHERE  { ?ev rdfs:label "error" ; sem:hasActor ?a } ;
        INSERT DATA { coll:events rdfs:label "migrated" }
    """)


def sparql_text(spark, sf_dir):
    """SPARQL *text* front-end (operators/sparql.py): the sparql_bgp
    query authored as the query STRING a reference user would write
    (reference utils.py:33-83 builds exactly this textual form), parsed
    and compiled to the same bgp_match plan — predicate-object lists,
    OPTIONAL with its FILTER group-scoped through the text path, and the
    top-level FILTER. Oracle = sparql_bgp's oracle verbatim (identical
    compiled semantics, identical columns)."""
    from .operators.sparql import sparql_query

    return sparql_query(triples_events(spark, sf_dir), """
        SELECT * WHERE {
            ?ev rdfs:label "error" ;
                sem:hasActor ?actor ;
                sem:hasTimeStamp ?etime .
            ?s rdfs:label "signup" ;
               sem:hasActor ?actor .
            OPTIONAL { ?ev2 rdfs:label "purchase" ;
                            sem:hasActor ?actor ;
                            sem:hasTimeStamp ?ptime .
                       FILTER(?ptime >= "2024-01-28") }
            FILTER(?etime >= "2024-01-20")
        }
    """)


def sparql_expressive(spark, sf_dir):
    """SPARQL 1.1 expressive surface in one text query
    (operators/sparql.py): a ``{ SELECT ... }`` subquery (per-actor
    signup counts, GROUP BY + COUNT) natural-joined to the outer
    error-event patterns, BIND with builtin rewrites (UCASE/CONCAT →
    upper/concat), FILTER over the bound variable plus a STRSTARTS →
    startswith rewrite, then GROUP_CONCAT with explicit separator
    (rewritten to a sorted collect_list join — the deterministic,
    oracle-checkable instantiation of SPARQL's unspecified concat order)
    and SAMPLE → min. Spark shape: the subquery is one partial-agg
    groupBy joined on ?actor; BIND is a pure projection; the outer
    aggregate is one more shuffle — no per-row Python anywhere. Oracle =
    the same subquery-join-bind-aggregate pipeline in SQL (string_agg
    ORDER BY ≡ the sorted join)."""
    from .operators.sparql import sparql_query

    return sparql_query(triples_events(spark, sf_dir), """
        SELECT ?actor ?nsign ?label
               (GROUP_CONCAT(?etime; SEPARATOR=",") AS ?times)
               (SAMPLE(?ev) AS ?anyev)
        WHERE {
            ?ev rdfs:label "error" ;
                sem:hasActor ?actor ;
                sem:hasTimeStamp ?etime .
            { SELECT ?actor (COUNT(?s) AS ?nsign)
              WHERE { ?s rdfs:label "signup" ; sem:hasActor ?actor }
              GROUP BY ?actor }
            BIND(CONCAT(UCASE(?actor), "!") AS ?label)
            FILTER(?nsign >= 1 && STRSTARTS(?actor, "usr:"))
        }
        GROUP BY ?actor ?nsign ?label
    """)


def graph_lpa(spark, sf_dir):
    """Synchronous label-propagation communities (operators/graph.py;
    3 fixed iterations, most-frequent-neighbor label, smallest-label
    tie-break) over the same symmetrized customer↔supplier
    co-transaction graph PageRank ranks. Fully deterministic (pinned
    tie-break, fixed rounds), so the unrolled-CTE DuckDB oracle — one
    count+row_number CTE per round — hash-matches exactly."""
    from .operators import graph

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # node ids stay STRINGS here: LPA's smallest-label tie-break orders
    # label VALUES, so the BIGINT relabeling of graph_pagerank would
    # change results.
    pairs = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return graph.label_propagation(graph.symmetrize(pairs), n_iters=3)


def graph_bfs(spark, sf_dir):
    """BFS landmark distances (operators/graph.bfs_distances; 4 fixed
    relaxation rounds) from customer c1 over the symmetrized
    customer↔supplier co-transaction graph — shortest hop counts, BIGINT,
    min-relaxation per round, so the unrolled-CTE DuckDB oracle matches
    exactly. Nodes beyond 4 hops are absent (documented operator
    contract)."""
    from .operators import graph

    # r6: BIGINT ids in-flight (hop counts are relabeling-invariant);
    # "c1" encodes to node 2
    dist = graph.bfs_distances(
        graph.symmetrize(_cs_pairs_int(spark, sf_dir)), [2], max_depth=4)
    return dist.select(_cs_node_str(F.col("node")).alias("node"), "dist")


def graph_triangles(spark, sf_dir):
    """Per-node triangle counts (operators/graph.triangle_counts,
    degree-ordered orientation) over the same-order-date customer
    co-occurrence graph. Days are capped at 12 customers (row_number by
    custkey — the deterministic hub cap that keeps a co-occurrence
    projection linear-ish at scale; mirrored in the oracle)."""
    from .operators import graph

    dc = _t(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.col("o_custkey").alias("c"),
    ).distinct()
    capped = dc.withColumn(
        "rn", F.row_number().over(Window.partitionBy("d").orderBy("c"))
    ).filter(F.col("rn") <= 12)
    left, right = capped.alias("l"), capped.alias("r")
    edges = left.join(right, "d").filter(
        F.col("l.c") < F.col("r.c")
    ).select(F.col("l.c").alias("src"), F.col("r.c").alias("dst"))
    return graph.triangle_counts(edges)


def graph_sssp(spark, sf_dir):
    """Weighted shortest paths (operators/graph.sssp_distances; 4 fixed
    Bellman-Ford rounds, BIGINT weights — bit-exact unrolled-CTE DuckDB
    oracle) from customer c1 over the symmetrized customer↔supplier
    graph, edge weight = min line quantity between the pair."""
    from .operators import graph

    # r6: BIGINT ids, as in graph_bfs (distances depend on weights and
    # reachability only, not on id spelling)
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    pairs = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    both = pairs.unionByName(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    dist = graph.sssp_distances(both, [2], n_rounds=4)
    return dist.select(_cs_node_str(F.col("node")).alias("node"), "dist")


def _sparql_graph_store(spark, sf_dir):
    """Quad store for the named-graph entries: events live in
    per-event-type NAMED graphs (``graph:{event_type}``), user labels in
    the DEFAULT graph."""
    from .operators import quads as q

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    named = e.select(
        F.concat(F.lit("graph:"), F.col("event_type")).alias("g"),
        F.concat(F.lit("inst:ev"), F.col("event_id").cast("string")).alias("subj"),
        F.lit("sem:hasActor").alias("pred"),
        F.concat(F.lit("usr:"), F.col("user_id").cast("string")).alias("obj"),
    )
    labels = e.select(
        F.concat(F.lit("usr:"), F.col("user_id").cast("string")).alias("subj"),
        F.lit("rdfs:label").alias("pred"),
        F.concat(F.lit("user "), F.col("user_id").cast("string")).alias("obj"),
    ).distinct()
    return named.unionByName(q.as_quads(labels))


def sparql_graph(spark, sf_dir):
    """SPARQL named graphs (operators/quads.py + quad patterns in
    bgp._compile_pattern): ``GRAPH ?g { ?e sem:hasActor ?u } . ?u
    rdfs:label ?name`` — the graph variable binds the graph name into
    each solution and the default-graph pattern joins on ?u. One
    equality-filtered scan per pattern (g reaches the parquet reader as
    a pushed filter on a g-partitioned store) + one equi-join; no
    per-graph driver loop."""
    from .operators import quads as q
    from .operators.bgp import bgp_match

    store = _sparql_graph_store(spark, sf_dir)
    pats = (
        q.graph_patterns([("?e", "sem:hasActor", "?u")], "?g")
        + q.default_patterns([("?u", "rdfs:label", "?name")])
    )
    return bgp_match(store, patterns=pats)


def sparql_graph_text(spark, sf_dir):
    """The same named-graph query as sparql_graph, but entered through
    the SPARQL text front-end (GRAPH ?g block + default-graph pattern) —
    hash-matching the same oracle pins parser → quad-pattern compilation
    end-to-end."""
    from .operators.sparql import sparql_query

    store = _sparql_graph_store(spark, sf_dir)
    return sparql_query(store, """
        SELECT ?e ?g ?name ?u WHERE {
            GRAPH ?g { ?e <sem:hasActor> ?u }
            ?u <rdfs:label> ?name .
        }
    """)


def ntriples_roundtrip(spark, sf_dir):
    """The K3 triple emitter round-tripped through the N-Triples text
    format (sources/ntriples.py): render to interchange lines, parse
    back with the strict expression parser, map the parsed schema onto
    triples_events' (no lang column; '' datatype on IRI-object rows).
    Oracle = the triples_events SQL verbatim — render∘parse must be the
    identity, which hash-checks the writer's escaping AND the parser's
    term split/unescaping in one entry."""
    from .operators.triples import render_turtle_line
    from .sources.ntriples import parse_ntriples_lines

    t = triples_events(spark, sf_dir)
    lines = render_turtle_line(
        t.withColumn("lang", F.lit(None).cast("string"))
    )
    parsed = parse_ntriples_lines(lines)
    return parsed.select(
        "subj", "pred", "obj", "obj_is_literal",
        F.coalesce("datatype", F.lit("")).alias("datatype"),
    )


def nquads_roundtrip(spark, sf_dir):
    """The named-graph quad store round-tripped through N-Quads text
    (sources/ntriples.py): render each quad to its interchange line
    (default-graph rows omit the label per the grammar), parse back with
    the strict quad parser, and return (g, subj, pred, obj,
    obj_is_literal). render∘parse must be the identity — one entry
    hash-checks the quad writer, the optional-graph-term split, and the
    default-graph tagging."""
    from .sources.ntriples import parse_nquads_lines
    from .operators.triples import render_turtle_line

    store = _sparql_graph_store(spark, sf_dir).withColumn(
        "obj_is_literal", F.col("pred") == F.lit("rdfs:label")
    ).withColumn("lang", F.lit(None).cast("string")) \
     .withColumn("datatype", F.lit(None).cast("string"))
    lines = render_turtle_line(store, graph_col="g")
    parsed = parse_nquads_lines(lines)
    return parsed.select("g", "subj", "pred", "obj", "obj_is_literal")


def graph_kcore(spark, sf_dir):
    """3-core peeling (operators/graph.kcore_nodes; 4 fixed synchronous
    rounds, pure integer ops — bit-exact unrolled-CTE DuckDB oracle) over
    the same hub-capped same-order-date customer co-occurrence graph as
    graph_triangles. Surviving nodes + their in-core degree: the KG
    cluster-quality filter (degree-1 tendrils peel away, attested
    communities survive)."""
    from .operators import graph

    dc = _t(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.col("o_custkey").alias("c"),
    ).distinct()
    capped = dc.withColumn(
        "rn", F.row_number().over(Window.partitionBy("d").orderBy("c"))
    ).filter(F.col("rn") <= 12)
    left, right = capped.alias("l"), capped.alias("r")
    edges = left.join(right, "d").filter(
        F.col("l.c") < F.col("r.c")
    ).select(F.col("l.c").alias("src"), F.col("r.c").alias("dst"))
    return graph.kcore_nodes(edges, k=3, n_rounds=4)


def asof_join_events(spark, sf_dir):
    """Purchase→last-view attribution as-of join (operators/temporal.py;
    pandas merge_asof / DuckDB ASOF JOIN semantics): for each 'purchase'
    event, the same user's most recent 'view' at-or-before it, timestamp
    ties broken by greatest event_id. Union-tag + running
    last(ignorenulls) window — ONE shuffle on user_id, never the naive
    per-key inequality join. Timestamps travel as unix micros (BIGINT) so
    the cross-engine hash compare is exact."""
    from .operators import temporal

    ev = _t(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ; the session tz is pinned UTC (session.py), so
    # casting re-interprets the wall-clock as a UTC instant — exactly
    # DuckDB's epoch_us() on a naive timestamp.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        us.alias("purchase_us"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        us.alias("view_us"),
    )
    out = temporal.asof_join(
        purchases,
        views,
        key="user_id",
        left_time="purchase_us",
        right_time="view_us",
        right_payload=["view_id", "view_us"],
        tie_break="view_id",
    )
    return out.select(
        "purchase_id", "user_id", "purchase_us",
        F.col("asof.view_id").alias("view_id"),
        F.col("asof.view_us").alias("view_us"),
        (F.col("purchase_us") - F.col("asof.view_us")).alias("gap_us"),
    )


# Fixed corpus for the flagship's DuckDB oracle: datagen is deterministic
# (seed 42), so both engines can read the SAME parquet from a well-known
# path — the Spark side through CorpusTables, the oracle SQL through
# read_parquet() literals (oracles.py builds them from this constant).
FIXED_CORPUS_N_INCIDENTS = 20
FIXED_CORPUS_DIR = (
    f"/tmp/mwep_fixed_corpus_n{FIXED_CORPUS_N_INCIDENTS}_seed42"
)


def ensure_fixed_corpus() -> str:
    """Generate the fixed flagship corpus if absent (atomic: generate into a
    scratch dir, rename into place — concurrent Spark/DuckDB readers never
    see a half-written table)."""
    import os
    import shutil
    import tempfile

    from . import datagen

    if not os.path.exists(os.path.join(FIXED_CORPUS_DIR, "transcripts.parquet")):
        # scratch dir on the SAME filesystem as the destination — mkdtemp's
        # default honors TMPDIR, which can sit on another mount and make
        # every os.rename fail with EXDEV (round-4 ADVICE: the except then
        # misread EXDEV as "lost the race", deleted the corpus, and
        # returned a nonexistent dir)
        os.makedirs(os.path.dirname(FIXED_CORPUS_DIR), exist_ok=True)
        tmp = tempfile.mkdtemp(
            prefix="mwep_fixed_corpus_gen_",
            dir=os.path.dirname(FIXED_CORPUS_DIR),
        )
        datagen.generate_to_dir(
            tmp, n_incidents=FIXED_CORPUS_N_INCIDENTS, seed=42
        )
        try:
            os.rename(tmp, FIXED_CORPUS_DIR)
        except OSError:  # lost the generation race: another process won
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(
                os.path.join(FIXED_CORPUS_DIR, "transcripts.parquet")
            ):
                raise  # not a lost race — surface the real failure
    return FIXED_CORPUS_DIR


def kg_pipeline_triples(spark, sf_dir):
    """The actual KG-construction pipeline (north rule) on the deterministic
    synthetic transcript corpus. Since round 4 the full output (T1 text +
    T2 incident + T3 role + T4 collection triples, reference
    classes.py:265-353) is hash-checked against a DuckDB oracle over the
    same fixed parquet corpus (oracles.py); exact parity vs the pure-Python
    reference oracle additionally holds in tests/test_parity.py."""
    from .plans import pipeline
    from .sources.tables import CorpusTables

    t = CorpusTables(spark, ensure_fixed_corpus())
    return pipeline.build(t).full_triples


# Exactly 50 entries — the driver's correctness window is 50 rows, so every
# catalog entry gets a driver-green row every round (round-2 verdict item 4).
# Retired-into (coverage unchanged): p3_uri_label_pack + p4_gyear_rule +
# c12_json_extract folded into p1_scalar_chain / triples_events /
# p5_dct_coalesce; u7_moment_stats ⊂ a3_full_stats moment block;
# o5_monthly_revenue ⊂ o3_top_types + a3_collection_stats (date_format);
# a4_label_freq ⊂ o3 frequency + j3_fanout_collect (concat_ws);
# a10_langset_distribution ⊂ a3_full_stats langset_dist; dedup_jaccard
# (verification tier) ⊂ canonicalize_components' jaccard-on-candidates.
def gapfill_user_state(spark, sf_dir):
    """Calendar gap-fill with LOCF (temporal.gapfill_locf): one row per
    (user, day) between each user's first and last event, carrying the
    day's last event_type forward through empty days — the
    TimescaleDB-style time_bucket_gapfill + locf as pure DataFrame
    algebra (dense sequence explode + the portable two-window
    count/max group trick, no engine-specific IGNORE NULLS). The
    driver-facing row renders the bucket as a 'yyyy-MM-dd' string —
    the same convention every other driver row uses for time values
    (date_format strings in a3/p5, integer micros in asof_join_events):
    raw TIMESTAMP columns stringify engine-dependently in value-hash
    comparators, and this is the only entry that would have one."""
    from .operators import temporal

    return temporal.gapfill_locf(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        bucket="DAY", tie_col="event_id",
    ).select(
        "user_id",
        F.date_format("bucket_ts", "yyyy-MM-dd").alias("day"),
        "state", "filled",
    )


def mixture_temperature_lang(spark, sf_dir):
    """Temperature-flattened mixture sampling over the Zipf-skewed lang
    column (training_prep.mixture_temperature, alpha=0.5, target 300):
    per-group rates derived from the corpus's own counts — n_g^alpha
    share, capped at keep-everything — then the shared md5 coin. The
    sf0.01 lang head (en=218 vs ~70 tails) makes the flattening visible:
    en's rate lands well below the tail langs'. Every rate figure is
    pinned to exact integers (micro-unit weights, e9 rates, BIGINT coin
    compare), so the kept set hash-matches the oracle exactly."""
    from .operators import training_prep

    return training_prep.mixture_temperature(
        _t(spark, sf_dir, "documents"), alpha=0.5, target_total=300,
        group_col="lang", seed=MIXTURE_SEED,
    )


def semantic_dedup_keep(spark, sf_dir):
    """SemDeDup-style semantic near-duplicate removal
    (similarity.semantic_dedup, Abbas et al. 2023): k-means cells from
    the deterministic Lloyd trainer confine the quadratic pair check to
    within-cell self-joins (~N^2/k total work), then keep-min-id drops
    every vector with a smaller-id same-cell neighbor above the cosine
    threshold. Knobs sized to the 500-vector sf0.01 driver corpus (k=8,
    2 Lloyd rounds); threshold 0.3 ~ 2.4 sigma of the isotropic driver
    embeddings' cosine distribution, so a nontrivial fraction drops. The
    oracle unrolls the SAME Lloyd rounds it shares with ann_ivf."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, k=8, n_iters=2, round_to=9)
    return similarity.semantic_dedup(emb, cents, threshold=0.3)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    f.__name__: f
    for f in [
        a1_incident_grouping, a2_dedup_window, f2_ref_text_filter,
        f3_language_completeness, j1_outer_merge, j2_dimension_join,
        j7_interval_containment, j10_transitive_closure, j10_incident_ancestors,
        w1_stable_ordering,
        w5_sessionize, o3_top_types, a3_collection_stats, a3_full_stats,
        semantic_dedup_keep,
        p1_scalar_chain, k4_inverted_index,
        f1_first_section, f4_role_set_equality, f8_surviving_orders,
        o2_deterministic_limit, p5_dct_coalesce,
        j3_fanout_collect, j5_rewrite_union, j8_semi_join,
        gapfill_user_state,
        c2_url_encode, f5f6f7_crawl_filters, a9_crawl_status_tally,
        mixture_temperature_lang,
        canonicalize_components, w4_sequential_match,
        triples_events, participant_triples, dedup_exact,
        dedup_minhash_pairs, dedup_simhash_pairs, knn_cosine,
        ann_multiprobe, ann_ivf, lang_id_profile,
        quality_score,
        fingerprint, multimodal_meta, multimodal_frames, mention_link_rank,
        sparql_bgp, graph_pagerank, asof_join_events,
        kg_pipeline_triples,
    ]
}


def rolling_user_activity(spark, sf_dir):
    """Trailing 7-day rolling activity per user (temporal.rolling_days):
    the RANGE-frame window — frame bounded by ORDER-column VALUE (day
    number), not row position, so sparse histories exclude out-of-window
    days a ROWS frame would wrongly include. Daily pre-aggregation
    collapses events before the window; value sums are exact integer
    micro-units end-to-end, so the DuckDB twin hash-matches."""
    from .operators import temporal

    return temporal.rolling_days(
        _t(spark, sf_dir, "events"), "user_id", "ts", "value", days=7)


def scd2_user_state(spark, sf_dir):
    """SCD type-2 history (temporal.scd2_history): the events change log
    collapsed to state transitions per user (consecutive duplicate
    states open no new version), each version closed by the next change
    — (state, valid_from, valid_to, is_current), the warehouse MERGE
    output as two fused window passes over one key shuffle."""
    from .operators import temporal

    return temporal.scd2_history(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        tie_col="event_id",
    )


def quality_classifier(spark, sf_dir):
    """Model-based quality filtering as relational inference
    (curation.classifier_score): a fastText-style linear bag-of-words
    head applied as a broadcast weight-table join + exact-integer
    aggregation — model application at 100 TB is a JOIN, not a UDF. The
    stand-in model here derives one micro-unit weight in [-1e6, 1e6] per
    vocabulary token from the shared md5_u32 coin (a real pipeline passes
    its trained ~1e6-row weight table; the plan is identical)."""
    from .functions.hashing import md5_u32
    from .operators import curation

    docs = _t(spark, sf_dir, "documents")
    vocab = docs.select(
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("token")
    ).distinct()
    weights = vocab.select(
        "token",
        (md5_u32(F.concat(F.lit("qw:"), F.col("token"))) % 2000001
         - 1000000).alias("w_micro"),
    )
    return curation.classifier_score(docs, weights)


def bigram_quality(spark, sf_dir):
    """Bigram-LM perplexity scoring (curation.bigram_logprob): mean
    negative log of P(w_i | w_{i-1}) under the corpus's own transition
    counts — the conditional upgrade of unigram_quality (a shuffled
    document scores the same under unigrams; not under bigrams). Same
    integer micro-nat contract, so the DuckDB twin hash-matches."""
    from .operators import curation

    return curation.bigram_logprob(_t(spark, sf_dir, "documents"))


def bpe_train(spark, sf_dir):
    """Relational BPE merge training (operators/bpe.py, 8 rounds): the
    tokenizer-training step as pure DataFrame algebra — weighted
    overlapping pair counts over the distinct-word table, lexicographic-
    tie argmax, sentinel-wrapped left-to-right merge rewrite. The DuckDB
    twin unrolls one CTE triple per round, so the learned rule SEQUENCE
    (order, pairs, counts) hash-matches bit-for-bit."""
    from .operators import bpe

    return bpe.bpe_merges(_t(spark, sf_dir, "documents"), n_merges=8)


def bpe_segment_words(spark, sf_dir):
    """BPE segmentation: the trainer's FINAL sequence state formatted
    per word (operators/bpe.py bpe_train_state + segment_state) — zero
    extra corpus passes, and bit-identical to the oracle (which formats
    the same unrolled state) on EVERY corpus including pair-exhausted
    ones, where both sides empty together. bpe_segment remains the
    apply-rules-to-a-NEW-corpus path."""
    from .operators import bpe

    docs = _t(spark, sf_dir, "documents")
    _merges, state = bpe.bpe_train_state(docs, n_merges=8)
    return bpe.segment_state(state)


def sem_dedup_lsh(spark, sf_dir):
    """SemDeDup's linear-assignment tier (similarity.
    semantic_dedup_buckets): cells are seeded random-projection LSH
    buckets — O(N) cell assignment with no centroid table, the scale
    path when the O(N·k) trained-cell assign of semantic_dedup_keep
    becomes the wall (measured: it dominates at 50k x 128 already,
    BENCH/semdedup_scale.json). Same keep-min-id rule; n_bits=4 -> 16
    buckets ~ 31 vectors/cell on the 500-vector driver corpus."""
    return similarity.semantic_dedup_buckets(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, n_bits=4)


# Rotated OUT of the driver's 50-row window but still hash-checked against
# their DuckDB oracles every pytest run by the CI full-catalog gate
# (tests/test_catalog_oracle.py via tools/check_oracle.run_checks, which
# unions these in). Rotation rationale per entry:
# - dedup_minhash_sig (r5, for ann_ivf) — its signatures are exercised
#   end-to-end by dedup_minhash_pairs (the band-signature equi-join
#   consumes them) and canonicalize_components;
# - dedup_simhash (r5, for sparql_bgp) — its signatures are consumed
#   end-to-end by dedup_simhash_pairs' pigeonhole join;
# - token_count (r5, for graph_pagerank) — ws_tokens is the same
#   expression as quality_score.n_tokens; re_tokens/approx_bpe stay
#   CI-gated here;
# - ann_lsh_bucketed (r5, for asof_join_events) — single-probe LSH is
#   ann_multiprobe's degenerate case (same seeded projections, probe
#   fan-out of 1); its recall tier stays measured in BENCH/BASELINE.md.
# graph_lpa, multimodal_resize, and every later-round addition (sparql_*,
# graph_*, retrieval, curation, training-prep, dup_spans) were born here
# (the 50-row window was already full when they landed); same CI
# hash-gate as the rotated entries.
# Late-round-5 swaps (three strongest new operators promoted):
# - e2_set_difference (for semantic_dedup_keep) — its set-op machinery
#   (collect_set + array difference) also rides f4/j5/j8 in the window;
# - w2_sequence_expand (for gapfill_user_state) — gapfill's calendar is
#   the same sequence()+explode machinery plus the LOCF windows on top;
# - embed_cosine_neardup (for mixture_temperature_lang) — its broadcast
#   pair-cosine check is the degenerate one-cell case of
#   semantic_dedup_keep, and knn_cosine keeps the exact tier in-window.
EXTRA_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    f.__name__: f
    for f in [
        dedup_minhash_sig, multimodal_resize, dedup_simhash, token_count,
        ann_lsh_bucketed, graph_lpa, sparql_union, sparql_construct,
        sparql_agg, sparql_minus, graph_bfs, sparql_text,
        sparql_expressive, bm25_rank, graph_triangles, graph_sssp,
        sparql_describe, sparql_update_rewrite, graph_kcore,
        rrf_hybrid_rank, embed_quantize, ann_quantized,
        ntriples_roundtrip, sparql_graph, sparql_graph_text,
        nquads_roundtrip, pii_redact, repetition_stats, decontaminate,
        chunk_docs, pack_boundary, pack_firstfit, mixture_weighted,
        vocab_build, sample_exact, dup_spans, dup_span_removal,
        dedup_neardup_keep, unigram_quality, sample_stratified,
        hll_token_distinct, cms_hot_tokens, quantile_doclen,
        bloom_semijoin, dedup_prefix_pairs, graph_ppr, rollup_stats,
        pivot_lang_matrix, zorder_layout, kmv_lang_overlap,
        quality_classifier, bigram_quality, scd2_user_state,
        rolling_user_activity, sem_dedup_lsh, bpe_train, bpe_segment_words,
        e2_set_difference, w2_sequence_expand, embed_cosine_neardup,
    ]
}
