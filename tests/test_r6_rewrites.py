"""Round-6 optimization equivalence pins.

The r6 performance round rewrote several operators' internals (map-side
signatures, first-agreeing-bucket dedup, array-intersect Jaccard,
single-job ancestor closure). The catalog oracle gate already hash-checks
them on the driver corpus; these tests pin the EDGE CASES that corpus
does not contain — NULL/empty/all-space texts, sub-shingle docs, NULL
langs, deep closure chains — by comparing each rewrite against an inline
copy of the pre-r6 formulation on a purpose-built frame.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multilingual_wiki_event_pipeline_spark.operators import text_dedup as td
from multilingual_wiki_event_pipeline_spark.operators import ontology


@pytest.fixture(scope="module")
def weird_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # dup text
        (3, "the quick brown fox leaps over the lazy dog", "en"),  # near-dup
        (4, "", "en"),                       # empty -> no tokens
        (5, "   ", "en"),                    # all spaces -> no tokens
        (6, None, "en"),                     # NULL text
        (7, "single", "en"),                 # < shingle size
        (8, "two words", "en"),              # < shingle size
        (9, "a a a a a a a a", "en"),        # duplicate tokens
        (10, "the quick brown fox jumps over the lazy dog", None),  # NULL lang
        (11, "de quick brown fox jumps over de lazy dog", "nl"),  # other lang
        (12, "x  y", "en"),                  # double space -> empty token
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _simhash_old(documents, n_bits=16):
    toks = (
        documents.select("doc_id", "lang",
                         F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "").distinct()
    )
    bits = toks.withColumn("h", F.md5(F.col("token").cast("binary"))).select(
        "doc_id", "lang",
        F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("b"), "h",
    ).withColumn("bit", F.expr(
        "(shiftright(instr('0123456789abcdef',"
        " substr(h, 1 + CAST(b DIV 4 AS INT), 1)) - 1,"
        " CAST(b % 4 AS INT))) & 1"))
    sums = bits.groupBy("doc_id", "lang", "b").agg(
        F.sum(2 * F.col("bit") - 1).alias("s"))
    return sums.groupBy("doc_id", "lang").agg(
        F.sum(F.when(F.col("s") > 0,
                     F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"))
              .otherwise(F.lit(0).cast("long"))).cast("long").alias("simhash"))


def _doc_shingles_old(documents, k=3):
    arr = F.filter(F.split("text", " "), lambda x: x != "")
    shingles = F.when(
        F.size(arr) >= k,
        F.transform(F.sequence(F.lit(1), F.size(arr) - k + 1),
                    lambda i: F.concat_ws(" ", F.slice(arr, i, k))),
    ).otherwise(F.array(F.concat_ws(" ", arr)))
    return (documents.select("doc_id", F.explode(shingles).alias("token"))
            .filter(F.col("token") != "").distinct())


def _minhash_bands_old(documents, n_hashes=8, band_size=2):
    toks = _doc_shingles_old(documents)
    sig = (
        toks.select("doc_id", "token",
                    F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1)))
                    .alias("seed"))
        .groupBy("doc_id", "seed")
        .agg(F.min(F.md5(F.concat(F.col("seed").cast("string"), F.lit(":"),
                                  F.col("token")).cast("binary"))).alias("mh"))
    )
    return (
        sig.withColumn("band", F.floor(F.col("seed") / band_size).cast("long"))
        .groupBy("doc_id", "band")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("seed", "mh"))),
                        lambda x: x["mh"]), "|").alias("band_sig"))
    )


def test_simhash_matches_pre_r6_on_edge_cases(spark, weird_docs):
    assert _rows(td.simhash(weird_docs)) == _rows(_simhash_old(weird_docs))


def test_minhash_band_signatures_match_pre_r6(spark, weird_docs):
    assert _rows(td.minhash_band_signatures(weird_docs)) == _rows(
        _minhash_bands_old(weird_docs))


def test_minhash_candidate_pairs_equal_distinct_join(spark, weird_docs):
    # reference: the pre-r6 shape — band equi-join + DISTINCT
    bands = _minhash_bands_old(weird_docs)
    a, b = bands.alias("a"), bands.alias("b")
    ref = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_sig") == F.col("b.band_sig"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a_id"),
                F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    got = td.minhash_candidate_pairs(weird_docs)
    assert _rows(got) == _rows(ref)
    # first-band emission is exactly-once: no duplicates before distinct
    assert got.count() == got.distinct().count()


def test_simhash_pairs_equal_distinct_join(spark, weird_docs):
    sh = _simhash_old(weird_docs)
    n_blocks, n_bits = 4, 16
    bounds = [round(i * n_bits / n_blocks) for i in range(n_blocks + 1)]
    blocks = F.array(*[
        F.struct(
            F.lit(i).alias("block_idx"),
            F.shiftright(F.col("simhash"), bounds[i])
            .bitwiseAND(F.lit((1 << (bounds[i + 1] - bounds[i])) - 1))
            .alias("block_bits"),
        ) for i in range(n_blocks)
    ])
    keyed = sh.select("doc_id", "lang", "simhash",
                      F.explode(blocks).alias("blk")).select(
        "doc_id", "lang", "simhash", "blk.block_idx", "blk.block_bits")
    a, b = keyed.alias("a"), keyed.alias("b")
    ham = F.expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)")
    ref = (
        a.join(b, (F.col("a.lang") == F.col("b.lang"))
               & (F.col("a.block_idx") == F.col("b.block_idx"))
               & (F.col("a.block_bits") == F.col("b.block_bits"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(ham <= 3)
        .select(F.col("a.doc_id").alias("a_id"),
                F.col("b.doc_id").alias("b_id"), ham.alias("hamming"))
        .distinct()
    )
    got = td.simhash_pairs(weird_docs, 3)
    assert _rows(got) == _rows(ref)
    assert got.count() == got.distinct().count()


def test_jaccard_on_candidates_matches_pre_r6(spark, weird_docs):
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 10), (1, 11), (4, 5), (1, 6)],
        "a_id long, b_id long",
    )
    # pre-r6 token-level formulation
    toks = (weird_docs.select("doc_id", "lang",
                              F.explode(F.split("text", " ")).alias("token"))
            .filter(F.col("token") != "").distinct())
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    langs = weird_docs.select("doc_id", "lang")
    pairs = (
        cand.select("a_id", "b_id")
        .join(langs.select(F.col("doc_id").alias("a_id"),
                           F.col("lang").alias("a_lang")), "a_id")
        .join(langs.select(F.col("doc_id").alias("b_id"),
                           F.col("lang").alias("b_lang")), "b_id")
        .filter(F.col("a_lang") == F.col("b_lang"))
        .select("a_id", "b_id")
    )
    ta = pairs.join(toks, pairs.a_id == toks.doc_id).select(
        "a_id", "b_id", "token")
    tb = pairs.join(toks, pairs.b_id == toks.doc_id).select(
        "a_id", "b_id", "token")
    shared = ta.join(tb, ["a_id", "b_id", "token"]).groupBy(
        "a_id", "b_id").agg(F.count("*").alias("shared"))
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    threshold = 0.5
    ref = (shared.join(sa, "a_id").join(sb, "b_id").filter(jac >= threshold)
           .select("a_id", "b_id", F.round(jac, 6).alias("jaccard")))
    got = td.jaccard_on_candidates(weird_docs, cand, threshold)
    assert _rows(got) == _rows(ref)


def test_ancestor_closure_deep_chain(spark):
    # depth-6 chain exercises multiple lazy rounds and the every-other-
    # round distinct; expected closure computed in plain Python
    edges = [(f"n{i}", f"n{i+1}") for i in range(6)]
    df = spark.createDataFrame(edges, "child string, parent string")
    nodes = {f"n{i}" for i in range(7)}
    expect_proper = sorted(
        (f"n{i}", f"n{j}") for i in range(7) for j in range(i + 1, 7))
    got = ontology.ancestor_closure(df, reflexive=False)
    assert _rows(got) == expect_proper
    expect_refl = sorted(expect_proper + [(n, n) for n in nodes])
    got_r = ontology.ancestor_closure(df, reflexive=True)
    assert _rows(got_r) == expect_refl


def test_ancestor_closure_dag_multiple_parents(spark):
    # diamond + stray root: multi-parent fan-in through the left-join round
    edges = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, "child string, parent string")
    expect = sorted([
        ("a", "b"), ("a", "c"), ("a", "d"), ("a", "e"),
        ("b", "d"), ("b", "e"), ("c", "d"), ("c", "e"), ("d", "e"),
    ])
    assert _rows(ontology.ancestor_closure(df, reflexive=False)) == expect


def test_pagerank_broadcast_rounds_equivalence(spark, both_strategies):
    # the size rule switches the physical strategy (dst-clustered edge
    # cache + per-round broadcast hash join, or src-clustered cache +
    # shuffle join) but must not change a single rank; graph has a hub,
    # a chain, a 2-cycle and a dangling-free symmetrized variant plus a
    # node absent from src (dst-only)
    from multilingual_wiki_event_pipeline_spark.operators import graph

    raw = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "a"),
           ("c", "e"), ("e", "e")]
    edges = spark.createDataFrame(raw, "src string, dst string")
    for sym in (False, True):
        e = graph.symmetrize(edges) if sym else edges
        bcast, shuffle = both_strategies(
            lambda: _rows(graph.pagerank(e, n_iters=4)))
        assert bcast == shuffle, sym


def test_pagerank_equals_ppr_seeded_with_every_node(spark):
    # pagerank runs personalized_pagerank with every node as a seed; an
    # explicit all-node seed frame keeps the per-round node join, so this
    # also pins the keep-join against the skipped one (symmetrized case)
    from multilingual_wiki_event_pipeline_spark.operators import graph

    raw = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "a"),
           ("c", "e"), ("e", "e")]
    edges = spark.createDataFrame(raw, "src string, dst string")
    seeds = spark.createDataFrame(
        [(n,) for n in sorted({n for pair in raw for n in pair})],
        "node string")
    for sym in (False, True):
        e = graph.symmetrize(edges) if sym else edges
        for n_iters in (0, 1, 5, 9):
            assert (_rows(graph.pagerank(e, n_iters))
                    == _rows(graph.personalized_pagerank(e, seeds, n_iters))
                    ), (sym, n_iters)


def test_ppr_broadcast_rounds_equivalence(spark, both_strategies):
    from multilingual_wiki_event_pipeline_spark.operators import graph

    raw = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "b")]
    edges = graph.symmetrize(
        spark.createDataFrame(raw, "src string, dst string"))
    seeds = spark.createDataFrame([("a",), ("d",), ("zzz",)], "node string")
    bcast, shuffle = both_strategies(
        lambda: _rows(graph.personalized_pagerank(edges, seeds, n_iters=4)))
    assert bcast == shuffle


def test_lpa_broadcast_rounds_equivalence(spark, both_strategies):
    from multilingual_wiki_event_pipeline_spark.operators import graph

    raw = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("d", "a"),
           ("e", "e"), ("x", "y")]
    edges = spark.createDataFrame(raw, "src string, dst string")
    for sym in (False, True):
        e = graph.symmetrize(edges) if sym else edges
        bcast, shuffle = both_strategies(
            lambda: _rows(graph.label_propagation(e, n_iters=3)))
        assert bcast == shuffle, sym


def test_bfs_broadcast_rounds_equivalence(spark, both_strategies):
    # chain + branch + cycle + input self-loop + unreachable node + a
    # source that is absent from the graph (must stay in the result)
    from multilingual_wiki_event_pipeline_spark.operators import graph

    raw = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("b", "e"),
           ("e", "e"), ("p", "q")]
    edges = spark.createDataFrame(raw, "src string, dst string")
    for srcs in (["a"], ["a", "q"], ["ghost"], ["a", "ghost"]):
        for depth in (0, 1, 3, 6):
            bcast, shuffle = both_strategies(
                lambda: _rows(graph.bfs_distances(edges, srcs, depth)))
            assert bcast == shuffle, (srcs, depth)


def test_sssp_broadcast_rounds_equivalence(spark, both_strategies):
    # parallel edges with different weights, zero-weight edge, input
    # self-loop, absent source
    from multilingual_wiki_event_pipeline_spark.operators import graph

    raw = [("a", "b", 5), ("a", "b", 2), ("b", "c", 1), ("a", "c", 9),
           ("c", "a", 0), ("c", "c", 3), ("p", "q", 7)]
    edges = spark.createDataFrame(raw, "src string, dst string, w long")
    for srcs in (["a"], ["a", "p"], ["ghost"]):
        for rounds in (0, 1, 2, 4):
            bcast, shuffle = both_strategies(
                lambda: _rows(graph.sssp_distances(edges, srcs, rounds)))
            assert bcast == shuffle, (srcs, rounds)


@pytest.mark.parametrize("ntype,width", [("bigint", 24), ("string", 36)])
def test_graph_strategy_size_rule(spark, broadcast_threshold, ntype, width):
    # the one decision every graph loop makes: broadcast iff node count x
    # row width (8 bytes overhead + the side schema's default sizes: 8 per
    # BIGINT, 20 per STRING) fits autoBroadcastJoinThreshold, parsed by
    # Spark's SQLConf; keep-join skipped iff every node has an in-edge
    from multilingual_wiki_event_pipeline_spark.operators.graph import (
        _strategy,
    )

    nodes = spark.range(100).select(
        F.col("id").cast(ntype).alias("node"),
        (F.col("id") % 2).cast("int").alias("has_in"))
    side = nodes.select("node", F.lit(0).cast("long").alias("rank_e12"))
    size = 100 * width
    for threshold, fits in ((size + 1, True), (size, True),
                            (size - 1, False), (-1, False),
                            ("4k", True), ("3k", ntype == "bigint"),
                            ("2k", False)):
        with broadcast_threshold(threshold):
            assert _strategy(nodes, side)[1:] == (fits, False), threshold
    everyone = nodes.withColumn("has_in", F.lit(1))
    with broadcast_threshold(size):
        assert _strategy(everyone, side, F.sum("has_in").alias("s"))[1:] == (
            True, True, 100)
