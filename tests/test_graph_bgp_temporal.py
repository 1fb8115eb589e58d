"""Unit semantics for the round-5 KG-query additions: SPARQL BGP matching
(operators/bgp.py), fixed-point PageRank + label-propagation communities
(operators/graph.py), and the as-of join (operators/temporal.py). Hand-built in-memory graphs with
hand-computed expectations; the driver-table versions are hash-checked
against DuckDB by the catalog oracle gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multilingual_wiki_event_pipeline_spark.operators import bgp, graph, temporal


# --- BGP --------------------------------------------------------------------


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        ("e1", "type", "Event"),
        ("e2", "type", "Event"),
        ("e1", "actor", "alice"),
        ("e2", "actor", "bob"),
        ("e1", "label", "boom"),
        ("e2", "label", "boom"),
        ("alice", "knows", "bob"),
        ("alice", "likes", "alice"),
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_bgp_single_pattern_constant_filter(triples):
    out = bgp.bgp_match(triples, [("?x", "actor", "?who")]).collect()
    assert sorted((r.who, r.x) for r in out) == [("alice", "e1"), ("bob", "e2")]


def test_bgp_multi_pattern_join(triples):
    out = bgp.bgp_match(
        triples,
        [("?e", "label", "boom"), ("?e", "actor", "?a"), ("?a", "knows", "?b")],
    ).collect()
    assert [(r.a, r.b, r.e) for r in out] == [("alice", "bob", "e1")]


def test_bgp_greedy_reorder_connects(triples):
    # pattern 2 connects only through pattern 3 — listing order must not
    # matter for a connected variable graph
    out = bgp.bgp_match(
        triples,
        [("?e", "actor", "?a"), ("?b", "type", "Event"), ("?a", "knows", "?x"),
         ("?x", "actor:none", "?b")],
    )
    # ?x actor:none ?b never matches -> empty but compiles
    assert out.count() == 0


def test_bgp_repeated_var_in_one_pattern(triples):
    out = bgp.bgp_match(triples, [("?x", "likes", "?x")]).collect()
    assert [r.x for r in out] == ["alice"]


def test_bgp_disconnected_raises(triples):
    with pytest.raises(ValueError, match="disconnected"):
        bgp.bgp_match(
            triples, [("?a", "knows", "?b"), ("?c", "type", "Event")]
        )


def test_bgp_no_variables_raises(triples):
    with pytest.raises(ValueError, match="no variables"):
        bgp.bgp_match(triples, [("alice", "knows", "bob")])


def test_bgp_parse():
    pats = bgp.parse_bgp('?e label "boom" . ?e actor ?a')
    assert pats == [("?e", "label", "boom"), ("?e", "actor", "?a")]
    with pytest.raises(ValueError):
        bgp.parse_bgp("?a knows")


def test_bgp_optional_left_join(triples):
    out = bgp.bgp_match(
        triples,
        [("?e", "type", "Event"), ("?e", "actor", "?a")],
        optional=[[("?a", "knows", "?friend")]],
    ).collect()
    assert {r.a: r.friend for r in out} == {"alice": "bob", "bob": None}


def test_bgp_optional_group_scoped_filter(spark):
    """SPARQL filter-scope rule: a FILTER inside an OPTIONAL group
    restricts the group's solutions before the left join (non-matching
    required rows keep nulls); the same expression as a top-level FILTER
    evaluates NULL on those rows and drops them (left join turns inner)."""
    t = spark.createDataFrame(
        [("e1", "actor", "alice"), ("e2", "actor", "bob"),
         ("alice", "score", "9"), ("bob", "score", "2")],
        "subj string, pred string, obj string",
    )
    req = [("?e", "actor", "?a")]
    grp = [("?a", "score", "?sc")]
    scoped = bgp.bgp_match(
        t, req, optional=[{"patterns": grp, "filters": ["sc >= '5'"]}]
    ).collect()
    assert {r.a: r.sc for r in scoped} == {"alice": "9", "bob": None}
    toplevel = bgp.bgp_match(
        t, req, optional=[grp], filters=["sc >= '5'"]
    ).collect()
    assert {r.a: r.sc for r in toplevel} == {"alice": "9"}


def test_bgp_filter(triples):
    out = bgp.bgp_match(
        triples, [("?e", "actor", "?a")], filters=["a = 'alice'"]
    ).collect()
    assert [(r.a, r.e) for r in out] == [("alice", "e1")]


def test_bgp_select_projection(triples):
    out = bgp.bgp_match(triples, [("?e", "actor", "?a")], select=["e"])
    assert out.columns == ["e"]
    with pytest.raises(ValueError, match="unbound"):
        bgp.bgp_match(triples, [("?e", "actor", "?a")], select=["zzz"])


def test_bgp_optional_disconnected_raises(triples):
    with pytest.raises(ValueError, match="OPTIONAL"):
        bgp.bgp_match(
            triples, [("?e", "actor", "?a")],
            optional=[[("?x", "type", "Event")]],
        )


def test_bgp_property_path_transitive(spark):
    t = spark.createDataFrame(
        [("a", "sub", "b"), ("b", "sub", "c"), ("c", "sub", "d"),
         ("a", "other", "z")],
        "subj string, pred string, obj string",
    )
    out = bgp.bgp_match(t, [("a", "sub+", "?anc")])
    assert sorted(r.anc for r in out.collect()) == ["b", "c", "d"]
    # a path pattern composes with plain patterns on shared variables
    out2 = bgp.bgp_match(
        t, [("?x", "sub+", "d"), ("?x", "other", "?y")]
    ).collect()
    assert [(r.x, r.y) for r in out2] == [("a", "z")]


def test_bgp_values_inline_binding(triples):
    out = bgp.bgp_match(
        triples, [("?e", "actor", "?a")], values={"?a": ["alice", "zz"]}
    ).collect()
    assert [(r.a, r.e) for r in out] == [("alice", "e1")]
    with pytest.raises(ValueError, match="VALUES"):
        bgp.bgp_match(triples, [("?e", "actor", "?a")], values={"?z": ["x"]})


def test_bgp_distinct(triples):
    # both events carry label 'boom': projecting ?lbl alone gives two bag
    # rows, one distinct row
    assert bgp.bgp_match(
        triples, [("?e", "label", "?lbl")], select=["lbl"]
    ).count() == 2
    assert bgp.bgp_match(
        triples, [("?e", "label", "?lbl")], select=["lbl"], distinct=True
    ).count() == 1


def test_bgp_order_by_limit(triples):
    out = bgp.bgp_match(
        triples, [("?e", "actor", "?a")], order_by=["a desc"], limit=1
    ).collect()
    assert [(r.a, r.e) for r in out] == [("bob", "e2")]


def test_bgp_union_null_for_unbound(triples):
    out = bgp.bgp_union(
        triples,
        [
            [("?e", "actor", "?a")],
            {"patterns": [("?a", "knows", "?friend")]},
        ],
    ).collect()
    got = sorted(((r.a, r.e or "", r.friend or "") for r in out))
    assert got == [
        ("alice", "", "bob"),
        ("alice", "e1", ""),
        ("bob", "e2", ""),
    ]


def test_bgp_construct_graph_semantics(triples):
    # both events share label 'boom': one (boom, seen, yes) row survives
    # the DISTINCT (CONSTRUCT = set semantics), plus one derived triple
    # per event
    out = bgp.bgp_construct(
        triples,
        template=[("?lbl", "seen", "yes"), ("?e", "hasLabel", "?lbl")],
        patterns=[("?e", "label", "?lbl")],
    ).collect()
    got = sorted((r.subj, r.pred, r.obj) for r in out)
    assert got == [
        ("boom", "seen", "yes"),
        ("e1", "hasLabel", "boom"),
        ("e2", "hasLabel", "boom"),
    ]


def test_bgp_construct_optional_null_drops_instantiation(triples):
    # bob has no 'knows' edge: the ?friend template triple drops for his
    # solution only; the ?a triple still emits for both
    out = bgp.bgp_construct(
        triples,
        template=[("?a", "active", "yes"), ("?a", "buddy", "?friend")],
        patterns=[("?e", "actor", "?a")],
        optional=[[("?a", "knows", "?friend")]],
    ).collect()
    got = sorted((r.subj, r.pred, r.obj) for r in out)
    assert got == [
        ("alice", "active", "yes"),
        ("alice", "buddy", "bob"),
        ("bob", "active", "yes"),
    ]


def test_bgp_construct_unbound_template_var_raises(triples):
    with pytest.raises(ValueError, match="unbound"):
        bgp.bgp_construct(
            triples, [("?zzz", "p", "o")], [("?e", "actor", "?a")]
        )


def test_bgp_group_by_aggregates_having(spark):
    t = spark.createDataFrame(
        [("e1", "actor", "alice"), ("e2", "actor", "alice"),
         ("e3", "actor", "bob")],
        "subj string, pred string, obj string",
    )
    out = bgp.bgp_match(
        t, [("?e", "actor", "?a")],
        group_by=["?a"], aggregates={"n": "count(e)", "last_ev": "max(e)"},
    ).collect()
    assert sorted((r.a, r.n, r.last_ev) for r in out) == [
        ("alice", 2, "e2"), ("bob", 1, "e3"),
    ]
    kept = bgp.bgp_match(
        t, [("?e", "actor", "?a")],
        group_by=["?a"], aggregates={"n": "count(e)"}, having=["n >= 2"],
    ).collect()
    assert [(r.a, r.n) for r in kept] == [("alice", 2)]
    # implicit single group (no GROUP BY), SPARQL-style
    total = bgp.bgp_match(
        t, [("?e", "actor", "?a")], aggregates={"n": "count(e)"}
    ).collect()
    assert [(r.n,) for r in total] == [(3,)]
    with pytest.raises(ValueError, match="without aggregates"):
        bgp.bgp_match(t, [("?e", "actor", "?a")], group_by=["?a"])


def test_bgp_count_skips_unbound(triples):
    # SPARQL count(?var) ignores unbound bindings: bob has no 'knows'
    # edge, so count(friend) counts only alice's binding
    out = bgp.bgp_match(
        triples, [("?e", "actor", "?a")],
        optional=[[("?a", "knows", "?friend")]],
        aggregates={"n_rows": "count(a)", "n_friends": "count(friend)"},
    ).collect()
    assert [(r.n_rows, r.n_friends) for r in out] == [(2, 1)]


def test_bgp_minus_and_not_exists_shared_var(triples):
    # actors with an event but no 'knows' edge: alice knows bob, bob
    # knows nobody -> only bob survives either negation form
    for kw in ("minus", "not_exists"):
        out = bgp.bgp_match(
            triples, [("?e", "actor", "?a")],
            **{kw: [[("?a", "knows", "?x")]]},
        ).collect()
        assert [(r.a, r.e) for r in out] == [("bob", "e2")], kw


def test_bgp_minus_vs_not_exists_disjoint_group(triples):
    # the spec's famous divergence: a negation group sharing NO variable
    # with the solutions. MINUS removes nothing (no shared domain ->
    # never compatible); NOT EXISTS is an uncorrelated existence test ->
    # everything drops when the group matches anything
    req = [("?e", "actor", "?a")]
    disjoint = [[("?z", "knows", "?w")]]  # matches (alice knows bob)
    assert bgp.bgp_match(triples, req, minus=disjoint).count() == 2
    assert bgp.bgp_match(triples, req, not_exists=disjoint).count() == 0
    never = [[("?z", "hates", "?w")]]  # matches nothing
    assert bgp.bgp_match(triples, req, not_exists=never).count() == 2


def test_bgp_ask(triples):
    assert bgp.bgp_ask(triples, [("?e", "actor", "alice")]) is True
    assert bgp.bgp_ask(triples, [("?e", "actor", "nobody")]) is False
    assert bgp.bgp_ask(
        triples, [("?e", "actor", "?a")], filters=["a = 'bob'"]
    ) is True


def test_bgp_describe(triples):
    out = bgp.bgp_describe(triples, ["alice"]).collect()
    got = sorted((r.subj, r.pred, r.obj) for r in out)
    assert got == [
        ("alice", "knows", "bob"),
        ("alice", "likes", "alice"),
        ("e1", "actor", "alice"),
    ]
    with pytest.raises(ValueError):
        bgp.bgp_describe(triples, [])


@pytest.fixture(scope="module")
def path_triples(spark):
    rows = [
        ("a", "sub", "b"), ("b", "sub", "c"), ("c", "sub", "d"),
        ("a", "other", "z"), ("z", "alt", "w"),
        ("x", "http://ex.org/p", "y"), ("y", "http://ex.org/q", "m"),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string"
    )


def test_bgp_path_inverse(path_triples):
    out = bgp.bgp_match(path_triples, [("b", "^sub", "?who")]).collect()
    assert [r.who for r in out] == ["a"]


def test_bgp_path_sequence(path_triples):
    # other/alt: a -other-> z -alt-> w
    out = bgp.bgp_match(path_triples, [("?s", "other/alt", "?o")]).collect()
    assert [(r.s, r.o) for r in out] == [("a", "w")]


def test_bgp_path_alternation(path_triples):
    out = bgp.bgp_match(path_triples, [("a", "sub|other", "?o")]).collect()
    assert sorted(r.o for r in out) == ["b", "z"]


def test_bgp_path_zero_or_more(path_triples):
    # sub*: the + closure from a, PLUS identity (a,a); identity covers all
    # graph nodes, so an unrelated node also self-matches
    out = bgp.bgp_match(path_triples, [("a", "sub*", "?anc")]).collect()
    assert sorted(r.anc for r in out) == ["a", "b", "c", "d"]
    out2 = bgp.bgp_match(path_triples, [("z", "sub*", "?anc")]).collect()
    assert sorted(r.anc for r in out2) == ["z"]


def test_bgp_path_composed_inverse_sequence(path_triples):
    # ^other/sub+ : z -^other-> a -sub+-> {b,c,d}
    out = bgp.bgp_match(path_triples, [("z", "^other/sub+", "?n")]).collect()
    assert sorted(r.n for r in out) == ["b", "c", "d"]


def test_bgp_angle_brackets_escape_path_interpretation(path_triples):
    # an IRI with a slash matches literally when <>-wrapped
    out = bgp.bgp_match(
        path_triples, [("?s", "<http://ex.org/p>", "?o")]
    ).collect()
    assert [(r.s, r.o) for r in out] == [("x", "y")]


def test_bgp_bracketed_iri_inside_composite_path(path_triples):
    # a <>-wrapped IRI containing '/' used as a STEP of a composite path:
    # the '|'/'/' splits must be bracket-aware or the IRI shatters
    out = bgp.bgp_match(
        path_triples, [("?s", "<http://ex.org/p>|other", "?o")]
    ).collect()
    assert sorted((r.s, r.o) for r in out) == [("a", "z"), ("x", "y")]
    out2 = bgp.bgp_match(
        path_triples, [("?s", "^<http://ex.org/p>", "?o")]
    ).collect()
    assert [(r.s, r.o) for r in out2] == [("y", "x")]


def test_bgp_sequence_of_two_bracketed_iris(path_triples):
    # "<a>/<b>" starts with "<" and ends with ">" like a plain IRI, but
    # is a two-step sequence — the path test must run first
    out = bgp.bgp_match(
        path_triples,
        [("?s", "<http://ex.org/p>/<http://ex.org/q>", "?o")],
    ).collect()
    assert [(r.s, r.o) for r in out] == [("x", "m")]


def test_bgp_path_paren_grouping(path_triples):
    # (sub|other)/alt: from a, {b, z} then -alt-> only z reaches w
    out = bgp.bgp_match(
        path_triples, [("a", "(sub|other)/alt", "?o")]
    ).collect()
    assert [r.o for r in out] == ["w"]
    # (sub/sub)+: two-hop closure — a->c (a-sub->b-sub->c), c->? none
    # beyond one more pair b->d; from a only c is reachable
    out2 = bgp.bgp_match(path_triples, [("a", "(sub/sub)+", "?x")]).collect()
    assert sorted(r.x for r in out2) == ["c"]
    # grouping with inverse: ^(other/alt) from w lands back on a
    out3 = bgp.bgp_match(path_triples, [("w", "^(other/alt)", "?s")]).collect()
    assert [r.s for r in out3] == ["a"]


def test_bgp_path_zero_or_one(path_triples):
    # sub?: one step at most — from a: itself (zero) and b (one), not c
    out = bgp.bgp_match(path_triples, [("a", "sub?", "?x")]).collect()
    assert sorted(r.x for r in out) == ["a", "b"]
    # composed: other/alt? — a-other->z, then z (zero) or w (one)
    out2 = bgp.bgp_match(path_triples, [("a", "other/alt?", "?x")]).collect()
    assert sorted(r.x for r in out2) == ["w", "z"]


def test_bgp_path_negated_property_set(path_triples):
    # !sub from a: every non-sub out-edge
    out = bgp.bgp_match(path_triples, [("a", "!sub", "?x")]).collect()
    assert sorted(r.x for r in out) == ["z"]
    # !(sub|alt) keeps other and the IRIs
    out2 = bgp.bgp_match(
        path_triples, [("?s", "!(sub|alt|<http://ex.org/p>)", "?o")]
    ).collect()
    assert sorted((r.s, r.o) for r in out2) == [("a", "z"), ("y", "m")]
    # inverse member: !(^sub) alone = swapped non-sub edges only
    out3 = bgp.bgp_match(path_triples, [("w", "!(^alt)", "?x")]).collect()
    assert out3 == []  # w's only in-edge IS alt; no forward component
    out4 = bgp.bgp_match(path_triples, [("z", "!(^other)", "?x")]).collect()
    assert [r.x for r in out4] == []  # z's only in-edge IS other
    out5 = bgp.bgp_match(path_triples, [("z", "!(^sub)", "?x")]).collect()
    assert sorted(r.x for r in out5) == ["a"]  # a-other->z survives
    with pytest.raises(ValueError, match="negated property set"):
        bgp.bgp_match(path_triples, [("?s", "!(sub/alt)", "?o")]).collect()


def test_bgp_path_modifier_on_negated_set(path_triples):
    # grammar: PathMod binds to the PathPrimary, so !sub? is (!sub)? —
    # from a: identity (zero) plus a's non-sub edges (one)
    out = bgp.bgp_match(path_triples, [("a", "!sub?", "?x")]).collect()
    assert sorted(r.x for r in out) == ["a", "z"]


def test_bgp_parens_inside_iri_are_literal(spark):
    # Wikipedia-style IRIs contain parens; <>-wrapping keeps them opaque
    t = spark.createDataFrame(
        [("s", "http://ex.org/p_(x|y)", "o")],
        "subj string, pred string, obj string",
    )
    out = bgp.bgp_match(t, [("?a", "<http://ex.org/p_(x|y)>", "?b")]).collect()
    assert [(r.a, r.b) for r in out] == [("s", "o")]


def test_bgp_path_star_constant_endpoint_absent_from_graph(path_triples):
    # SPARQL 1.1 ZeroLengthPath: a bound term matches itself even when it
    # appears nowhere in the graph
    out = bgp.bgp_match(path_triples, [("q", "sub*", "?anc")]).collect()
    assert [r.anc for r in out] == ["q"]
    out2 = bgp.bgp_match(path_triples, [("?s", "sub*", "q")]).collect()
    assert [r.s for r in out2] == ["q"]


def test_bgp_values_ragged_rows_raise(triples):
    with pytest.raises(ValueError, match="parallel non-empty"):
        bgp.bgp_match(
            triples, [("?e", "actor", "?a")],
            values={"?a": ["alice", "bob"], "?tag": ["x"]},
        )
    with pytest.raises(ValueError, match="parallel non-empty"):
        bgp.bgp_match(
            triples, [("?e", "actor", "?a")], values={"?a": []},
        )


def test_bgp_bag_semantics(spark):
    # two identical-shape triples on different subjects, projected to one
    # var -> two rows (no implicit distinct, matching SPARQL SELECT)
    t = spark.createDataFrame(
        [("s1", "p", "v"), ("s2", "p", "v")],
        "subj string, pred string, obj string",
    )
    assert bgp.bgp_match(t, [("?s", "p", "?o")]).count() == 2


# --- PageRank ---------------------------------------------------------------


def _pagerank_dict(spark, edge_rows, n_iters):
    e = spark.createDataFrame(edge_rows, "src string, dst string")
    return {
        r.node: r.rank_e12
        for r in graph.pagerank(e, n_iters=n_iters).collect()
    }


def test_pagerank_two_cycle_is_uniform(spark):
    # a <-> b: mass just swaps; every iteration returns the uniform rank
    ranks = _pagerank_dict(spark, [("a", "b"), ("b", "a")], n_iters=3)
    half = graph.SCALE // 2
    expected = (15 * half) // 100 + (85 * half) // 100
    assert ranks == {"a": expected, "b": expected}


def test_pagerank_star_center_dominates(spark):
    # undirected star: center <-> each of 3 spokes
    pairs = [("c", f"s{i}") for i in range(3)]
    edges = pairs + [(b, a) for a, b in pairs]
    ranks = _pagerank_dict(spark, edges, n_iters=5)
    assert set(ranks) == {"c", "s0", "s1", "s2"}
    assert ranks["s0"] == ranks["s1"] == ranks["s2"]
    assert ranks["c"] > ranks["s0"]
    # total mass is conserved up to integer-division truncation (each
    # node's division truncates < outdeg units per iteration)
    assert abs(sum(ranks.values()) - graph.SCALE) < 100


def test_pagerank_one_iteration_hand_computed(spark):
    # c -> s0, s0 -> c, s1 -> c (s1 receives nothing: base only)
    ranks = _pagerank_dict(spark, [("c", "s0"), ("s0", "c"), ("s1", "c")],
                           n_iters=1)
    third = graph.SCALE // 3
    base = (15 * third) // 100
    assert ranks["s1"] == base
    assert ranks["s0"] == base + (85 * third) // 100
    assert ranks["c"] == base + (85 * (third + third)) // 100


def test_pagerank_duplicate_edges_collapse(spark):
    once = _pagerank_dict(spark, [("a", "b"), ("b", "a")], n_iters=2)
    dup = _pagerank_dict(spark, [("a", "b"), ("a", "b"), ("b", "a")],
                         n_iters=2)
    assert once == dup


def test_pagerank_symmetrized_strategy_equivalence(spark, both_strategies):
    # symmetrized: every node has an in-edge, so the per-round node join
    # is skipped; broadcast and shuffle rounds must agree on every rank
    pairs = [("c", f"s{i}") for i in range(3)] + [("s0", "s1")]
    edges = pairs + [(b, a) for a, b in pairs]
    e = spark.createDataFrame(edges, "src string, dst string")
    bcast, shuffle = both_strategies(
        lambda: {r.node: r.rank_e12 for r in graph.pagerank(e, 3).collect()})
    assert bcast == shuffle
    assert set(bcast) == {"c", "s0", "s1", "s2"}


def test_src_only_node_kept_by_pagerank_and_lpa(spark, both_strategies):
    # "z" has an out-edge but no in-edge: it must appear in both results,
    # on both sides of the size rule, with the teleport-only rank and its
    # own label
    edges = [("a", "b"), ("b", "a"), ("z", "a")]
    e = spark.createDataFrame(edges, "src string, dst string")
    for ranks in both_strategies(
            lambda: {r.node: r.rank_e12
                     for r in graph.pagerank(e, 3).collect()}):
        assert set(ranks) == {"a", "b", "z"}
        assert ranks["z"] == (15 * (graph.SCALE // 3)) // 100
    for labels in both_strategies(
            lambda: {r.node: r.label
                     for r in graph.label_propagation(e, 2).collect()}):
        assert labels == _lpa_reference(edges, 2)
        assert labels["z"] == "z"


def test_sssp_prefers_cheap_long_path(spark):
    # a->b->c costs 2+3=5, direct a->c costs 10: the longer path wins
    e = spark.createDataFrame(
        [("a", "b", 2), ("b", "c", 3), ("a", "c", 10)],
        "src string, dst string, w long",
    )
    got = {r.node: r.dist
           for r in graph.sssp_distances(e, ["a"], n_rounds=3).collect()}
    assert got == {"a": 0, "b": 2, "c": 5}


def test_sssp_round_bound_and_parallel_edge_min(spark):
    # parallel a->b edges collapse to the min; d needs 3 relaxations so
    # it is absent at n_rounds=2 (documented <=k-edge contract)
    e = spark.createDataFrame(
        [("a", "b", 7), ("a", "b", 4), ("b", "c", 1), ("c", "d", 1)],
        "src string, dst string, w long",
    )
    two = {r.node: r.dist
           for r in graph.sssp_distances(e, ["a"], n_rounds=2).collect()}
    assert two == {"a": 0, "b": 4, "c": 5}
    three = {r.node: r.dist
             for r in graph.sssp_distances(e, ["a"], n_rounds=3).collect()}
    assert three == {"a": 0, "b": 4, "c": 5, "d": 6}


def test_triangle_counts_two_sharing_an_edge(spark):
    # triangles {a,b,c} and {b,c,d} share edge (b,c); e dangles off a
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("b", "d"), ("d", "c"),
         ("a", "e")],
        "src string, dst string",
    )
    got = {r.node: r.n_triangles
           for r in graph.triangle_counts(e).collect()}
    assert got == {"a": 1, "b": 2, "c": 2, "d": 1}  # e absent: 0


def test_triangle_counts_ignore_direction_dups_and_loops(spark):
    # one triangle stated with mixed directions, a duplicate edge, and a
    # self-loop — counted exactly once per node
    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("c", "b"), ("a", "c"), ("a", "a")],
        "src string, dst string",
    )
    got = {r.node: r.n_triangles
           for r in graph.triangle_counts(e).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangle_counts_star_has_none(spark):
    # a hub with many spokes but no closing edges: no triangles, and the
    # degree orientation means the hub never enumerates spoke pairs
    e = spark.createDataFrame(
        [("hub", f"s{i}") for i in range(10)], "src string, dst string"
    )
    assert graph.triangle_counts(e).count() == 0


def test_triangle_counts_k4_complete(spark):
    # K4: every node sits in C(3,2)=3 triangles
    nodes = ["a", "b", "c", "d"]
    e = spark.createDataFrame(
        [(u, v) for u in nodes for v in nodes if u < v],
        "src string, dst string",
    )
    got = {r.node: r.n_triangles
           for r in graph.triangle_counts(e).collect()}
    assert got == {n: 3 for n in nodes}


def test_kcore_peels_tail_keeps_clique(spark):
    # K4 {a,b,c,d} with a tail d-e-f: the 2-core is exactly the K4 (f
    # peels in round 1, e in round 2), each survivor at degree 3
    nodes = ["a", "b", "c", "d"]
    k4 = [(u, v) for u in nodes for v in nodes if u < v]
    e = spark.createDataFrame(
        k4 + [("d", "e"), ("e", "f")], "src string, dst string"
    )
    got = {r.node: r.degree
           for r in graph.kcore_nodes(e, k=2, n_rounds=3).collect()}
    assert got == {n: 3 for n in nodes}


def test_kcore_fixed_rounds_partial_then_empty(spark):
    # path a-b-c-d-e under k=2: round 1 strips the endpoints, round 2
    # strips b,d, round 3 strips c — the fixed-round contract exposes the
    # sound over-approximation at n_rounds=1 and the empty exact core
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    one = {r.node: r.degree
           for r in graph.kcore_nodes(e, k=2, n_rounds=1).collect()}
    assert one == {"b": 1, "c": 2, "d": 1}
    assert graph.kcore_nodes(e, k=2, n_rounds=3).count() == 0
    with pytest.raises(ValueError):
        graph.kcore_nodes(e, k=0)


def test_kcore_ignores_direction_dups_and_loops(spark):
    # triangle stated with mixed directions, a duplicate edge, and a
    # self-loop: the 2-core is the triangle at degree 2 each
    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("c", "b"), ("a", "c"), ("a", "a")],
        "src string, dst string",
    )
    got = {r.node: r.degree
           for r in graph.kcore_nodes(e, k=2, n_rounds=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


@pytest.fixture(scope="module")
def quad_store(spark):
    from multilingual_wiki_event_pipeline_spark.operators import quads as q
    g1 = spark.createDataFrame(
        [("e1", "type", "Fire"), ("e1", "loc", "NL"), ("s", "p", "both")],
        "subj string, pred string, obj string",
    )
    g2 = spark.createDataFrame(
        [("e1", "type", "Flood"), ("e2", "loc", "DE"), ("s", "p", "both")],
        "subj string, pred string, obj string",
    )
    dflt = spark.createDataFrame(
        [("e1", "label", "fire one"), ("e2", "label", "ev two")],
        "subj string, pred string, obj string",
    )
    return q.union_graphs({"graph:a": g1, "graph:b": g2}, default=dflt)


def test_graph_var_binds_named_graphs_only(quad_store):
    from multilingual_wiki_event_pipeline_spark.operators import quads as q
    # ?g must range over named graphs (never the default sentinel), and
    # joins to the default-graph label pattern on ?e
    pats = q.graph_patterns([("?e", "type", "?t")], "?g") + \
        q.default_patterns([("?e", "label", "?l")])
    got = sorted(map(tuple, bgp.bgp_match(quad_store, patterns=pats).collect()))
    assert got == [("e1", "graph:a", "fire one", "Fire"),
                   ("e1", "graph:b", "fire one", "Flood")]
    # the default graph's 'label' triples are invisible to GRAPH ?g
    lab = bgp.bgp_match(
        quad_store, patterns=q.graph_patterns([("?e", "label", "?l")], "?g")
    )
    assert lab.count() == 0


def test_graph_constant_pins_one_graph(quad_store):
    from multilingual_wiki_event_pipeline_spark.operators import quads as q
    got = bgp.bgp_match(
        quad_store, patterns=q.graph_patterns([("?e", "type", "?t")], "graph:a")
    )
    assert sorted(map(tuple, got.collect())) == [("e1", "Fire")]


def test_graph_var_joins_within_group(quad_store):
    from multilingual_wiki_event_pipeline_spark.operators import quads as q
    # both patterns in one GRAPH ?g group must match in the SAME graph:
    # type+loc co-occur only in graph:a (e1) — graph:b's loc is e2
    pats = q.graph_patterns([("?e", "type", "?t"), ("?e", "loc", "?w")], "?g")
    got = sorted(map(tuple, bgp.bgp_match(quad_store, patterns=pats).collect()))
    assert got == [("e1", "graph:a", "Fire", "NL")]


def test_dataset_from_merges_with_set_semantics(quad_store):
    from multilingual_wiki_event_pipeline_spark.operators import quads as q
    ds = q.dataset(quad_store, from_graphs=["graph:a", "graph:b"])
    # ('s','p','both') lives in BOTH source graphs: the merged default
    # graph holds it ONCE (RDF merge, not bag union)
    got = bgp.bgp_match(
        ds, patterns=q.default_patterns([("s", "p", "?o")])
    )
    assert [r.o for r in got.collect()] == ["both"]
    # and the original default graph is gone from the active dataset
    assert bgp.bgp_match(
        ds, patterns=q.default_patterns([("?e", "label", "?l")])
    ).count() == 0


def test_dataset_from_named_restricts_graph_var(quad_store):
    from multilingual_wiki_event_pipeline_spark.operators import quads as q
    ds = q.dataset(quad_store, from_named=["graph:b"])
    got = bgp.bgp_match(
        ds, patterns=q.graph_patterns([("?e", "type", "?t")], "?g")
    )
    assert sorted(map(tuple, got.collect())) == [("e1", "graph:b", "Flood")]
    # FROM NAMED alone implies an empty default graph
    assert bgp.bgp_match(
        ds, patterns=q.default_patterns([("?e", "label", "?l")])
    ).count() == 0


def test_graph_path_constant_ok_variable_raises(spark):
    from multilingual_wiki_event_pipeline_spark.operators import quads as q
    edges = spark.createDataFrame(
        [("a", "sub", "b"), ("b", "sub", "c")],
        "subj string, pred string, obj string",
    )
    store = q.union_graphs({"graph:o": edges})
    got = bgp.bgp_match(
        store, patterns=q.graph_patterns([("a", "sub+", "?x")], "graph:o")
    )
    assert sorted(r.x for r in got.collect()) == ["b", "c"]
    with pytest.raises(ValueError, match="paths are per-graph"):
        bgp.bgp_match(
            store, patterns=q.graph_patterns([("a", "sub+", "?x")], "?g")
        ).collect()


def test_bfs_distances_path_graph(spark):
    # a -> b -> c -> d chain plus a shortcut a -> c
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")],
        "src string, dst string",
    )
    got = {
        r.node: r.dist
        for r in graph.bfs_distances(e, ["a"], max_depth=5).collect()
    }
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_distances_multi_source_and_depth_cutoff(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    got = {
        r.node: r.dist
        for r in graph.bfs_distances(e, ["a", "x"], max_depth=1).collect()
    }
    # depth 1: c is beyond the cutoff and absent; disconnected islands
    # each measure from their own source
    assert got == {"a": 0, "b": 1, "x": 0, "y": 1}
    with pytest.raises(ValueError):
        graph.bfs_distances(e, [])


def test_symmetrize(spark):
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    rows = {(r.src, r.dst) for r in graph.symmetrize(e).collect()}
    assert rows == {("a", "b"), ("b", "a")}


# --- Label propagation ------------------------------------------------------


def _lpa_reference(edge_rows, n_iters):
    """Tiny pure-Python synchronous LPA with the pinned tie-break
    (most-frequent in-neighbor label, smallest label on ties) — the
    differential oracle for the distributed implementation."""
    from collections import Counter, defaultdict

    in_nbrs = defaultdict(list)
    for s, d in set(edge_rows):
        in_nbrs[d].append(s)
    labels = {n for e in edge_rows for n in e}
    labels = {n: n for n in labels}
    for _ in range(n_iters):
        labels = {
            n: min(
                Counter(labels[u] for u in in_nbrs[n]).items(),
                key=lambda kv: (-kv[1], kv[0]),
            )[0] if in_nbrs[n] else labels[n]  # no in-nbrs: keep label
            for n in labels
        }
    return labels


def _lpa_dict(spark, edge_rows, n_iters):
    e = spark.createDataFrame(edge_rows, "src string, dst string")
    return {
        r.node: r.label
        for r in graph.label_propagation(e, n_iters=n_iters).collect()
    }


def test_lpa_disconnected_cliques_flood_to_local_min(spark):
    # two disconnected triangles: each floods to its own smallest node id
    # within 2 rounds — two communities, one label each
    tri1 = [("a1", "a2"), ("a2", "a3"), ("a1", "a3")]
    tri2 = [("b1", "b2"), ("b2", "b3"), ("b1", "b3")]
    pairs = tri1 + tri2
    edges = pairs + [(d, s) for s, d in pairs]
    got = _lpa_dict(spark, edges, n_iters=2)
    assert got == {"a1": "a1", "a2": "a1", "a3": "a1",
                   "b1": "b1", "b2": "b1", "b3": "b1"}


def test_lpa_bridge_flooding_matches_reference(spark):
    # add one bridge edge between the triangles: the min-label tie-break
    # makes the globally smallest label invade across the bridge (a
    # documented artifact of deterministic sync LPA) — pin that the
    # distributed impl reproduces the reference's flooding exactly
    tri1 = [("a1", "a2"), ("a2", "a3"), ("a1", "a3")]
    tri2 = [("b1", "b2"), ("b2", "b3"), ("b1", "b3")]
    pairs = tri1 + tri2 + [("a1", "b1")]
    edges = pairs + [(d, s) for s, d in pairs]
    got = _lpa_dict(spark, edges, n_iters=3)
    assert got == _lpa_reference(edges, 3)
    assert got == {n: "a1" for n in got}


def test_lpa_matches_reference_on_random_graph(spark):
    import random

    rng = random.Random(42)
    nodes = [f"n{i:02d}" for i in range(20)]
    pairs = {
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(60)
    }
    pairs = [(s, d) for s, d in pairs if s != d]
    edges = pairs + [(d, s) for s, d in pairs]
    for iters in (1, 4):
        assert _lpa_dict(spark, edges, iters) == _lpa_reference(edges, iters)


def test_lpa_duplicate_edges_collapse(spark):
    edges = [("a", "b"), ("b", "a")]
    assert _lpa_dict(spark, edges + edges, 2) == _lpa_dict(spark, edges, 2)


def test_lpa_directed_keeps_no_in_edge_nodes(spark):
    # directed chain a->b->c: "a" has no in-edges, so the per-round
    # keep-label join runs and keeps it (with its own label) while its
    # label floods down the chain.
    edges = [("a", "b"), ("b", "c")]
    got = _lpa_dict(spark, edges, n_iters=2)
    assert got == {"a": "a", "b": "a", "c": "a"}
    assert got == _lpa_reference(edges, 2)


def test_lpa_symmetrized_strategy_equivalence(spark, both_strategies):
    # on symmetrized edges the keep-label join is skipped; broadcast and
    # shuffle rounds compute the reference's labels
    pairs = [("a1", "a2"), ("a2", "a3"), ("a1", "a3"), ("a1", "b1"),
             ("b1", "b2")]
    edges = pairs + [(d, s) for s, d in pairs]
    e = spark.createDataFrame(edges, "src string, dst string")
    bcast, shuffle = both_strategies(
        lambda: {r.node: r.label
                 for r in graph.label_propagation(e, 3).collect()})
    assert bcast == shuffle == _lpa_reference(edges, 3)


# --- as-of join -------------------------------------------------------------


@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [(1, "k1", 100), (2, "k1", 50), (3, "k2", 10), (4, "k3", 99)],
        "probe_id long, k string, t long",
    )
    right = spark.createDataFrame(
        # k1: states at 40, 100, 100 (tie), 120; k2: none before 10
        [(10, "k1", 40), (11, "k1", 100), (12, "k1", 100), (13, "k1", 120),
         (14, "k2", 11)],
        "state_id long, k string, st long",
    )
    return left, right


def _run(left, right, **kw):
    out = temporal.asof_join(
        left, right, key="k", left_time="t", right_time="st",
        right_payload=["state_id", "st"], tie_break="state_id", **kw
    )
    return {
        r.probe_id: (r.asof.state_id, r.asof.st) if r.asof else None
        for r in out.collect()
    }


def test_asof_basic_latest_at_or_before(asof_frames):
    got = _run(*asof_frames)
    # probe 1 at t=100: states 11 and 12 tie on time -> greatest state_id
    assert got[1] == (12, 100)
    assert got[2] == (10, 40)   # only state 40 precedes t=50
    assert got[3] is None       # k2's only state is after the probe
    assert got[4] is None       # k3 has no states at all


def test_asof_strict_before(asof_frames):
    got = _run(*asof_frames, allow_exact_matches=False)
    assert got[1] == (10, 40)   # the t=100 states no longer match
    assert got[2] == (10, 40)


def test_asof_matches_pandas_merge_asof(spark):
    """Differential test vs pandas.merge_asof — the public semantics
    reference — on a seeded random workload dense with timestamp ties,
    unmatched keys, and keys present on only one side. pandas breaks
    right-side time ties by taking the LAST row in sorted order, so a
    stable sort by (time, tie) makes its choice equal to our greatest-
    tie_break rule."""
    import random

    import pandas as pd

    rng = random.Random(1234)
    keys = ["a", "b", "c", "d"]
    left_pd = pd.DataFrame({
        "probe_id": range(200),
        "k": [rng.choice(keys) for _ in range(200)],
        "t": [rng.randrange(0, 40) for _ in range(200)],
    })
    right_pd = pd.DataFrame({
        "state_id": range(300),
        "k": [rng.choice(keys + ["e"]) for _ in range(300)],
        "st": [rng.randrange(0, 40) for _ in range(300)],
    })
    for exact in (True, False):
        merged = pd.merge_asof(
            left_pd.sort_values("t", kind="stable"),
            right_pd.sort_values(["st", "state_id"], kind="stable"),
            left_on="t", right_on="st", by="k",
            direction="backward", allow_exact_matches=exact,
        )
        expected = {
            int(r.probe_id):
                None if pd.isna(r.state_id) else int(r.state_id)
            for r in merged.itertuples()
        }
        out = temporal.asof_join(
            spark.createDataFrame(left_pd),
            spark.createDataFrame(right_pd),
            key="k", left_time="t", right_time="st",
            right_payload=["state_id"], tie_break="state_id",
            allow_exact_matches=exact,
        ).collect()
        got = {
            r.probe_id: (r.asof.state_id if r.asof else None) for r in out
        }
        assert got == expected, f"allow_exact_matches={exact}"


def test_asof_keeps_all_left_columns_and_rows(asof_frames):
    left, right = asof_frames
    out = temporal.asof_join(
        left.withColumn("extra", F.lit("x")), right, key="k",
        left_time="t", right_time="st",
        right_payload=["state_id"], tie_break="state_id",
    )
    assert out.count() == left.count()
    assert set(out.columns) == {"probe_id", "k", "t", "extra", "asof"}


def _ppr_dict(spark, edges, seeds, n_iters):
    e = spark.createDataFrame(edges, "src string, dst string")
    s = spark.createDataFrame([(x,) for x in seeds], "node string")
    return {
        r["node"]: r["rank_e12"]
        for r in graph.personalized_pagerank(e, s, n_iters=n_iters).collect()
    }


def test_ppr_one_iteration_hand_computed(spark):
    # a -> b, b -> a, c -> a; seed = {a}: all initial mass on a
    ranks = _ppr_dict(
        spark, [("a", "b"), ("b", "a"), ("c", "a")], ["a"], n_iters=1)
    S = graph.SCALE
    # r0: a=S, b=0, c=0. round 1: a gets base + 85% of (b->a 0 + c->a 0);
    # b gets 85% of a's full mass; c gets nothing (non-seed, no in-edge)
    assert ranks["a"] == (15 * S) // 100
    assert ranks["b"] == (85 * S) // 100
    assert ranks["c"] == 0


def test_ppr_proximity_orders_by_distance_from_seed(spark):
    # chain seeded at one end. A path is bipartite, so synchronous
    # iteration oscillates between the two parity classes — the robust
    # invariant at finite rounds is decay WITHIN a parity class (the
    # full ordering only holds at the stationary limit)
    chain = [("n0", "n1"), ("n1", "n2"), ("n2", "n3"), ("n3", "n4")]
    edges = chain + [(b, a) for a, b in chain]
    ranks = _ppr_dict(spark, edges, ["n0"], n_iters=6)
    assert ranks["n0"] > ranks["n2"] > ranks["n4"]   # even distances
    assert ranks["n1"] > ranks["n3"]                 # odd distances


def test_ppr_seeds_outside_graph_ignored(spark):
    ranks = _ppr_dict(spark, [("a", "b"), ("b", "a")], ["a", "ghost"],
                      n_iters=2)
    # only 'a' survives the semi-join: teleport unit is SCALE div 1
    assert set(ranks) == {"a", "b"}
    assert ranks["a"] > ranks["b"] > 0
    # no seed in the graph: the teleport is undefined
    with pytest.raises(ValueError):
        _ppr_dict(spark, [("a", "b"), ("b", "a")], ["ghost"], n_iters=1)


# ---------------------------------------------------------------- gapfill/scd2


def _ts(day, hour=0):
    from datetime import datetime

    return datetime(2024, 1, day, hour, 0, 0)


def test_gapfill_locf_fills_gaps_and_picks_last_of_day(spark):
    rows = [
        # user 1: day 1 (two events -- the LATER one governs), day 3;
        # day 2 is a gap carrying day 1's last state
        (1, 1, _ts(1, 9), "login"),
        (2, 1, _ts(1, 17), "purchase"),
        (3, 1, _ts(3, 8), "logout"),
        # user 2: single observation -> single row, nothing filled
        (4, 2, _ts(5), "login"),
    ]
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string")
    out = temporal.gapfill_locf(
        e, "user_id", "ts", "event_type", bucket="DAY", tie_col="event_id")
    got = {(r["user_id"], r["bucket_ts"].day): (r["state"], r["filled"])
           for r in out.collect()}
    assert got == {
        (1, 1): ("purchase", False),   # last event of day 1 wins
        (1, 2): ("purchase", True),    # gap carries day 1 forward
        (1, 3): ("logout", False),
        (2, 5): ("login", False),
    }


def test_gapfill_locf_multiday_gap_single_governor(spark):
    rows = [(1, 1, _ts(1), "a"), (2, 1, _ts(5), "b")]
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string")
    out = temporal.gapfill_locf(
        e, "user_id", "ts", "event_type", bucket="DAY", tie_col="event_id")
    by_day = {r["bucket_ts"].day: (r["state"], r["filled"])
              for r in out.collect()}
    assert by_day == {1: ("a", False), 2: ("a", True), 3: ("a", True),
                      4: ("a", True), 5: ("b", False)}


def test_scd2_history_collapse_and_close(spark):
    rows = [
        (1, 1, _ts(1), "login"),
        (2, 1, _ts(2), "login"),      # duplicate state: NO new version
        (3, 1, _ts(3), "purchase"),   # change: closes version 1
        (4, 2, _ts(1), "browse"),     # other key: independent history
    ]
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string")
    out = temporal.scd2_history(
        e, "user_id", "ts", "event_type", tie_col="event_id")
    got = sorted(
        (r["user_id"], r["state"], r["valid_from"].day,
         r["valid_to"].day if r["valid_to"] else None, r["is_current"])
        for r in out.collect())
    assert got == [
        (1, "login", 1, 3, False),
        (1, "purchase", 3, None, True),
        (2, "browse", 1, None, True),
    ]


def test_scd2_history_zero_duration_version_kept(spark):
    # two different states at the SAME timestamp: tie_col orders them;
    # the first becomes a zero-duration version closed at its own
    # valid_from -- the auditable pass-through record
    rows = [(1, 1, _ts(1), "a"), (2, 1, _ts(1), "b")]
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string")
    out = {r["state"]: r for r in temporal.scd2_history(
        e, "user_id", "ts", "event_type", tie_col="event_id").collect()}
    assert out["a"]["valid_to"] == out["a"]["valid_from"]
    assert out["a"]["is_current"] is False
    assert out["b"]["is_current"] is True and out["b"]["valid_to"] is None


def test_rolling_days_range_frame_excludes_stale_days(spark):
    # user 1: days 1, 2, then a jump to day 20 — the trailing week at
    # day 20 must contain ONLY day 20 (a ROWS frame would wrongly pull
    # in days 1-2); at day 2 it contains days 1-2
    rows = [
        (1, 1, _ts(1), 2.0),
        (2, 1, _ts(1, 6), 4.0),
        (3, 1, _ts(2), 10.0),
        (4, 1, _ts(20), 100.0),
    ]
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double")
    out = {r["day"]: r for r in temporal.rolling_days(
        e, "user_id", "ts", "value", days=7).collect()}
    assert out["2024-01-01"]["n_events_7d"] == 2
    assert out["2024-01-01"]["value_micro_7d"] == 6_000_000
    assert out["2024-01-02"]["n_events_7d"] == 3
    assert out["2024-01-02"]["value_micro_7d"] == 16_000_000
    assert out["2024-01-20"]["n_events_7d"] == 1        # RANGE, not ROWS
    assert out["2024-01-20"]["value_micro_7d"] == 100_000_000


def test_rolling_days_window_boundary_inclusive(spark):
    # exactly days-1 apart is IN the window; days apart is out
    rows = [(1, 1, _ts(1), 1.0), (2, 1, _ts(7), 1.0), (3, 1, _ts(8), 1.0)]
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double")
    out = {r["day"]: r["n_events_7d"] for r in temporal.rolling_days(
        e, "user_id", "ts", "value", days=7).collect()}
    assert out["2024-01-07"] == 2   # day 1 still inside [1, 7]
    assert out["2024-01-08"] == 2   # day 1 aged out; days 7, 8 remain


def _random_events(n_users=8, n_events=300, n_days=20, seed=11):
    import random
    from datetime import datetime, timedelta

    rng = random.Random(seed)
    rows = []
    for eid in range(n_events):
        rows.append((
            eid,
            rng.randrange(n_users),
            datetime(2024, 1, 1) + timedelta(
                days=rng.randrange(n_days),
                seconds=rng.randrange(86400)),
            rng.choice(["a", "b", "c", "d"]),
            round(rng.uniform(-5, 5), 3),
        ))
    return rows


def test_gapfill_locf_invariants_random(spark):
    """Differential check vs a pure-Python reference on a seeded random
    corpus: dense per-key calendars, correct governing observation for
    every filled row."""
    rows = _random_events()
    e = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double")
    out = temporal.gapfill_locf(
        e, "user_id", "ts", "event_type", bucket="DAY",
        tie_col="event_id").collect()

    # pure-Python reference
    daily = {}
    for eid, uid, ts, et, _v in rows:
        k = (uid, ts.date())
        if k not in daily or (ts, eid) > daily[k][0]:
            daily[k] = ((ts, eid), et)
    expect = {}
    for uid in {r[1] for r in rows}:
        days = sorted(d for (u, d) in daily if u == uid)
        state = None
        d = days[0]
        while d <= days[-1]:
            if (uid, d) in daily:
                state = daily[(uid, d)][1]
                expect[(uid, d)] = (state, False)
            else:
                expect[(uid, d)] = (state, True)
            from datetime import timedelta

            d = d + timedelta(days=1)
    got = {(r["user_id"], r["bucket_ts"].date()): (r["state"], r["filled"])
           for r in out}
    assert got == expect


def test_scd2_history_invariants_random(spark):
    rows = _random_events()
    e = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double")
    out = temporal.scd2_history(
        e, "user_id", "ts", "event_type", tie_col="event_id").collect()
    by_user: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r["user_id"], r["valid_from"])):
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, versions in by_user.items():
        # exactly one open version, and it is the last
        assert [v["is_current"] for v in versions].count(True) == 1
        assert versions[-1]["is_current"] and versions[-1]["valid_to"] is None
        for a, b in zip(versions, versions[1:]):
            # versions tile the timeline and adjacent states differ
            assert a["valid_to"] == b["valid_from"]
            assert a["state"] != b["state"]
        # reference: replay the log
        log = sorted((r for r in _random_events() if r[1] == uid),
                     key=lambda r: (r[2], r[0]))
        collapsed = []
        for _eid, _uid, ts, et, _v in log:
            if not collapsed or collapsed[-1][1] != et:
                collapsed.append((ts, et))
        assert [(v["valid_from"], v["state"]) for v in versions] == collapsed


def test_rolling_days_invariants_random(spark):
    rows = _random_events()
    e = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double")
    out = temporal.rolling_days(e, "user_id", "ts", "value", days=7).collect()
    daily: dict[tuple, list] = {}
    for _eid, uid, ts, _et, v in rows:
        daily.setdefault((uid, ts.date()), []).append(round(v * 1e6))
    for r in out:
        uid = r["user_id"]
        from datetime import date, timedelta

        d = date.fromisoformat(r["day"])
        win = [(k, vs) for (k, vs) in (
            ((u, dd), daily[(u, dd)]) for (u, dd) in daily
            if u == uid and d - timedelta(days=6) <= dd <= d
        )]
        n = sum(len(vs) for _k, vs in win)
        s = sum(sum(vs) for _k, vs in win)
        assert r["n_events_7d"] == n
        assert r["value_micro_7d"] == s
        assert r["n_events"] == len(daily[(uid, d)])
