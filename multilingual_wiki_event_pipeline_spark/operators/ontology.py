"""Ontology ancestor closure + incident type expansion (SURVEY S3/J10 —
reference utils.py:489-569).

The reference materializes the Wikidata subclass-of subgraph under the
event node ``wd:Q1656682`` into a networkx digraph (utils.py:489-552) and
``update_incident`` (utils.py:555-569) expands an incident's direct
instance-of values to every node on a root→type path; the ``subsumed_by``
event-type matching mode (utils.py:117-118) matches an incident to a
collection type through exactly this closure.

Spark-first: the closure is an iterative equi-join over the
``ontology_edges(child, parent)`` table (the DataFrame form of a recursive
CTE), unrolled for a fixed ``max_depth`` rounds in one lazy plan: no
checkpoint and no convergence count, so building it starts no Spark job.
Wikidata's subclass DAG is ≤ ~20 deep, the default round count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EVENT_ROOT = "wd:Q1656682"  # reference utils.py:557 top node


def ancestor_closure(edges: DataFrame, max_depth: int = 20,
                     reflexive: bool = True) -> DataFrame:
    """edges(child, parent) -> (node, ancestor), transitive; reflexive
    (node itself included) by default — ``update_incident`` wants the type
    itself on the root path. ``reflexive=False`` seeds the iteration from
    the edge set instead of the identity relation, yielding PROPER
    ancestors only (sound for a DAG): for consumers that would otherwise
    filter ``node != ancestor`` afterwards, this drops one identity row
    per node from every iteration's join+distinct instead of carrying them
    to the end (round-4 verdict: the r4 reflexive+filter fold was the one
    regressed bench query whose code changed; BENCH/j10_ab.md carries the
    sentinel-metered A/B of the two shapes)."""
    edges = F.broadcast(edges.select("child", "parent").distinct())
    if reflexive:
        anc = edges.select(F.col("child").alias("node")).unionByName(
            edges.select(F.col("parent").alias("node"))
        ).distinct().select("node", F.col("node").alias("ancestor"))
    else:
        anc = edges.select(
            F.col("child").alias("node"), F.col("parent").alias("ancestor")
        ).distinct()
    # r6: one round = LEFT join against the broadcast edge table, emit the
    # kept row and the one-hop extension from a single explode, distinct.
    # Same fixpoint step as the old join+unionByName+distinct, but ``anc``
    # is referenced ONCE per round, so the lazy plan grows LINEARLY in
    # rounds (union referenced it twice -> exponential, which is what
    # forced eager localCheckpoints + convergence-count jobs every 3
    # rounds). All ``max_depth`` rounds now run as ONE job of tiny
    # broadcast-join + distinct stages — no checkpoint or count jobs at
    # all; rounds past the fixpoint are no-ops (distinct absorbs them),
    # so dropping the early-exit cannot change the result.
    for i in range(max_depth):
        anc = (
            anc.join(edges, anc.ancestor == edges.child, "left")
            .select(
                "node",
                F.explode(F.array("ancestor", "parent")).alias("ancestor"),
            )
            .filter(F.col("ancestor").isNotNull())
        )
        # distinct every second round (and on the last): the exchange is
        # what costs a stage, and between distincts the row multiset can
        # only grow 4x (keep+extend per row), so halving the distincts
        # halves the sequential tiny-stage latency that dominates these
        # dimension-sized closures
        if i % 2 == 1 or i == max_depth - 1:
            anc = anc.distinct()
    return anc


def incident_ancestors(incident_direct_types: DataFrame,
                       ontology_edges: DataFrame,
                       root: str = EVENT_ROOT,
                       max_depth: int = 20) -> DataFrame:
    """update_incident (utils.py:555-569): per incident, the union over its
    direct types of all nodes on root→type paths. For the tree-shaped
    ontology this is {type .. root} per REACHABLE type; unreachable types
    (no root path, nx.all_simple_paths yields nothing) contribute nothing.

    Returns (incident_id, ancestor) distinct. The closure side is
    ontology-sized (dimension), so the only fact-sized operation is one
    broadcast join from direct_types to the packed path dimension.
    """
    anc = ancestor_closure(ontology_edges, max_depth=max_depth)
    rooted = anc.join(
        anc.filter(F.col("ancestor") == root).select("node"),
        "node",
        "left_semi",
    )
    return (
        incident_direct_types.join(
            F.broadcast(rooted),
            incident_direct_types["direct_type"] == rooted["node"],
        )
        .select("incident_id", "ancestor")
        .distinct()
    )


def type_index(incident_direct_types: DataFrame,
               incidents: DataFrame) -> DataFrame:
    """A5 (classes.py:355-359 get_index_event_type2wdt_ids): direct type ->
    sorted incident ids, restricted to the given incident set."""
    return (
        incident_direct_types.join(
            incidents.select("incident_id"), "incident_id", "left_semi"
        )
        .groupBy(F.col("direct_type").alias("event_type"))
        .agg(F.sort_array(F.collect_set("incident_id")).alias("wdt_ids"))
    )


def subsumed_incidents(incident_direct_types: DataFrame,
                       ontology_edges: DataFrame, type_qid: str,
                       root: str = EVENT_ROOT) -> DataFrame:
    """The subsumed_by matching mode (utils.py:117-118): incidents whose
    direct-type closure contains ``type_qid``."""
    return (
        incident_ancestors(incident_direct_types, ontology_edges, root=root)
        .filter(F.col("ancestor") == type_qid)
        .select("incident_id")
        .distinct()
    )
