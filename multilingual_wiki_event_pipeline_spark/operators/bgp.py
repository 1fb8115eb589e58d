"""SPARQL basic-graph-pattern (BGP) matching over a triples DataFrame.

The reference *consumes* SPARQL (it queries Wikidata's endpoint to seed
incidents — reference `utils.py:33-83` builds SELECT queries over event
types and bindings); the KG it *produces* is written to disk with no query
layer on top. This module closes that loop Spark-first: a conjunctive
triple-pattern query over the (subj, pred, obj) table the K3 sink emits,
compiled to a chain of filtered scans + equi-joins so Catalyst gets the
whole plan — constant terms become pushed-down scan predicates, shared
variables become join keys, and AQE picks broadcast/shuffle per pattern
selectivity at runtime.

Semantics (SPARQL 1.1 BGP, bag semantics):
- a pattern is a (subject, predicate, object) triple of terms;
- a term starting with ``?`` is a variable, anything else matches the
  column value exactly (IRIs and literals are both plain strings in the
  triple table — the ``obj_is_literal``/``datatype`` columns are carried
  by the store, not consulted by term matching);
- each pattern contributes one solution per matching triple; patterns
  compose by natural join on their shared variables (bag semantics — no
  implicit DISTINCT, matching SPARQL SELECT);
- OPTIONAL groups are SPARQL left joins (new variables null where the
  group misses); FILTER is a post-join Spark SQL predicate over the
  variable columns (Catalyst pushes it back down where legal). A FILTER
  written INSIDE an OPTIONAL group (the ``{"patterns": ..., "filters":
  ...}`` form) is scoped to the group per SPARQL 1.1: it restricts which
  group solutions exist BEFORE the left join, so required solutions the
  filtered group misses still come back (with nulls) — whereas the same
  expression as a top-level FILTER would evaluate to NULL on those rows
  and silently turn the left join into an inner one (the classic SPARQL
  filter-scope trap);
- a constant predicate may be a SPARQL 1.1 property path: ``p+`` /
  ``p*`` closures (iterative equi-join via the ontology closure
  operator, checkpointed; ``*`` adds the identity over all graph nodes
  per spec), ``p?`` zero-or-one, ``^p`` inverse, ``a/b`` sequence,
  ``a|b`` alternation, ``!(a|^b)`` negated property sets, ``(...)``
  grouping — composable, e.g. ``^a/b+`` or ``(a|b)/c``; wrap a
  predicate in ``<...>`` to force literal-IRI matching (real IRIs
  contain ``/``);
- the rest of the SELECT surface: VALUES (broadcast inline-binding join),
  DISTINCT (set semantics), ORDER BY / LIMIT (TakeOrdered top-k when both
  present), and UNION (``bgp_union`` — unionByName with null for unbound
  branch variables).

Scale notes (100 TB): each pattern is one filtered scan of the triple
table — predicate/object constants reach the parquet reader as
PushedFilters, so a store partitioned (or z-ordered) by ``pred`` prunes to
the touched predicates only. A constant subject over a store written by
``sinks.write_triples``/``write_quads`` also prunes to one ``bucket=``
directory: the store records its salt-bucket count ``n`` on ``subj``, and
the pattern adds ``bucket = pmod(hash(<subject>), n)``, which Catalyst
folds into a PartitionFilter. That predicate is added only when the
pattern's input is a plain scan of such a store
(``sinks.subject_bucket_filter``). Joins are plain equi-joins on variable
columns: selective patterns (constant-rich) produce small sides that AQE
broadcasts; the pattern frames are not re-clustered (a 1-task scan joins
as it is; AQE sizes the join's shuffle); nothing in the compilation is
driver-side or per-row Python. Disconnected pattern groups are rejected rather than silently compiled to
a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sinks import subject_bucket_filter

TRIPLE_COLS = ("subj", "pred", "obj")
GRAPH_COL = "g"
# the default graph's reserved tag in a quad store (operators/quads.py) —
# GRAPH ?var ranges over NAMED graphs only per SPARQL 1.1, so the
# variable-graph scan excludes it
DEFAULT_GRAPH = "urn:x-default"


def is_var(term: str) -> bool:
    return term.startswith("?")


def parse_bgp(text: str) -> list[tuple[str, str, str]]:
    """Parse a whitespace-separated BGP string: patterns joined by ``.``,
    each exactly three terms; double quotes around a term are stripped
    (literals with spaces are out of scope for this mini-syntax)."""
    patterns = []
    for clause in text.split("."):
        clause = clause.strip()
        if not clause:
            continue
        terms = clause.split()
        if len(terms) != 3:
            raise ValueError(f"pattern needs exactly 3 terms: {clause!r}")
        patterns.append(tuple(t.strip('"') for t in terms))
    if not patterns:
        raise ValueError("empty basic graph pattern")
    return patterns


# upper bound on closure rounds for p+/p* paths. The closure operator
# checks convergence every few rounds and stops early, so raising this
# costs nothing on shallow graphs; chains deeper than this bound are
# silently truncated (document at call sites if your KG has them).
PATH_MAX_DEPTH = 60


def _split_top(p: str, sep: str) -> list[str]:
    """Split a path expression on ``sep`` at bracket depth zero —
    ``<...>``-wrapped IRIs are opaque (they legitimately contain ``/``,
    ``|``, and parens), and ``(...)`` groups nest. Parens are counted
    only outside angle brackets."""
    parts, buf, angle, paren = [], [], 0, 0
    for ch in p:
        if ch == "<":
            angle += 1
        elif ch == ">":
            angle = max(0, angle - 1)
        elif angle == 0 and ch == "(":
            paren += 1
        elif angle == 0 and ch == ")":
            paren = max(0, paren - 1)
        if ch == sep and angle == 0 and paren == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return parts


def _paren_wrapped(p: str) -> bool:
    """Is the whole expression one ``(...)`` group? (Not e.g.
    ``(a)/(b)``, whose first paren closes mid-string.) Parens inside
    ``<...>`` IRIs don't count."""
    if not (p.startswith("(") and p.endswith(")")):
        return False
    angle, paren = 0, 0
    for i, ch in enumerate(p):
        if ch == "<":
            angle += 1
        elif ch == ">":
            angle = max(0, angle - 1)
        elif angle == 0 and ch == "(":
            paren += 1
        elif angle == 0 and ch == ")":
            paren -= 1
            if paren == 0:
                return i == len(p) - 1
    return False


def _is_path(p: str) -> bool:
    """Is a constant predicate a property-path expression? ``|``/``/``
    outside ``<...>`` brackets, leading ``^``/``(``/``!``, or a trailing
    ``+``/``*``/``?`` (with something before it). A fully bracket-wrapped
    IRI is never a path (handled before this is asked), but bracketed
    steps may appear INSIDE a composite path (``^<http://ex.org/p>/q``)."""
    return (
        len(_split_top(p, "|")) > 1
        or len(_split_top(p, "/")) > 1
        or p.startswith(("^", "(", "!"))
        or (len(p) > 1 and p[-1] in "+*?")
    )


def _path_edges(triples: DataFrame, p: str,
                extra_nodes: tuple[str, ...] = ()) -> DataFrame:
    """Compile a SPARQL 1.1 property-path expression to its edge relation
    ``(subj, obj)`` — every pair connected by the path. ``extra_nodes``
    carries the enclosing pattern's constant endpoints, needed only by
    the ``*`` zero-length identity (see below).

    Grammar (operator precedence low→high; ``(...)`` groups override it,
    e.g. ``(a|b)/c`` or ``(a/b)+``; parens inside ``<...>`` IRIs are
    literal):

    - ``a|b``  alternation: union of the branch relations (shuffle-free);
    - ``a/b``  sequence: equi-join obj→subj through each step;
    - ``^p``   inverse: the swapped scan;
    - ``!(a|^b)`` negated property set: one scan with a NOT-IN predicate
      on pred (forward members), unioned with the swapped NOT-IN scan
      for ``^``-inversed members — members must be plain IRIs per spec;
    - ``p+``   one-or-more: transitive closure via the ontology
      operator's iterative equi-join (broadcast edges, checkpointed);
    - ``p*``   zero-or-more: the ``+`` closure UNION the identity over
      ALL graph nodes (per spec a zero-length path relates every node in
      the graph to itself, not just nodes touching ``p``);
    - ``p?``   zero-or-one: the step's edges UNION the same identity;
    - anything else: one filtered scan of the triple table (constant
      pred → PushedFilters).
    """
    alts = _split_top(p, "|")
    if len(alts) > 1:
        return _union_all(
            [_path_edges(triples, q, extra_nodes) for q in alts]
        )
    steps = _split_top(p, "/")
    if len(steps) > 1:
        out = _path_edges(triples, steps[0], extra_nodes)
        for step in steps[1:]:
            nxt = _path_edges(triples, step, extra_nodes).select(
                F.col("subj").alias("_mid"), F.col("obj").alias("_obj")
            )
            out = (
                out.join(nxt, out.obj == nxt._mid)
                .select("subj", F.col("_obj").alias("obj"))
            )
        return out
    # trailing modifier binds to the PathPrimary per the SPARQL grammar
    # (so !p? is (!p)? — this must run before the ^/! prefixes; for ^
    # the two orders are semantically equal: closure/identity of the
    # inverse == inverse of the closure/identity)
    if len(p) > 1 and p[-1] in "+*?":
        if p[-1] == "?":
            return _path_edges(triples, p[:-1], extra_nodes).unionByName(
                _zero_length(triples, extra_nodes)
            ).distinct()
        from .ontology import ancestor_closure

        edges = _path_edges(triples, p[:-1], extra_nodes).select(
            F.col("subj").alias("child"), F.col("obj").alias("parent")
        )
        closure = ancestor_closure(
            edges, max_depth=PATH_MAX_DEPTH, reflexive=False
        ).select(
            F.col("node").alias("subj"), F.col("ancestor").alias("obj")
        )
        if p[-1] == "*":
            closure = closure.unionByName(
                _zero_length(triples, extra_nodes)
            ).distinct()  # a cyclic p+ already contains (c,c) pairs
        return closure
    if p.startswith("^"):
        return _path_edges(triples, p[1:], extra_nodes).select(
            F.col("obj").alias("subj"), F.col("subj").alias("obj")
        )
    if p.startswith("!"):
        inner = p[1:]
        if _paren_wrapped(inner):
            inner = inner[1:-1]
        fwd, rev = [], []
        for m in _split_top(inner, "|"):
            m = m.strip()
            inv = m.startswith("^")
            if inv:
                m = m[1:]
            if m.startswith("<") and m.endswith(">") and not _is_path(m):
                m = m[1:-1]
            elif not m or _is_path(m):
                raise ValueError(
                    "negated property sets take only IRIs (optionally "
                    f"^-inversed), got {m!r} in {p!r}"
                )
            (rev if inv else fwd).append(m)
        parts = []
        if fwd or not rev:  # !(^a) alone has no forward component
            parts.append(
                triples.filter(~F.col("pred").isin(fwd))
                .select("subj", "obj")
            )
        if rev:
            parts.append(
                triples.filter(~F.col("pred").isin(rev)).select(
                    F.col("obj").alias("subj"), F.col("subj").alias("obj")
                )
            )
        return _union_all(parts)
    if _paren_wrapped(p):
        return _path_edges(triples, p[1:-1], extra_nodes)
    base = p[1:-1] if p.startswith("<") and p.endswith(">") else p
    return triples.filter(F.col("pred") == base).select("subj", "obj")


def _union_all(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out


def _zero_length(triples: DataFrame,
                 extra_nodes: tuple[str, ...]) -> DataFrame:
    """The SPARQL 1.1 ZeroLengthPath identity: every node relates to
    itself — ALL graph nodes plus the enclosing pattern's constant
    endpoints (a bound term matches itself even when it appears nowhere
    in the graph)."""
    nodes = (
        triples.select("subj")
        .unionByName(triples.select(F.col("obj").alias("subj")))
    )
    if extra_nodes:
        spark = triples.sparkSession
        nodes = nodes.unionByName(
            spark.createDataFrame([(n,) for n in extra_nodes],
                                  "subj string")
        )
    return nodes.distinct().select("subj", F.col("subj").alias("obj"))


def _compile_pattern(triples: DataFrame,
                     pattern: tuple[str, str, str]) -> tuple[DataFrame, set]:
    """One pattern -> (DataFrame with one column per variable, var set).

    Constants filter; variables project (renamed to the variable name).
    A variable repeated inside one pattern (e.g. ``?x :p ?x``) becomes an
    intra-pattern equality filter.

    A 4-term pattern is a QUAD pattern: the 4th term matches the
    ``GRAPH_COL`` column of a quad store (operators/quads.py) — a
    constant pins the named graph (the ``DEFAULT_GRAPH`` sentinel pins
    the default graph), a variable binds the graph name and, per SPARQL
    1.1, ranges over NAMED graphs only (the sentinel is excluded).
    Property paths inside a variable-graph quad pattern raise (a path
    can hop across graphs; evaluate paths against one graph via the
    constant form or ``quads.graph_view``).

    A constant predicate may be a SPARQL 1.1 property-path expression
    (see ``_path_edges``): ``p+`` / ``p*`` closures, ``^p`` inverse,
    ``a/b`` sequence, ``a|b`` alternation. The compiled path frame stands
    in for the triple scan (its pred column carries the path expression
    itself), so variables/constants in subject/object position compose
    exactly as for a plain pattern. A predicate wrapped in ``<...>`` is a
    literal IRI — never path-interpreted (real IRIs contain ``/``) — with
    the brackets stripped before matching.

    A constant subject over a plain store scan also filters
    ``bucket = pmod(hash(<subject>), n)`` (``sinks.subject_bucket_filter``):
    a partition filter that reads only that subject's bucket directory.
    """
    cols = TRIPLE_COLS + (GRAPH_COL,) if len(pattern) == 4 else TRIPLE_COLS
    if len(pattern) == 4:
        gterm = pattern[3]
        if is_var(gterm):
            # GRAPH ?g ranges over named graphs only (SPARQL 1.1 §13.3)
            triples = triples.filter(F.col(GRAPH_COL) != F.lit(DEFAULT_GRAPH))
        if not is_var(pattern[1]) and _is_path(pattern[1]):
            if is_var(gterm):
                raise ValueError(
                    f"property path {pattern[1]!r} inside GRAPH "
                    f"{gterm} — paths are per-graph; pin the graph or "
                    "use quads.graph_view"
                )
            # constant graph: the filter consumes the 4th term and the
            # path compiles against that single graph's triple view
            triples = triples.filter(F.col(GRAPH_COL) == F.lit(gterm))
            pattern, cols = pattern[:3], TRIPLE_COLS
    p = pattern[1]
    if not is_var(p):
        # path test FIRST: "<a>/<b>" both starts with "<" and ends with
        # ">" but is a sequence of two bracketed steps, not one IRI —
        # _is_path's bracket-aware splits classify it correctly
        if _is_path(p):
            endpoints = tuple(
                t for t in (pattern[0], pattern[2]) if not is_var(t)
            )
            triples = _path_edges(triples, p, endpoints).select(
                "subj", F.lit(p).alias("pred"), "obj"
            )
        elif p.startswith("<") and p.endswith(">"):
            pattern = (pattern[0], p[1:-1], pattern[2]) + pattern[3:]
    df = triples
    if not is_var(pattern[0]):
        pin = subject_bucket_filter(triples, pattern[0])
        if pin is not None:
            df = df.filter(pin)
    var_to_col: dict[str, str] = {}
    for term, col in zip(pattern, cols):
        if is_var(term):
            name = term[1:]
            if not name:
                raise ValueError(f"bare '?' in pattern {pattern!r}")
            if name in var_to_col:
                df = df.filter(F.col(col) == F.col(var_to_col[name]))
            else:
                var_to_col[name] = col
        else:
            df = df.filter(F.col(col) == F.lit(term))
    if not var_to_col:
        raise ValueError(
            f"pattern {pattern!r} has no variables (ASK-style existence "
            "checks: add a variable and aggregate, or filter upstream)"
        )
    proj = [F.col(c).alias(v) for v, c in var_to_col.items()]
    return df.select(*proj), set(var_to_col)


def _join_group(triples: DataFrame,
                patterns: list[tuple[str, str, str]]) -> tuple[DataFrame, set]:
    """Compile one connected pattern group to its natural join.

    Join order is greedy-connected: starting from the first pattern, each
    round joins the earliest remaining pattern that shares a variable with
    what's already bound (so listing order never forces a bad plan, and
    AQE re-plans the join strategy per stage anyway). A group whose
    variable graph is disconnected would be a cartesian product, which
    this refuses to compile.
    """
    compiled = [_compile_pattern(triples, p) for p in patterns]
    result, bound = compiled[0]
    pending = list(range(1, len(compiled)))
    while pending:
        pick = next((i for i in pending if bound & compiled[i][1]), None)
        if pick is None:
            left = [patterns[i] for i in pending]
            raise ValueError(
                f"patterns {left!r} share no variable with {sorted(bound)} "
                "— disconnected BGP would compile to a cartesian product"
            )
        df, pvars = compiled[pick]
        result = result.join(df, on=sorted(bound & pvars), how="inner")
        bound |= pvars
        pending.remove(pick)
    return result, bound


def _compile_group(triples: DataFrame, group) -> tuple[DataFrame, set, set]:
    """Normalize one OPTIONAL/MINUS/[NOT-]EXISTS group spec — a pattern
    list, a BGP string, ``{"patterns": ..., "filters": [...]}`` with
    group-scoped filters applied before the enclosing join, or a full
    ``bgp_match`` kwargs dict (nested groups/UNION/BIND/VALUES/negation
    compile recursively) — to its compiled (DataFrame, variable set,
    certainly-bound variable set)."""
    gfilters: list[str] = []
    if isinstance(group, dict):
        if set(group) - {"patterns", "filters"}:
            kwargs = dict(group)
            gdf = bgp_match(triples, **kwargs)
            return gdf, set(gdf.columns), _certain_vars(kwargs, gdf.columns)
        gfilters = list(group.get("filters", []))
        group = group["patterns"]
    if isinstance(group, str):
        group = parse_bgp(group)
    gdf, gvars = _join_group(triples, group)
    for pred in gfilters:
        gdf = gdf.filter(F.expr(pred))
    return gdf, gvars, gvars


def _certain_vars(kwargs: dict, cols) -> set:
    """The variables a ``bgp_match`` branch binds in EVERY solution —
    i.e. everything except variables that can come back null/unbound
    (OPTIONAL-introduced vars, BIND results, non-grouping aggregate
    outputs). Conservative by construction: used to decide whether an
    equi-join on a shared variable is faithful to SPARQL's
    compatible-join (an unbound variable is compatible with anything;
    a SQL NULL join key matches nothing)."""
    req: set = set()
    pats = kwargs.get("patterns") or []
    if isinstance(pats, str):
        pats = parse_bgp(pats)
    for t in pats:
        req |= {x.lstrip("?") for x in t if is_var(x)}
    for v, col in (kwargs.get("values") or {}).items():
        if all(x is not None for x in col):  # UNDEF rows leave it null
            req.add(v.lstrip("?$"))
    for ug in kwargs.get("union_groups") or []:
        ug_certain = None
        for b in ug:
            bk = dict(b) if isinstance(b, dict) else {"patterns": b}
            bc = _certain_vars(bk, None)
            ug_certain = bc if ug_certain is None else (ug_certain & bc)
        req |= ug_certain or set()
    for s in kwargs.get("sub_selects") or []:
        # a subquery's projection is treated as fully bound (documented:
        # one projecting an OPTIONAL-introduced var may still carry nulls)
        req |= set(s.columns)
    if kwargs.get("aggregates") or kwargs.get("group_by"):
        gvars = {g.lstrip("?") for g in kwargs.get("group_by") or []}
        req &= gvars  # aggregate outputs can be null (e.g. max of nulls)
    if cols is not None:
        req &= set(cols)
    return req


def _check_certain_join(shared: set, certain: set) -> None:
    """Refuse an equi-join on variables the group side can leave
    unbound (null): SPARQL's compatible-join treats unbound as matching
    anything, SQL NULL keys match nothing — silently wrong rows."""
    uncertain = shared - certain
    if uncertain:
        raise ValueError(
            f"join variables {sorted(uncertain)} are shared with the "
            "enclosing group but not bound in every UNION branch / "
            "group solution — an equi-join would drop solutions "
            "SPARQL's compatible-join keeps (unbound is compatible "
            "with anything); distribute the joining pattern into each "
            "branch instead"
        )


def _compile_union_group(triples: DataFrame,
                         branches: list) -> tuple[DataFrame, set]:
    """Compile an inline ``{ A } UNION { B }`` group (or a bare
    ``{ ... }`` group — a 1-element list) to its solution DataFrame plus
    the set of variables bound in EVERY branch solution. Spark shape:
    each branch is its own ``bgp_match`` plan, concatenated by
    ``unionByName`` with null for variables a branch doesn't bind — no
    shuffle of its own."""
    if not branches:
        raise ValueError("empty UNION group")
    out = bgp_union(triples, branches)  # one union construction to rule
    certain = None
    for g in branches:
        kwargs = dict(g) if isinstance(g, dict) else {"patterns": g}
        c = _certain_vars(kwargs, out.columns)
        certain = c if certain is None else (certain & c)
    return out, certain


def bgp_match(triples: DataFrame,
              patterns: list[tuple[str, str, str]] | str | None = None,
              optional: list[list[tuple[str, str, str]] | str] | None = None,
              filters: list[str] | None = None,
              select: list[str] | None = None,
              values: dict[str, list] | None = None,
              binds: list[tuple[str, str]] | None = None,
              sub_selects: list[DataFrame] | None = None,
              union_groups: list[list] | None = None,
              minus: list | None = None,
              not_exists: list | None = None,
              exists: list | None = None,
              exists_binds: list[tuple[str, object]] | None = None,
              group_by: list[str] | None = None,
              aggregates: dict[str, str] | None = None,
              having: list[str] | None = None,
              distinct: bool = False,
              order_by: list[str] | None = None,
              offset: int | None = None,
              limit: int | None = None) -> DataFrame:
    """Match a SPARQL-SELECT-shaped query against
    ``triples(subj, pred, obj, ...)``.

    - ``patterns``: the required BGP — one column per distinct variable,
      one row per solution (bag semantics).
    - ``optional``: OPTIONAL groups (SPARQL left-join semantics): each
      group is itself a connected BGP, joined to the required solutions
      with a LEFT join on the shared variables — its new variables come
      back null where the group doesn't match. Groups must share at least
      one variable with the required part. A group may also be a dict
      ``{"patterns": <BGP>, "filters": [<expr>, ...]}``: its filters are
      scoped INSIDE the group (applied before the left join), matching
      SPARQL's FILTER-inside-OPTIONAL semantics — required solutions the
      filtered group misses survive with nulls.
    - ``filters``: FILTER expressions — Spark SQL boolean strings over the
      variable columns (e.g. ``"etime >= '2024-02'"``), applied after all
      joins. Catalyst pushes them down past the joins where legal, so a
      filter on a single pattern's variable still reaches that scan.
    - ``select``: projected variables (default: all, sorted by name).
    - ``values``: SPARQL VALUES inline bindings — ``{"?actor": ["u1",
      "u7"]}`` joins the solutions against a broadcast literal table on
      the named variables (multi-variable dicts bind positionally: the
      lists are parallel rows). Must share at least one variable with the
      pattern solutions (a disjoint VALUES would be a cartesian product).
      ``None`` is SPARQL UNDEF: such a row constrains only the variables
      it binds. Rows partition by their bound-mask; each mask group is
      its own broadcast equi-join (all-UNDEF rows multiply solutions
      unconstrained), unioned with nulls for UNDEF vars — every data row
      pairs once with each compatible solution, the spec's multiset
      join. Joining VALUES on an OPTIONAL-introduced variable raises
      (unbound is compatible with everything in SPARQL; a SQL NULL key
      matches nothing).
    - ``binds``: SPARQL BIND — an ordered list of ``(name, expr)`` pairs,
      each a Spark SQL expression over the variables bound so far (earlier
      binds included), evaluated per solution with ``withColumn`` — a pure
      projection, no shuffle. Applied after the group's joins and VALUES
      and before negation/filters/aggregation, so FILTER / MINUS /
      NOT EXISTS correlation / GROUP BY / SELECT / ORDER BY all see the
      bound variable. Documented deviation from strict SPARQL sequencing:
      triple patterns cannot join ON a BIND-introduced variable (binding
      an already-in-scope name raises, per spec).
    - ``sub_selects``: SPARQL subqueries — already-compiled solution
      DataFrames (one column per projected variable, e.g. another
      ``bgp_match`` result, typically aggregated), each natural-joined to
      the enclosing group on the shared variables, greedy-connected like
      the patterns themselves (a subquery sharing no variable with
      anything bound — including OPTIONAL-introduced variables — would
      be a cartesian product and raises). A body may be subqueries-only:
      the first subquery seeds the solution set. Documented deviation
      from SPARQL's in-text-order evaluation: subqueries that connect to
      required-pattern variables join BEFORE the OPTIONAL groups
      (equivalent to writing them first); a subquery correlated only on
      OPTIONAL-introduced variables joins after them (inner join, so
      optional-miss NULL rows drop — SPARQL's own result when the
      subquery follows the OPTIONAL in text).
    - ``union_groups``: inline SPARQL group patterns — each element is a
      LIST of branch specs (each a BGP or a ``bgp_match`` kwargs dict,
      recursively), compiled to one solution frame per
      ``_compile_union_group`` and joined to the enclosing solutions on
      the shared variables exactly like a subquery (same greedy
      two-pass connect, same disconnected-group rejection). A 1-element
      list is a bare ``{ ... }`` group (its FILTERs scoped inside, per
      SPARQL); 2+ elements are ``{ A } UNION { B }`` branches. A body
      may be union-groups-only: the first one seeds the solution set.
      Soundness guard instead of a silent deviation: if a shared join
      variable is not bound in EVERY branch (or is OPTIONAL-introduced /
      an aggregate output inside a branch), the equi-join would drop
      solutions SPARQL's compatible-join keeps (unbound matches
      anything, SQL NULL matches nothing) — that case raises with a
      rewrite hint rather than returning wrong rows.
    - ``minus`` / ``not_exists``: SPARQL negation, both compiled to a
      LEFT ANTI join on the variables shared with the solution set — the
      shuffle-free-when-broadcastable plan Spark was built for. The two
      differ exactly where the spec says they do: a ``minus`` group
      sharing NO variable removes nothing (MINUS is defined by domain
      compatibility, and disjoint-domain solutions are never compatible),
      while a ``not_exists`` group sharing no variable is an uncorrelated
      existence test — if it matches anything, every solution drops.
      Documented deviation: a shared variable that is NULL in a solution
      (an OPTIONAL miss) never matches in the anti-join (SQL null
      equality), whereas strict SPARQL substitution treats an unbound
      variable as leaving the negation pattern free — so negation
      correlated on optional-introduced variables keeps such rows here
      where SPARQL's NOT EXISTS may drop them. Correlate negation on
      required-pattern variables to stay clear of the corner.
    - ``exists``: positive ``FILTER EXISTS`` groups — each compiled to a
      LEFT SEMI join on the shared variables (the dual of
      ``not_exists``): solutions survive iff the group matches, and are
      never multiplied however many matches exist (the semantic
      difference from simply joining the pattern in). An uncorrelated
      group is an existence test: every solution survives iff the group
      matches anything. Same NULL caveat as negation: a shared variable
      NULL in a solution never matches in the semi join.
    - ``exists_binds``: ``(flag_name, group)`` pairs for EXISTS used
      INSIDE a larger filter expression (``FILTER(EXISTS {..} || ?x =
      "y")``): the group compiles to a boolean flag column — a left join
      against the group's DISTINCT shared-variable projection (truth
      only, never multiplies; uncorrelated groups use the broadcast
      1-row emptiness probe) — the ``filters`` expressions reference the
      flag (negate with ``NOT flag``), and flags drop after the filters
      run. Correlating on an OPTIONAL-introduced variable raises (the
      SQL NULL key would silently diverge from SPARQL substitution).
    - ``group_by`` / ``aggregates`` / ``having``: SPARQL aggregation —
      ``group_by`` lists grouping variables, ``aggregates`` maps output
      names to Spark SQL aggregate expressions over the variable columns
      (``{"n": "count(ev)", "latest": "max(etime)"}``; like SPARQL,
      ``count(var)`` skips unbound/null bindings), ``having`` filters
      groups post-aggregation. ``aggregates`` alone (no ``group_by``) is
      SPARQL's single implicit group. After aggregation the bound
      variables are the grouping vars + aggregate names; ``select``/
      ``order_by`` refer to those. One shuffle on the grouping keys,
      partial aggregation map-side.
    - ``distinct``: SELECT DISTINCT set semantics (one shuffle on the
      projected columns).
    - ``order_by``: ORDER BY terms, each ``"var"`` or ``"var desc"``,
      applied to the projected solution sequence. With ``limit`` Spark
      plans TakeOrdered (per-partition top-k + single merge — no global
      sort); without it this is a full global sort, which is the query's
      own request.
    - ``offset`` / ``limit``: OFFSET k / LIMIT n, in SPARQL's modifier
      order (skip k solutions, then return up to n) — Spark plans a
      single GlobalLimit-with-offset over the (ordered) solution
      sequence.
    """
    if isinstance(patterns, str):
        patterns = parse_bgp(patterns)
    # solution frames to greedy-connect: subqueries (every projected
    # column treated as certainly bound) and inline union/group blocks
    # (certain = vars bound in every branch)
    subs = [(s, set(s.columns)) for s in (sub_selects or [])]
    subs += [_compile_union_group(triples, g) for g in (union_groups or [])]
    # two classes of possibly-NULL solution variables, guarded
    # differently: null_risk (introduced null-able by a UNION branch not
    # binding them, or by VALUES UNDEF) makes ANY later equi-join on
    # them unsound — raise; opt_null (OPTIONAL-introduced) keeps the
    # module's documented join semantics and only raises where silence
    # would be a NEW deviation (VALUES, exists_binds).
    null_risk: set = set()
    opt_null: set = set()

    def _check_result_side(shared: set, what: str) -> None:
        bad = shared & null_risk
        if bad:
            raise ValueError(
                f"{what} joins on variables {sorted(bad)} that an "
                "earlier UNION branch / VALUES row can leave unbound — "
                "an unbound solution is compatible with anything in "
                "SPARQL but a SQL NULL key matches nothing; bind the "
                "variable in every branch/row or restructure the query"
            )

    if patterns:
        result, bound = _join_group(triples, patterns)
    elif subs:
        result, seed_certain = subs.pop(0)
        bound = set(result.columns)
        null_risk |= bound - seed_certain
    else:
        raise ValueError("empty basic graph pattern")
    def _connect_subs(result, bound):
        # greedy-connect every subquery/group frame that shares a
        # variable with the solution set; leave the rest for a later
        # pass (they may only connect through OPTIONAL-introduced
        # variables)
        while subs:
            pick = next(
                (i for i, (s, _) in enumerate(subs)
                 if bound & set(s.columns)),
                None,
            )
            if pick is None:
                return result, bound
            s, certain = subs.pop(pick)
            shared = bound & set(s.columns)
            _check_certain_join(shared, certain)
            _check_result_side(shared, "a subquery/UNION group")
            result = result.join(s, on=sorted(shared), how="inner")
            null_risk.update(set(s.columns) - certain - bound)
            bound |= set(s.columns)
        return result, bound

    result, bound = _connect_subs(result, bound)
    for group in optional or []:
        gdf, gvars, certain = _compile_group(triples, group)
        shared = bound & gvars
        if not shared:
            raise ValueError(
                f"OPTIONAL group {group!r} shares no variable with "
                f"{sorted(bound)} — a disconnected OPTIONAL would be a "
                "cartesian product"
            )
        _check_certain_join(shared, certain)
        _check_result_side(shared, "an OPTIONAL group")
        result = result.join(gdf, on=sorted(shared), how="left")
        opt_null |= gvars - bound  # optional-miss rows leave them NULL
        bound |= gvars
    # second pass: subqueries that connect only through
    # OPTIONAL-introduced variables join here (inner join — an
    # optional-miss NULL never matches, so such rows drop)
    result, bound = _connect_subs(result, bound)
    if subs:
        left = [sorted(s.columns) for s, _ in subs]
        raise ValueError(
            f"subqueries/UNION groups projecting {left!r} share no "
            f"variable with {sorted(bound)} — a disconnected group "
            "would be a cartesian product"
        )
    if values:
        vvars = [v.lstrip("?") for v in values]
        if not bound & set(vvars):
            raise ValueError(
                f"VALUES variables {sorted(vvars)} share nothing with "
                f"{sorted(bound)} — a disjoint VALUES would be a cartesian "
                "product"
            )
        undef_shared = bound & set(vvars) & (null_risk | opt_null)
        if undef_shared:
            raise ValueError(
                f"VALUES joins on possibly-unbound variables "
                f"{sorted(undef_shared)} (OPTIONAL-introduced or not "
                "bound by every UNION branch / VALUES row) — an unbound "
                "solution is compatible with every VALUES row in SPARQL "
                "but a SQL NULL key matches none; bind the variable in "
                "the required part or move the VALUES before it"
            )
        lengths = {v: len(values[v]) for v in values}
        if len(set(lengths.values())) > 1 or 0 in lengths.values():
            raise ValueError(
                f"VALUES lists must be parallel non-empty rows, got "
                f"lengths {lengths}"
            )
        # SPARQL UNDEF (None): a row constrains only the variables it
        # binds. Rows partition by their bound-mask; each mask group is
        # its own broadcast equi-join (or a multiplicity-only cross for
        # all-UNDEF rows), unioned with nulls for the vars a group
        # leaves UNDEF — each data row pairs with each compatible
        # solution exactly once, the spec's multiset join.
        rows = list(zip(*[values[v] for v in values]))
        by_mask: dict[tuple, list] = {}
        for r in rows:
            by_mask.setdefault(
                tuple(x is not None for x in r), []
            ).append(r)
        pieces = []
        for mask in sorted(by_mask):
            grows = by_mask[mask]
            gvars = [v for v, m in zip(vvars, mask) if m]
            if not gvars:  # all-UNDEF: one copy of every solution per row
                mult = result.sparkSession.range(len(grows)).toDF(
                    "__values_mult"
                )
                pieces.append(
                    result.crossJoin(F.broadcast(mult))
                    .drop("__values_mult")
                )
                continue
            vdf = result.sparkSession.createDataFrame(
                [tuple(x for x in r if x is not None) for r in grows],
                gvars,
            )
            shared = sorted(bound & set(gvars))
            if shared:
                pieces.append(result.join(F.broadcast(vdf), on=shared))
            else:  # binds only fresh vars: every row extends every
                pieces.append(result.crossJoin(F.broadcast(vdf)))
        result = pieces[0]
        for p in pieces[1:]:
            result = result.unionByName(p, allowMissingColumns=True)
        for v in set(vvars) - set(result.columns):
            # a variable UNDEF in every row and not otherwise bound:
            # stays in scope as unbound (all-null), per SPARQL
            result = result.withColumn(v, F.lit(None).cast("string"))
        null_risk |= {
            # UNDEF can only null a variable VALUES itself introduces —
            # a pattern-bound one keeps the solution's value in every
            # mask group (the join never overwrites the result side)
            v for v, col in zip(vvars, zip(*rows))
            if any(x is None for x in col) and v not in bound
        }
        bound |= set(vvars)
    for name, expr in binds or []:
        name = name.lstrip("?$")
        if name in bound:
            raise ValueError(
                f"BIND would rebind in-scope variable ?{name} (SPARQL "
                "requires a fresh variable; patterns cannot join on a "
                "BIND-introduced variable here)"
            )
        result = result.withColumn(name, F.expr(expr))
        bound.add(name)
    for kind, groups in (("minus", minus), ("not_exists", not_exists),
                         ("exists", exists)):
        for group in groups or []:
            gdf, gvars, certain = _compile_group(triples, group)
            shared = bound & gvars
            if shared:
                _check_certain_join(shared, certain)
                _check_result_side(shared, f"a {kind.upper()} group")
                how = "left_semi" if kind == "exists" else "left_anti"
                result = result.join(gdf, on=sorted(shared), how=how)
            elif kind != "minus":
                # uncorrelated [NOT] EXISTS: keep all solutions iff the
                # group is [non]empty — a broadcast 1-row count, no
                # collect
                empty = F.broadcast(
                    gdf.limit(1).agg(F.count("*").alias("_n"))
                )
                want = 1 if kind == "exists" else 0
                result = result.crossJoin(empty).filter(
                    F.col("_n") == want
                ).drop("_n")
            # MINUS with no shared variable removes nothing (spec):
            # disjoint-domain solutions are never compatible
    # EXISTS used INSIDE a larger filter expression: each group becomes
    # a boolean flag column (left join against the group's distinct
    # shared-variable projection — truth only, never multiplies), the
    # filter references the flag, flags drop after the filters run
    flag_cols: list[str] = []
    for name, group in exists_binds or []:
        if name in bound:
            raise ValueError(f"exists_binds name {name!r} is already "
                             "a solution variable")
        gdf, gvars, certain = _compile_group(triples, group)
        shared = bound & gvars
        if shared:
            _check_certain_join(shared, certain)
            undef = shared & (null_risk | opt_null)
            if undef:
                raise ValueError(
                    f"EXISTS in a filter expression correlates on "
                    f"possibly-unbound variables {sorted(undef)} — "
                    "an unbound solution leaves the variable free in "
                    "SPARQL's substitution but a SQL NULL key matches "
                    "nothing; restructure so the variable is required"
                )
            marker = gdf.select(*sorted(shared)).distinct().withColumn(
                name, F.lit(True)
            )
            result = result.join(marker, on=sorted(shared), how="left")
            result = result.withColumn(
                name, F.coalesce(F.col(name), F.lit(False))
            )
        else:  # uncorrelated: one broadcast 1-row emptiness probe
            empty = F.broadcast(
                gdf.limit(1).agg(F.count("*").alias("_n"))
            )
            result = result.crossJoin(empty).withColumn(
                name, F.col("_n") == 1
            ).drop("_n")
        flag_cols.append(name)
    for pred in filters or []:
        result = result.filter(F.expr(pred))
    if flag_cols:
        result = result.drop(*flag_cols)
    if aggregates or group_by:
        if not aggregates:
            raise ValueError("GROUP BY without aggregates — use distinct "
                             "for plain grouping-as-dedup")
        gvars = [g.lstrip("?") for g in group_by or []]
        missing = set(gvars) - bound
        if missing:
            raise ValueError(f"GROUP BY of unbound variables: "
                             f"{sorted(missing)}")
        aggs = [F.expr(e).alias(name) for name, e in aggregates.items()]
        result = result.groupBy(*gvars).agg(*aggs)
        bound = set(gvars) | set(aggregates)
    for pred in having or []:
        result = result.filter(F.expr(pred))
    out = sorted(bound) if select is None else list(select)
    missing = set(out) - bound
    if missing:
        raise ValueError(f"select of unbound variables: {sorted(missing)}")
    result = result.select(*out)
    if distinct:
        result = result.distinct()
    if order_by:
        keys = []
        for term in order_by:
            parts = term.split()
            col = F.col(parts[0])
            keys.append(
                col.desc() if len(parts) > 1 and parts[1].lower() == "desc"
                else col.asc()
            )
        result = result.orderBy(*keys)
    if offset is not None:
        result = result.offset(offset)
    if limit is not None:
        result = result.limit(limit)
    return result


def bgp_construct(triples: DataFrame,
                  template: list[tuple[str, str, str]],
                  patterns: list[tuple[str, str, str]] | str | None = None,
                  **match_kwargs) -> DataFrame:
    """SPARQL CONSTRUCT: instantiate ``template`` triples once per WHERE
    solution, returning a new ``(subj, pred, obj)`` graph.

    The reference's whole pipeline is a CONSTRUCT in spirit (structured
    rows in, triples out — `utils.py:33-83` builds the query side against
    Wikidata); this operator closes the loop on the produced store:
    matched solutions (``bgp_match`` with any of its SELECT kwargs) are
    projected through each template triple — variables substitute their
    bindings, constants pass through — and the per-template outputs union
    into one graph with DISTINCT (CONSTRUCT emits an RDF *graph*, i.e.
    set semantics — the one place the bag-semantics rule flips). Template
    variables must be bound by the WHERE clause; solutions where a
    template variable is unbound (OPTIONAL miss) drop that instantiation
    only, per spec.

    Spark shape: one select per template triple over the shared solution
    plan + unionByName + a single distinct — the only shuffle CONSTRUCT
    adds on top of the match.
    """
    if not template:
        raise ValueError("empty CONSTRUCT template")
    sol = bgp_match(triples, patterns, **match_kwargs)
    bound = set(sol.columns)
    parts = []
    for t in template:
        tvars = {term.lstrip("?") for term in t if is_var(term)}
        missing = tvars - bound
        if missing:
            raise ValueError(
                f"CONSTRUCT template {t!r} uses unbound variables: "
                f"{sorted(missing)}"
            )
        cols = [
            (F.col(term.lstrip("?")) if is_var(term) else F.lit(term))
            .cast("string")
            .alias(c)
            for term, c in zip(t, TRIPLE_COLS)
        ]
        part = sol.select(*cols)
        if tvars:  # unbound (null) bindings drop the instantiation, per spec
            part = part.na.drop(subset=[
                c for term, c in zip(t, TRIPLE_COLS) if is_var(term)
            ])
        parts.append(part)
    return _union_all(parts).distinct()


def bgp_ask(triples: DataFrame,
            patterns: list[tuple[str, str, str]] | str | None = None,
            **match_kwargs) -> bool:
    """SPARQL ASK: does at least one solution exist? Compiles the same
    plan as ``bgp_match`` and probes it with ``limit(1)`` — Spark stops
    the scan at the first produced row (CollectLimit), so ASK never pays
    for the full solution set. The one deliberately driver-side operator
    in this module: ASK's result IS a scalar."""
    return bool(bgp_match(triples, patterns, **match_kwargs).limit(1).take(1))


def bgp_describe(triples: DataFrame, resources: list[str]) -> DataFrame:
    """SPARQL DESCRIBE (simple-description semantics: every triple whose
    subject OR object is a named resource — the common default; spec
    leaves the exact description form to the implementation). A single
    filtered scan with an IN predicate on both positions — pushed to the
    reader, no join."""
    if not resources:
        raise ValueError("DESCRIBE of no resources")
    return triples.select(*TRIPLE_COLS).filter(
        F.col("subj").isin(resources) | F.col("obj").isin(resources)
    )


def bgp_describe_solutions(triples: DataFrame,
                           solutions: DataFrame,
                           described: list[str],
                           extra_resources: list[str] = ()) -> DataFrame:
    """``DESCRIBE ?v ... WHERE { ... }``: describe every resource the
    solution sequence binds to the described variables (plus any
    explicitly named ones). Simple-description semantics as in
    :func:`bgp_describe`, but the resource set is data-dependent, so the
    OR-filter becomes two LEFT SEMI joins (subject hits, object hits)
    unioned and set-deduplicated — DESCRIBE returns a GRAPH. The
    distinct resource frame is small in practice; AQE broadcasts it."""
    if not described and not extra_resources:
        raise ValueError("DESCRIBE of no resources")
    missing = set(described) - set(solutions.columns)
    if missing:
        raise ValueError(
            f"DESCRIBE variables {sorted(missing)} are not bound by the "
            f"WHERE clause (solution vars: {sorted(solutions.columns)})"
        )
    res = None
    for v in described:
        part = solutions.select(F.col(v).alias("_r"))
        res = part if res is None else res.unionByName(part)
    if extra_resources:
        lit = triples.sparkSession.createDataFrame(
            [(r,) for r in extra_resources], ["_r"]
        )
        res = lit if res is None else res.unionByName(lit)
    res = res.filter(F.col("_r").isNotNull()).distinct()
    t = triples.select(*TRIPLE_COLS)
    by_subj = t.join(res, t["subj"] == res["_r"], "left_semi")
    by_obj = t.join(res, t["obj"] == res["_r"], "left_semi")
    return by_subj.unionByName(by_obj).distinct()


def bgp_union(triples: DataFrame, groups: list) -> DataFrame:
    """SPARQL UNION: the bag concatenation of each group's solutions.

    Each element of ``groups`` is either a BGP (pattern list or string)
    or a dict of ``bgp_match`` keyword arguments (``{"patterns": ...,
    "filters": ..., ...}``) — each branch compiles independently, then
    the solution sequences concatenate by variable NAME, with variables a
    branch doesn't bind coming back null (SPARQL's unbound). Column set =
    union of all branch variables, sorted. Spark shape: a plain unionByName
    of the branch plans — no shuffle of its own; each branch keeps its own
    pushed filters and join strategy.
    """
    if not groups:
        raise ValueError("empty UNION")
    branches = []
    for g in groups:
        kwargs = dict(g) if isinstance(g, dict) else {"patterns": g}
        branches.append(bgp_match(triples, **kwargs))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b, allowMissingColumns=True)
    return out.select(*sorted(out.columns))
