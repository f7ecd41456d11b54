"""Basic-graph-pattern queries over the triples table (Q5 parity).

The reference forwards SPARQL to an external Fuseki endpoint
(query_interface/sparql_interface.py:58-224); the equivalent analytics
surface here is Spark SQL over the materialized ``triples`` DataFrame.
This helper evaluates a conjunctive triple-pattern query (the core of
SPARQL SELECT) as a chain of self-joins:

    match(triples, [("?s", RDF_TYPE, KB + "TodoItem"),
                    ("?s", KB + "isCompleted", '"false"')])

Terms: ``?x`` variables, ``<...>``-free absolute IRIs, or ``"..."``
literal lexical forms.  Each pattern is a filtered projection of the
triples table; shared variables become equi-join keys.  Catalyst orders /
broadcasts the joins; selective patterns (bound predicate + object) prune
first — the same plan shape a SPARQL engine's BGP optimizer would pick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

Pattern = tuple[str, str, str]


def _is_var(term: str) -> bool:
    return term.startswith("?")


def _meta_cols(name: str) -> tuple[str, str]:
    return f"{name}__is_uri", f"{name}__datatype"


def match_bgp(triples: DataFrame, patterns: list[Pattern],
              with_meta: bool = False) -> DataFrame:
    """Evaluate a basic graph pattern; returns one column per variable.

    Joins are TERM-aware, not merely lexical: object-position bindings
    carry (is_uri, datatype) alongside the lexical value, shared
    object-position variables join on all three, and a variable shared
    between subject/predicate position (always a URI) and object
    position additionally constrains the object binding to URI terms —
    so a literal ``"http://x"`` never unifies with the URI ``http://x``.

    ``with_meta=True`` keeps the ``<var>__is_uri`` / ``<var>__datatype``
    columns in the output (datatype canonicalized to ``''`` for URIs /
    plain literals) — used by ``construct`` to emit faithful triples.
    """
    if not patterns:
        raise ValueError("empty basic graph pattern")
    all_vars = {t[1:] for pat in patterns for t in pat if _is_var(t)}
    for v in all_vars:
        if any(m in all_vars for m in _meta_cols(v)):
            raise ValueError(
                f"variable name collides with ?{v}'s internal meta columns")

    result: DataFrame | None = None
    res_meta: set[str] = set()     # vars whose term meta rides in `result`
    for i, (s, p, o) in enumerate(patterns):
        t = triples
        sel = []
        seen_vars: dict[str, str] = {}
        part_meta: set[str] = set()
        for term, col in ((s, "subj"), (p, "pred"), (o, "obj")):
            if _is_var(term):
                name = term[1:]
                if name in seen_vars:
                    # repeated variable within one pattern => equality
                    # constraint (SPARQL BGP semantics); if one side is
                    # the object, the term must be a URI to match the
                    # subject/predicate occurrence
                    t = t.filter(F.col(col) == F.col(seen_vars[name]))
                    if "obj" in (col, seen_vars[name]):
                        t = t.filter(F.col("obj_is_uri"))
                else:
                    seen_vars[name] = col
                    sel.append(F.col(col).alias(name))
                    if col == "obj":
                        mu, md = _meta_cols(name)
                        sel.append(F.col("obj_is_uri").alias(mu))
                        sel.append(F.coalesce(F.col("obj_datatype"),
                                              F.lit("")).alias(md))
                        part_meta.add(name)
            elif term.startswith('"'):
                t = t.filter((F.col(col) == term.strip('"')) & ~F.col("obj_is_uri")) \
                    if col == "obj" else t.filter(F.col(col) == term.strip('"'))
            else:
                t = t.filter(F.col(col) == term)
        part = t.select(*sel) if sel else t.select(F.lit(i).alias(f"_m{i}"))
        if result is None:
            result, res_meta = part, part_meta
            continue

        part_vars = set(part.columns).difference(
            *[_meta_cols(v) for v in part_meta] or [()])
        res_vars = set(result.columns).difference(
            *[_meta_cols(v) for v in res_meta] or [()])
        shared = sorted(part_vars & res_vars)
        join_cols = list(shared)
        for v in shared:
            if v in part_meta and v in res_meta:
                # object-position on both sides: term equality (datatype
                # is ''-canonicalized so the key is never null)
                join_cols += list(_meta_cols(v))
            elif v in res_meta:
                # this pattern binds v in subject/pred position -> URI
                result = result.filter(F.col(_meta_cols(v)[0]))
            elif v in part_meta:
                mu, md = _meta_cols(v)
                part = part.filter(F.col(mu)).drop(mu, md)
                part_meta.discard(v)
        result = result.join(part, on=join_cols, how="inner") if join_cols \
            else result.crossJoin(part)
        res_meta |= part_meta

    if not with_meta:
        result = result.drop(
            *[c for v in res_meta for c in _meta_cols(v)])
    # fully-ground patterns contribute `_m{i}` placeholder columns so the
    # join above keeps their existence-check semantics; they are not
    # solution variables and must not leak into the binding schema.  An
    # all-ground BGP keeps them (zero-column frames are degenerate; ask()
    # only counts rows).
    placeholders = [c for c in result.columns
                    if c.startswith("_m") and c[2:].isdigit()]
    if len(placeholders) < len(result.columns):
        result = result.drop(*placeholders)
    return result.distinct()


def _meta_vars(df: DataFrame) -> set[str]:
    """Variables whose term meta (is_uri/datatype) rides in the frame."""
    return {c[: -len("__is_uri")] for c in df.columns if c.endswith("__is_uri")}


def _plain_vars(df: DataFrame) -> set[str]:
    metas = {m for v in _meta_vars(df) for m in _meta_cols(v)}
    return {c for c in set(df.columns) - metas
            if not (c.startswith("_m") and c[2:].isdigit())}


def optional_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """SPARQL ``OPTIONAL`` (algebra LeftJoin) between two binding frames
    produced by ``match_bgp(..., with_meta=True)``: left solutions always
    survive; compatible right solutions extend them, incompatible ones
    leave the optional variables unbound (null).

    Term-aware like the inner joins: a variable bound in object position
    on both sides unifies on (lexical, is_uri, datatype); bound
    object-position on one side and subject/predicate-position (always a
    URI) on the other, the join additionally requires the object binding
    to be a URI term — without filtering the left frame, which must keep
    its rows per OPTIONAL semantics.
    """
    lm, rm = _meta_vars(left), _meta_vars(right)
    shared = sorted(_plain_vars(left) & _plain_vars(right))
    if not shared:
        # LeftJoin on disjoint variables: every compatible pair (all
        # pairs) — but left solutions MUST survive an empty optional
        # group with the optional vars unbound, so this is a left outer
        # join on true, NOT a crossJoin (which annihilates left rows
        # when the optional pattern matches nothing).
        return left.join(right, F.lit(True), "left")
    renames = {}
    r = right
    for v in shared:
        renames[v] = f"__r_{v}"
        r = r.withColumnRenamed(v, renames[v])
        if v in rm:
            mu, md = _meta_cols(v)
            if v in lm:
                r = r.withColumnRenamed(mu, f"__r_{mu}") \
                     .withColumnRenamed(md, f"__r_{md}")
            else:
                # left binds v in URI position: right's object binding
                # must be a URI term to be compatible
                r = r.filter(F.col(mu)).drop(mu, md)
    cond = None
    for v in shared:
        c = F.col(v) == F.col(renames[v])
        if v in lm and v in rm:
            mu, md = _meta_cols(v)
            c = c & (F.col(mu) == F.col(f"__r_{mu}")) \
                  & (F.col(md) == F.col(f"__r_{md}"))
        elif v in lm:
            # right binds v in URI position: left's object binding must
            # be a URI term — expressed in the JOIN condition so
            # incompatible left rows stay (with unbound optional vars)
            c = c & F.col(_meta_cols(v)[0])
        # SPARQL compatibility: a left solution where v is UNBOUND (null
        # from a prior OPTIONAL) is compatible with any right binding,
        # and the merged solution takes the right value (coalesce below)
        c = F.col(v).isNull() | c
        cond = c if cond is None else cond & c
    out = left.join(r, cond, "left")
    for v in shared:
        if v in lm and v not in rm:
            # left-null v filled from a right side that binds v in
            # subject/predicate position (no meta cols on the right):
            # the filled term is a URI by construction, so the meta must
            # say so — leaving it null makes every later join on v's
            # meta silently incompatible.  Evaluated BEFORE the value
            # coalesce overwrites v.
            mu, md = _meta_cols(v)
            filled = F.col(v).isNull() & F.col(renames[v]).isNotNull()
            out = (out.withColumn(mu, F.when(filled, F.lit(True))
                                       .otherwise(F.col(mu)))
                      .withColumn(md, F.when(filled, F.lit(""))
                                       .otherwise(F.col(md))))
        out = out.withColumn(v, F.coalesce(F.col(v), F.col(renames[v])))
        if v in lm and v in rm:
            mu, md = _meta_cols(v)
            out = (out.withColumn(mu, F.coalesce(F.col(mu), F.col(f"__r_{mu}")))
                      .withColumn(md, F.coalesce(F.col(md), F.col(f"__r_{md}"))))
    drop = [renames[v] for v in shared]
    drop += [f"__r_{m}" for v in shared if v in rm and v in lm
             for m in _meta_cols(v)]
    return out.drop(*drop)


def select_bgp(triples: DataFrame, patterns: list[Pattern],
               optionals: list[list[Pattern]] | None = None,
               filters: list[str] | None = None,
               project: list[str] | None = None,
               distinct: bool = True,
               order_by: list[str] | None = None,
               limit: int | None = None,
               group_by: list[str] | None = None,
               aggregates: dict[str, str] | None = None,
               having: list[str] | None = None,
               offset: int | None = None) -> DataFrame:
    """SPARQL SELECT over the triples table: required BGP, any number of
    ``OPTIONAL { ... }`` groups, ``FILTER`` expressions (Spark SQL syntax
    over the variable columns, e.g. ``"n > 3"`` or
    ``"starts_with(doc, 'http')"``), GROUP BY + aggregates + HAVING,
    projection, DISTINCT, ORDER BY, OFFSET and LIMIT — the full SELECT
    core the reference forwards to Fuseki
    (query_interface/sparql_interface.py:58-224).

    Filters are applied after the joins (SPARQL evaluates FILTER over
    the group's solutions); an unbound (null) variable makes the filter
    error -> false, matching SPARQL's type-error semantics, because
    Spark predicates on null evaluate to null and null is not true.

    Aggregation (SPARQL 1.1 §11): ``group_by`` lists grouping variables,
    ``aggregates`` maps result name -> Spark SQL aggregate expression
    (``{"n": "count(distinct d)", "first": "min(l)"}`` covers COUNT /
    SUM / MIN / MAX / AVG / SAMPLE; GROUP_CONCAT is
    ``array_join(collect_list(x), ',')``).  The null-skipping and
    null-key semantics line up: ``count(x)`` skips unbound bindings like
    COUNT(?x), and solutions unbound in a group key group together,
    matching SPARQL's single error-key group.  ``having`` filters the
    groups.  Grouped results are not re-deduplicated (each group is
    already one row); ``aggregates`` with ``group_by=None`` aggregates
    the whole solution set, SPARQL's implicit single group.
    """
    bound = match_bgp(triples, patterns, with_meta=True)
    for opt in optionals or []:
        bound = optional_join(bound, match_bgp(triples, opt, with_meta=True))
    for f in filters or []:
        bound = bound.filter(F.expr(f))
    if aggregates or group_by:
        keys = group_by or []
        aggs = [F.expr(e).alias(a) for a, e in (aggregates or {}).items()]
        bound = bound.groupBy(*keys).agg(*aggs) if aggs \
            else bound.select(*keys).distinct()
        for h in having or []:
            bound = bound.filter(F.expr(h))
        bound = bound.select(*(project if project is not None
                               else bound.columns))
    else:
        out_vars = sorted(_plain_vars(bound)) if project is None else project
        bound = bound.select(*out_vars)
        if distinct:
            bound = bound.distinct()
    if order_by:
        bound = bound.orderBy(*order_by)
    if offset:
        bound = bound.offset(offset)
    if limit is not None:
        bound = bound.limit(limit)
    return bound


def union_bgp(triples: DataFrame,
              groups: list[list[Pattern]]) -> DataFrame:
    """SPARQL ``{ A } UNION { B }``: solutions of any group, with
    variables absent from a group left unbound (null), deduplicated."""
    parts = [match_bgp(triples, g) for g in groups]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out.distinct()


def count_triples(triples: DataFrame) -> int:
    """A8: SELECT (COUNT(*) AS ?count) (sparql_interface.py:457-486)."""
    return triples.count()


def list_graphs(triples: DataFrame) -> DataFrame:
    """A8/O3: SELECT DISTINCT ?g ... ORDER BY ?g (sparql_interface.py:434-455),
    with the per-document graph = source_doc."""
    return triples.select(F.col("source_doc").alias("g")).distinct().orderBy("g")


def ask(triples: DataFrame, patterns: list[Pattern]) -> bool:
    """ASK { ... }: does the pattern have any solution."""
    return match_bgp(triples, patterns).limit(1).count() > 0


def construct(triples: DataFrame, patterns: list[Pattern],
              template: list[Pattern]) -> DataFrame:
    """CONSTRUCT { template } WHERE { patterns }: emit new triples from
    BGP bindings (Q5 parity, sparql_service.py dispatch).

    Returns the TRIPLES shape minus source lineage: (subj, pred, obj,
    obj_is_uri, obj_datatype), set-deduplicated like an RDF graph.
    Object-position variables keep the is_uri/datatype of the triple
    they were bound from; fixed template terms follow the same syntax as
    patterns (``?var``, ``"literal"``, bare IRI).
    """
    from ..rdf_schema import XSD_STRING

    bound = match_bgp(triples, patterns, with_meta=True)
    parts = []
    for (s, p, o) in template:
        def _uri_term(term):
            return F.col(term[1:]) if _is_var(term) else F.lit(term)
        # SPARQL CONSTRUCT skips instantiations whose subject (or
        # predicate) is a literal: a variable bound in object position
        # (meta columns in scope) may carry a literal binding, so filter
        # those rows out of THIS template pattern before emitting.
        rows = bound
        for term in (s, p):
            if _is_var(term):
                mu = _meta_cols(term[1:])[0]
                if mu in bound.columns:
                    rows = rows.filter(F.col(mu))
        if _is_var(o):
            v = o[1:]
            obj = F.col(v)
            mu, md = _meta_cols(v)
            is_uri = F.col(mu) if mu in bound.columns else F.lit(True)
            # match_bgp canonicalizes null datatypes to '' for join keys
            dt = (F.when(F.col(md) == "", F.lit(None).cast("string"))
                  .otherwise(F.col(md))
                  if md in bound.columns else F.lit(None).cast("string"))
        elif o.startswith('"'):
            obj, is_uri, dt = (F.lit(o.strip('"')), F.lit(False),
                               F.lit(XSD_STRING))
        else:
            obj, is_uri, dt = F.lit(o), F.lit(True), F.lit(None).cast("string")
        parts.append(rows.select(
            _uri_term(s).alias("subj"), _uri_term(p).alias("pred"),
            obj.alias("obj"), is_uri.alias("obj_is_uri"),
            dt.alias("obj_datatype")))
    out = parts[0]
    for more in parts[1:]:
        out = out.unionByName(more)
    return out.distinct()

def transitive_closure(edges: DataFrame, src: str = "src",
                       dst: str = "dst", max_rounds: int = 30) -> DataFrame:
    """Transitive closure of an edge set by doubling joins — the
    evaluation engine behind SPARQL property paths (``p+``).

    Each round unions R with R ⋈ R, so path length covered doubles:
    O(log diameter) rounds instead of the O(diameter) of naive
    edge-at-a-time semi-naive iteration — the same pointer-jumping idea
    as connected components (components.py).  Per round: one self-join
    + distinct (both shuffles on the join key), then ``localCheckpoint``
    to truncate the exponentially growing plan.  Convergence checks
    count once per round (the result is already materialized by the
    checkpoint, so the count is nearly free).
    """
    r = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")) \
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull()) \
        .distinct().localCheckpoint()
    n = r.count()
    for _ in range(max_rounds):
        hop = (r.alias("a")
               .join(r.alias("b"), F.col("a.dst") == F.col("b.src"))
               .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst")))
        nxt = r.unionByName(hop).distinct().localCheckpoint()
        n2 = nxt.count()
        r = nxt
        if n2 == n:
            break
        n = n2
    return r


def property_path_pairs(triples: DataFrame, pred: str,
                        max_rounds: int = 30) -> DataFrame:
    """SPARQL ``?s <pred>+ ?o`` over the triples frame: transitive
    closure restricted to URI objects (literals cannot chain)."""
    edges = (triples.filter((F.col("pred") == pred) & F.col("obj_is_uri"))
             .select(F.col("subj").alias("src"), F.col("obj").alias("dst")))
    return transitive_closure(edges, max_rounds=max_rounds)
