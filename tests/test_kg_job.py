"""End-to-end north-star job: run, metrics, resume-from-checkpoint."""

import os

from pyspark.sql import functions as F

from knowledgebase_processor_spark import kg_job
from knowledgebase_processor_spark.operators.graph_query import (
    ask, count_triples, list_graphs, match_bgp,
)
from knowledgebase_processor_spark.uris import KB, RDF


def test_kg_job_end_to_end_and_resume(spark, kg_pages, tmp_path):
    pages = kg_pages.limit(15)
    work = str(tmp_path / "run")
    alias = {"Test Document": ("organization", ["document"])}

    m1 = kg_job.run(spark, pages, work, alias_dict=alias)
    assert m1["n_entities"] > 0 and m1["n_triples"] > 0
    final = spark.read.parquet(os.path.join(work, "kg_triples"))
    assert final.count() == m1["n_triples"]
    lin = spark.read.parquet(os.path.join(work, "lineage_extract"))
    assert lin.agg(F.sum("n_rows")).collect()[0][0] == m1["n_entities"]

    # resume: second run reuses every checkpoint -> same metrics, no
    # checkpoint rewritten, and the merge upsert is idempotent
    marks = _success_mtimes(work)
    assert {"entities", "lineage_extract", "mention_entities", "triples",
            "canonical"} <= set(marks)
    m2 = kg_job.run(spark, pages, work, alias_dict=alias)
    assert ({k: v for k, v in m2.items() if k != "wall_s"}
            == {k: v for k, v in m1.items() if k != "wall_s"})
    assert _success_mtimes(work) == marks
    assert spark.read.parquet(os.path.join(work, "kg_triples")).count() == m1["n_triples"]


def _success_mtimes(work):
    """Stage -> _SUCCESS mtime; ``metrics`` is the run log every run
    appends to, not a checkpoint."""
    return {d: os.path.getmtime(os.path.join(work, d, "_SUCCESS"))
            for d in os.listdir(work)
            if d != "metrics" and os.path.exists(os.path.join(work, d, "_SUCCESS"))}


def test_kg_job_keeps_failing_document_as_error_row(spark, kg_pages, tmp_path,
                                                    monkeypatch):
    """A document whose extraction raises becomes one error row of the
    entities table: counted in lineage_extract.n_errors, and it emits no
    triple and no canonical entity."""
    pages = kg_pages.limit(4)
    victim = pages.select("url").first()[0]
    real = kg_job.extract_merged_entities_df

    def with_failing_doc(docs, *cols):
        # a null path makes title derivation raise inside the worker loop
        return real(docs.withColumn("path", F.when(
            F.col("doc_id") == victim, F.lit(None)).otherwise(F.col("path"))), *cols)
    monkeypatch.setattr(kg_job, "extract_merged_entities_df", with_failing_doc)

    work = str(tmp_path / "run_err")
    kg_job.run(spark, pages, work)
    ents = spark.read.parquet(os.path.join(work, "entities"))
    errors = ents.filter(F.col("kind") == "error").collect()
    assert [(r.kb_id, r.source_document_uri) for r in errors] == [(victim, victim)]
    assert errors[0].text[0].startswith("AttributeError: ")
    lin = spark.read.parquet(os.path.join(work, "lineage_extract"))
    assert lin.agg(F.sum("n_errors")).first()[0] == 1
    for table, col in (("kg_triples", "source_doc"),
                       ("canonical", "source_document_uri")):
        df = spark.read.parquet(os.path.join(work, table))
        assert df.filter(F.col(col) == victim).count() == 0
        assert df.count() > 0


def test_graph_queries_over_kg(spark, kg_pages, tmp_path):
    pages = kg_pages.limit(20)
    work = str(tmp_path / "run2")
    kg_job.run(spark, pages, work)
    triples = spark.read.parquet(os.path.join(work, "kg_triples"))

    assert count_triples(triples) > 0
    graphs = [r["g"] for r in list_graphs(triples).collect()]
    assert len(graphs) == 20 and graphs == sorted(graphs)

    todos = match_bgp(triples, [
        ("?s", RDF + "type", KB + "TodoItem"),
        ("?s", KB + "isCompleted", '"false"'),
    ])
    assert "s" in todos.columns
    assert ask(triples, [("?s", RDF + "type", KB + "Document")])
    assert not ask(triples, [("?s", RDF + "type", KB + "NoSuchClass")])

    # join across patterns: sections and their headings share a variable
    sec = match_bgp(triples, [
        ("?sec", RDF + "type", KB + "Section"),
        ("?sec", KB + "hasHeading", "?h"),
        ("?h", KB + "headingLevel", "?lvl"),
    ])
    if sec.count() > 0:
        assert set(sec.columns) == {"sec", "h", "lvl"}

    # CONSTRUCT: rewrite completed todos into a summary vocabulary,
    # carrying object metadata through variable bindings
    from knowledgebase_processor_spark.operators.graph_query import construct
    done = construct(
        triples,
        [("?s", RDF + "type", KB + "Document"),
         ("?s", KB + "originalPath", "?c")],
        [("?s", RDF + "type", KB + "ResolvedTask"),
         ("?s", KB + "completionState", "?c"),
         ("?s", KB + "reviewed", '"yes"')])
    rows = done.collect()
    assert rows, "construct produced no triples"
    by_pred = {}
    for r in rows:
        by_pred.setdefault(r.pred, []).append(r)
    types = by_pred[RDF + "type"]
    assert {r.obj for r in types} == {KB + "ResolvedTask"}
    assert all(r.obj_is_uri for r in types)
    states = by_pred[KB + "completionState"]
    # bound object variables keep literal-ness + datatype from the source
    assert all((not r.obj_is_uri) and r.obj_datatype for r in states)
    fixed = by_pred[KB + "reviewed"]
    assert all(r.obj == "yes" and not r.obj_is_uri for r in fixed)
    # graph-set semantics: one type triple per distinct todo subject
    assert len(types) == len({r.subj for r in types})


def test_kg_job_openie_stage(spark, kg_pages, tmp_path):
    docs_md = "Ada Lovelace wrote Notes on the Analytical Engine"
    pages = kg_pages.limit(5).withColumn(
        "text", F.concat(F.col("text"), F.lit("\n\n" + docs_md)))
    work = str(tmp_path / "run_oie")
    m = kg_job.run(spark, pages, work, openie=True)
    assert m["n_openie"] > 0
    final = spark.read.parquet(os.path.join(work, "kg_triples"))
    oie = final.filter(F.col("pred").startswith(KB + "rel/"))
    assert oie.count() > 0
    # reference-parity namespace isolation: structural predicates unchanged
    assert final.filter(~F.col("pred").startswith(KB + "rel/")).count() == \
        m["n_triples"] - m["n_openie"]


def test_bgp_term_semantics(spark):
    """Shared variables must unify RDF TERMS, not lexical forms: a string
    literal whose text looks like a URI never joins with that URI, and a
    variable shared between subject and object position only binds URIs.
    Also: variable names containing '__' must keep their join constraint."""
    from knowledgebase_processor_spark.operators.graph_query import (
        ask, construct, match_bgp)
    rows = [
        ("u:a", "u:p", "http://x", True, None, "d"),     # URI object
        ("u:b", "u:q", "http://x", False,                 # literal, same text
         "http://www.w3.org/2001/XMLSchema#string", "d"),
        ("u:c", "u:p", "u:b", True, None, "d"),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_uri boolean, "
              "obj_datatype string, source_doc string")

    # ?o is bound by both patterns; URI term vs literal term must NOT unify
    assert not ask(t, [("?s", "u:p", "?o"), ("?t", "u:q", "?o")])
    # subject-position ∩ object-position: ?x subject of u:q and object of
    # u:p — only the URI binding u:b survives
    sols = match_bgp(t, [("?x", "u:q", "?y"), ("?z", "u:p", "?x")]).collect()
    assert [(r.x, r.z) for r in sols] == [("u:b", "u:c")]
    # '__'-named variables still join (regression: the old meta-column
    # heuristic dropped them from the join keys -> cartesian product)
    two = match_bgp(t, [("?a__b", "u:p", "?v"), ("?a__b", "u:p", "?w")])
    got = {(r.a__b, r.v, r.w) for r in two.collect()}
    assert got == {("u:a", "http://x", "http://x"), ("u:c", "u:b", "u:b")}

    # construct keeps literal-ness: the literal binding stays a literal
    out = construct(t, [("?s", "u:q", "?o")],
                    [("?s", "u:copied", "?o")]).collect()
    assert len(out) == 1 and not out[0].obj_is_uri
    assert out[0].obj_datatype == "http://www.w3.org/2001/XMLSchema#string"

    # CONSTRUCT skips instantiations with a literal SUBJECT: ?o is bound
    # from object position to both a URI ('http://x' via u:p) and a
    # literal (same text via u:q); reused as template subject, only the
    # URI binding may instantiate (SPARQL 11.2, review fix)
    flipped = construct(t, [("?s", "?p", "?o")],
                        [("?o", "u:from", "?s")]).collect()
    subj_bindings = {r.subj for r in flipped}
    assert subj_bindings == {"http://x", "u:b"}  # URI terms only
    assert len(flipped) == 2


def test_sparql_select_optional_filter_union(spark):
    """SPARQL SELECT surface: OPTIONAL keeps unmatched solutions with
    unbound vars, FILTER drops null via error->false semantics, UNION
    pads disjoint variables, and OPTIONAL joins stay term-aware."""
    from knowledgebase_processor_spark.operators.graph_query import (
        optional_join, match_bgp, select_bgp, union_bgp)
    rows = [
        ("u:d1", "rdf:type", "u:T", True, None, "g"),
        ("u:d2", "rdf:type", "u:T", True, None, "g"),
        ("u:d1", "p:label", "Doc One", False,
         "http://www.w3.org/2001/XMLSchema#string", "g"),
        ("u:d1", "p:tag", "t1", False,
         "http://www.w3.org/2001/XMLSchema#string", "g"),
        ("u:d2", "p:tag", "t2", False,
         "http://www.w3.org/2001/XMLSchema#string", "g"),
        # term trap: object binding 'u:d1' as a LITERAL must not make
        # the optional subject join unify with node u:d1
        ("u:d3", "p:ref", "u:d1", False,
         "http://www.w3.org/2001/XMLSchema#string", "g"),
        ("u:d4", "p:ref", "u:d1", True, None, "g"),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_uri boolean, "
              "obj_datatype string, source_doc string")

    # OPTIONAL: d2 has no label -> kept with null
    got = {(r.d, r.l) for r in select_bgp(
        t, [("?d", "rdf:type", "u:T")],
        optionals=[[("?d", "p:label", "?l")]]).collect()}
    assert got == {("u:d1", "Doc One"), ("u:d2", None)}

    # FILTER over an optional var: null -> not true -> dropped
    got = {(r.d, r.l) for r in select_bgp(
        t, [("?d", "rdf:type", "u:T")],
        optionals=[[("?d", "p:label", "?l")]],
        filters=["l = 'Doc One'"]).collect()}
    assert got == {("u:d1", "Doc One")}

    # projection + order + limit
    got = [r.d for r in select_bgp(
        t, [("?d", "rdf:type", "u:T")], project=["d"],
        order_by=["d"], limit=1).collect()]
    assert got == ["u:d1"]

    # term-aware OPTIONAL: ?v bound in OBJECT position (mixed literal/
    # URI) reused as the optional SUBJECT — only the URI binding unifies
    left = match_bgp(t, [("?s", "p:ref", "?v")], with_meta=True)
    right = match_bgp(t, [("?v", "rdf:type", "?k")], with_meta=True)
    out = {(r.s, r.v, r.k) for r in optional_join(left, right)
           .select("s", "v", "k").collect()}
    assert out == {("u:d3", "u:d1", None),      # literal: kept, unbound
                   ("u:d4", "u:d1", "u:T")}     # URI: extended

    # UNION: disjoint vars null-padded, deduplicated
    got = {(r.d, getattr(r, "l", None), getattr(r, "t", None))
           for r in union_bgp(t, [[("?d", "p:label", "?l")],
                                  [("?d", "p:tag", "?t")]]).collect()}
    assert got == {("u:d1", "Doc One", None),
                   ("u:d1", None, "t1"), ("u:d2", None, "t2")}


def test_sparql_optional_disjoint_and_meta_chain(spark):
    """Three LeftJoin regressions from the round-2 review:

    (a) an OPTIONAL group sharing NO variables with the left frame must
    keep every left solution when the group matches nothing (crossJoin
    annihilated them);
    (b) a variable filled from a right frame that binds it in
    subject/predicate position must get is_uri/datatype meta so later
    OPTIONALs on that variable still extend;
    (c) a fully-ground pattern acts as an existence check without
    leaking its internal _m{i} placeholder column."""
    from knowledgebase_processor_spark.operators.graph_query import (
        select_bgp)
    rows = [
        ("u:d1", "rdf:type", "u:T", True, None, "g"),
        ("u:d2", "rdf:type", "u:T", True, None, "g"),
        ("u:x", "p:kind", "u:K", True, None, "g"),
        ("u:q", "p:ref3", "u:x", True, None, "g"),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_uri boolean, "
              "obj_datatype string, source_doc string")

    # (a) disjoint OPTIONAL matching nothing: left solutions survive
    got = {(r.d, r.x) for r in select_bgp(
        t, [("?d", "rdf:type", "u:T")],
        optionals=[[("?x", "p:nonexistent", "?y")]],
        project=["d", "x"]).collect()}
    assert got == {("u:d1", None), ("u:d2", None)}
    # ... and when it does match, it cross-extends every left solution
    got = {(r.d, r.v) for r in select_bgp(
        t, [("?d", "rdf:type", "u:T")],
        optionals=[[("?v", "p:kind", "u:K")]],
        project=["d", "v"]).collect()}
    assert got == {("u:d1", "u:x"), ("u:d2", "u:x")}

    # (b) opt1 leaves ?v unbound; opt2 fills v=u:x from SUBJECT position;
    # opt3 binds ?v in OBJECT position (URI term u:x) and must extend
    got = {(r.d, r.v, r.w) for r in select_bgp(
        t, [("?d", "rdf:type", "u:T")],
        optionals=[[("?d", "p:ref", "?v")],
                   [("?v", "p:kind", "?k")],
                   [("?w", "p:ref3", "?v")]],
        project=["d", "v", "w"]).collect()}
    assert got == {("u:d1", "u:x", "u:q"), ("u:d2", "u:x", "u:q")}

    # (c) ground existence check: no _m columns in the solution schema
    out = select_bgp(t, [("?d", "rdf:type", "u:T"),
                         ("u:x", "p:kind", "u:K")])
    assert out.columns == ["d"]
    assert {r.d for r in out.collect()} == {"u:d1", "u:d2"}
    # failing existence check empties the solutions
    assert select_bgp(t, [("?d", "rdf:type", "u:T"),
                          ("u:x", "p:kind", "u:NOPE")]).count() == 0


def test_sparql_select_aggregates(spark):
    """SPARQL 1.1 aggregation: GROUP BY + COUNT/SAMPLE/GROUP_CONCAT,
    HAVING over groups, COUNT skipping unbound (null) bindings, the
    implicit single group when only aggregates are given, and OFFSET."""
    from knowledgebase_processor_spark.operators.graph_query import (
        select_bgp)
    rows = [
        ("u:d1", "rdf:type", "u:T", True, None, "g"),
        ("u:d2", "rdf:type", "u:T", True, None, "g"),
        ("u:d3", "rdf:type", "u:T", True, None, "g"),
        ("u:d1", "p:tag", "a", False, "http://www.w3.org/2001/XMLSchema#string", "g"),
        ("u:d1", "p:tag", "b", False, "http://www.w3.org/2001/XMLSchema#string", "g"),
        ("u:d2", "p:tag", "a", False, "http://www.w3.org/2001/XMLSchema#string", "g"),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_uri boolean, "
              "obj_datatype string, source_doc string")

    # GROUP BY ?d, COUNT(?x): d3 has no tags -> OPTIONAL leaves x null,
    # COUNT skips it (0), exactly SPARQL's COUNT(?x) over unbound
    got = {(r.d, r.n, r.tags) for r in select_bgp(
        t, [("?d", "rdf:type", "u:T")],
        optionals=[[("?d", "p:tag", "?x")]],
        group_by=["d"],
        aggregates={"n": "count(x)",
                    "tags": "array_join(sort_array(collect_list(x)), ',')"},
        order_by=["d"]).collect()}
    assert got == {("u:d1", 2, "a,b"), ("u:d2", 1, "a"), ("u:d3", 0, "")}

    # HAVING prunes groups
    got = [r.d for r in select_bgp(
        t, [("?d", "p:tag", "?x")],
        group_by=["d"], aggregates={"n": "count(x)"},
        having=["n >= 2"]).collect()]
    assert got == ["u:d1"]

    # implicit single group: SELECT (COUNT(DISTINCT ?x) AS ?n)
    got = select_bgp(t, [("?d", "p:tag", "?x")],
                     aggregates={"n": "count(distinct x)"}).collect()
    assert [r.n for r in got] == [2]

    # OFFSET + LIMIT pagination
    got = [r.d for r in select_bgp(
        t, [("?d", "rdf:type", "u:T")], project=["d"],
        order_by=["d"], offset=1, limit=1).collect()]
    assert got == ["u:d2"]


def test_kg_job_dedup_stage(spark, kg_pages, tmp_path):
    """Stage 0 corpus dedup: duplicate pages are dropped before
    extraction (fewer entities/triples than the undeduped run), the
    keep-list checkpoint resumes, and metrics report in/kept counts."""
    base = kg_pages.limit(6)
    dup = base.withColumn("url", F.concat(F.col("url"), F.lit("?recrawl=1")))
    pages = base.unionByName(dup)     # every page crawled twice
    work = str(tmp_path / "run_dedup")
    m = kg_job.run(spark, pages, work, dedup=True)
    assert m["n_pages_in"] == 12 and m["n_pages_kept"] == 6
    plain = kg_job.run(spark, pages, str(tmp_path / "run_plain"))
    assert m["n_triples"] < plain["n_triples"]
    # resume: keep-list checkpoint short-circuits stage 0
    m2 = kg_job.run(spark, pages, work, dedup=True)
    assert m2["n_pages_kept"] == 6 and m2["n_triples"] == m["n_triples"]


def test_kg_job_canonical_rewrite_and_entailment_stages(spark, kg_pages, tmp_path):
    pages = kg_pages.limit(12)
    work = str(tmp_path / "run_canon")
    alias = {"Test Document": ("organization", ["document"])}
    m = kg_job.run(spark, pages, work, alias_dict=alias,
                   rewrite_canonical=True, entailment=True)

    # canonical rewrite: dedup can only shrink, rewritten subjects are a
    # subset of {original subjects} ∪ {canonical ids}
    assert 0 < m["n_canonical_triples"] <= m["n_triples"]
    canon_t = spark.read.parquet(
        os.path.join(work, "kg_triples_canonical"))
    canonical = spark.read.parquet(os.path.join(work, "canonical"))
    allowed = {r[0] for r in spark.read.parquet(
        os.path.join(work, "kg_triples")).select("subj").distinct().collect()}
    allowed |= {r[0] for r in
                canonical.select("canonical_id").distinct().collect()}
    got_subj = {r[0] for r in canon_t.select("subj").distinct().collect()}
    assert got_subj <= allowed

    # entailment over a vocabulary with no rdfs schema triples is the
    # identity closure: same distinct triple set size
    flat = spark.read.parquet(os.path.join(work, "kg_triples"))
    n_distinct = flat.select("subj", "pred", "obj").distinct().count()
    assert m["n_entailed"] == n_distinct

    # resume reuses both new checkpoints
    m2 = kg_job.run(spark, pages, work, alias_dict=alias,
                    rewrite_canonical=True, entailment=True)
    assert m2["n_canonical_triples"] == m["n_canonical_triples"]
    assert m2["n_entailed"] == m["n_entailed"]


def test_kg_job_url_redirect_stage(spark, kg_pages, tmp_path):
    pages = kg_pages.limit(6)
    urls = [r.url for r in pages.select("url").collect()]
    # alias url 0 -> chain -> url 1; a loop pair stays untouched
    redirects = spark.createDataFrame(
        [(urls[0], "https://kb.example.org/hop.md"),
         ("https://kb.example.org/hop.md", urls[1]),
         ("https://loop.example/a", "https://loop.example/b"),
         ("https://loop.example/b", "https://loop.example/a")],
        "src string, dst string")
    work = str(tmp_path / "run_redir")
    m = kg_job.run(spark, pages, work, url_redirects=redirects)
    assert m["n_redirects_resolved"] == 2          # loop pair excluded
    final = spark.read.parquet(os.path.join(work, "kg_triples"))
    uris = {r.subj for r in final.select("subj").collect()}
    # url 0's page now lives under url 1's document id: no subject URI
    # derived from url 0 remains
    from knowledgebase_processor_spark.sources.web_pages import (
        pages_to_documents)
    gone = pages_to_documents(pages.limit(1)).select("doc_id").collect()[0][0]
    assert not any(gone in u for u in uris)

    # resume reuses the checkpointed mapping: identical metrics
    m2 = kg_job.run(spark, pages, work, url_redirects=redirects)
    assert m2["n_triples"] == m["n_triples"]
    assert m2["n_redirects_resolved"] == 2


def test_kg_job_without_redirects_unchanged(spark, kg_pages, tmp_path):
    pages = kg_pages.limit(4)
    a = kg_job.run(spark, pages, str(tmp_path / "a"))
    b = kg_job.run(spark, pages, str(tmp_path / "b"),
                   url_redirects=spark.createDataFrame(
                       [], "src string, dst string"))
    assert a["n_triples"] == b["n_triples"]
    assert b["n_redirects_resolved"] == 0


def test_kg_job_ifp_canonical_stage(spark, kg_pages, tmp_path):
    pages = kg_pages.limit(8)
    work = str(tmp_path / "run_ifp")
    m = kg_job.run(spark, pages, work, ifp_canonical=True)
    assert "n_ifp_triples" in m
    ifp = spark.read.parquet(os.path.join(work, "kg_triples_ifp"))
    # rewrite only ever coalesces duplicates, never invents triples
    assert 0 < m["n_ifp_triples"] <= m["n_triples"]
    assert ifp.count() == m["n_ifp_triples"]
    m2 = kg_job.run(spark, pages, work, ifp_canonical=True)
    assert m2["n_ifp_triples"] == m["n_ifp_triples"]


def test_kg_job_rule_completion_stage(spark, kg_pages, tmp_path):
    from knowledgebase_processor_spark import kg_job

    pages = kg_pages.limit(12)
    wd = str(tmp_path / "rulejob")
    m = kg_job.run(spark, pages, wd, rule_completion=True,
                   rule_min_support=1, rule_min_conf_ppm=100000)
    assert "n_inferred" in m
    import os
    ipath = os.path.join(wd, "kg_triples_inferred")
    assert os.path.exists(os.path.join(ipath, "_SUCCESS"))
    inferred = spark.read.parquet(ipath)
    assert set(inferred.columns) == {"subj", "pred", "obj", "p1", "p2",
                                     "conf_ppm"}
    # inferred heads must NOT already be asserted
    flat = spark.read.parquet(os.path.join(wd, "kg_triples"))
    overlap = (inferred.select("subj", "pred", "obj").distinct()
               .join(flat.select("subj", "pred", "obj").distinct(),
                     ["subj", "pred", "obj"], "left_semi").count())
    assert overlap == 0
    # resume: second run with same workdir reuses the checkpoint
    m2 = kg_job.run(spark, pages, wd, rule_completion=True,
                    rule_min_support=1, rule_min_conf_ppm=100000)
    assert m2["n_inferred"] == m["n_inferred"]


def test_kg_job_zero_pages_fresh_and_resumed(spark, tmp_path):
    """An empty crawl is a valid input: the bucketed checkpoints hold no
    rows, yet a fresh run and a resumed run both finish with zero-count
    metrics, and every table reads back with zero rows."""
    pages = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html string, text string, "
            "lang string")
    work = str(tmp_path / "empty")
    m1 = kg_job.run(spark, pages, work)
    assert m1["n_entities"] == 0 and m1["n_triples"] == 0
    m2 = kg_job.run(spark, pages, work)
    assert ({k: v for k, v in m2.items() if k != "wall_s"}
            == {k: v for k, v in m1.items() if k != "wall_s"})
    for name in ("entities", "triples", "canonical", "kg_triples"):
        assert spark.read.parquet(os.path.join(work, name)).count() == 0
    assert "source_doc" in spark.read.parquet(
        os.path.join(work, "triples")).columns
