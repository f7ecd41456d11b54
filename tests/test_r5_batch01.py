"""Round-5 batch 1: LM-family id contract (any id type), KN rung
projection, and prepare_corpus opt-in stage hardening.

Round-4 VERDICT item 1 / ADVICE: the trained-LM family keyed its
train/held split and the prepare_corpus bucket-assign join on
``cast(doc_id as long)``, so a string/url-keyed corpus silently lost
every row.  The split is now ``nglm._split_bucket`` — integer ids
keep the ``% train_mod`` membership, everything else takes a
salted-md5 fallback (operators/split.py idiom) — and every join keeps
the id's ORIGINAL type.
"""

import pytest
from pyspark.sql import functions as F

from knowledgebase_processor_spark.operators.nglm import (
    backoff_lm_report, kneser_ney_n_report, kn_rung_sqls,
    kn_token_nano_from_rung, kn_token_nano_sql_n, ppl_bucket_assign)
from knowledgebase_processor_spark.operators.prepare import prepare_corpus


def _sentences(i: int) -> str:
    # distinct per-doc fluency so ntile never depends on the id-type
    # tiebreak: doc i repeats a common phrase i times plus i unique rare
    # words -> strictly distinct perplexities across the corpus
    common = "the quick brown fox jumps over the lazy dog . "
    rare = " ".join(f"zq{i}x{k}" for k in range(i + 1))
    return common * (i + 2) + rare


@pytest.fixture(scope="module")
def int_docs(spark):
    return spark.createDataFrame(
        [(i, _sentences(i)) for i in range(30)],
        "doc_id long, text string").cache()


def test_lm_string_ids_match_int_ids(spark, int_docs):
    """'7' and 7 land in the same split and score identically — the
    VERDICT done-criterion (string-keyed corpus == int-keyed twin)."""
    str_docs = int_docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    got_int = {(str(r["doc_id"]), r["n_tokens"], r["nll_nano"])
               for r in backoff_lm_report(int_docs).collect()}
    got_str = {(r["doc_id"], r["n_tokens"], r["nll_nano"])
               for r in backoff_lm_report(str_docs).collect()}
    assert got_int == got_str and got_int


def test_ppl_bucket_assign_string_ids_same_keepset(spark, int_docs):
    str_docs = int_docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    a = {(str(r["doc_id"]), r["bucket"])
         for r in ppl_bucket_assign(int_docs, buckets=3).collect()}
    b = {(r["doc_id"], r["bucket"])
         for r in ppl_bucket_assign(str_docs, buckets=3).collect()}
    assert a == b and len(a) == 30


def test_lm_url_ids_not_dropped(spark):
    """Non-numeric ids (the production `url string` schema) split via
    the salted-md5 fallback instead of silently dropping everything."""
    docs = spark.createDataFrame(
        [(f"https://example.com/page/{i}", _sentences(i))
         for i in range(40)],
        "doc_id string, text string")
    rep = backoff_lm_report(docs).collect()
    assert 0 < len(rep) < 40          # held-out split is a proper subset
    assert all(r["n_tokens"] > 0 for r in rep)
    assigned = ppl_bucket_assign(docs, buckets=3)
    assert assigned.count() == 40     # score-all shape: nothing dropped


def test_lm_null_id_dropped_not_fatal(spark):
    docs = spark.createDataFrame(
        [("a1", _sentences(1)), (None, _sentences(2)),
         ("a3", _sentences(3))],
        "doc_id string, text string")
    ids = {r["doc_id"] for r in ppl_bucket_assign(docs).collect()}
    assert None not in ids and ids <= {"a1", "a3"}


# Fluent-page generator (the proven test_r4 pattern): 8 DISTINCT
# sentence templates per page so no within-doc n-gram dominates
# (Gopher), one doc-unique token per sentence so cross-doc shingle
# Jaccard stays far under the 0.6 dedup threshold, templates shared
# ACROSS docs so the in-corpus LM finds their n-grams fluent.
_TEMPS = [
    "The {w} report covers central fields and results thoroughly.",
    "A detailed survey of the {w} region appeared in print today.",
    "Researchers described the {w} valley with careful attention.",
    "Local readers praised the {w} chronicle for balanced coverage.",
    "The council reviewed the {w} findings during an open session.",
    "Several experts compared the {w} data against annual records.",
    "A final summary placed the {w} results above expected ranges.",
    "The archive stored every {w} document beside old collections.",
]


def _fluent_page(i: int) -> str:
    return "\n".join(t.format(w=f"zone{i}{j}")
                     for j, t in enumerate(_TEMPS))


def test_prepare_corpus_lm_stage_url_ids(spark):
    """prepare_corpus(lm_head_buckets=...) on a url-keyed corpus keeps
    a non-empty head slice — the exact silent-zero-drop path ADVICE
    flagged (prepare.py joined survivors on cast-to-long)."""
    docs = spark.createDataFrame(
        [(f"https://ex.com/{i}", _fluent_page(i)) for i in range(1, 13)],
        "doc_id string, text string")
    out, stats = prepare_corpus(docs, lm_head_buckets=2, lm_buckets=3)
    st = {r["stage"]: r["n_docs"] for r in stats.collect()}
    assert st["lm_head_kept"] > 0
    assert st["lm_head_kept"] < st["quality_kept"]


def test_prepare_corpus_optin_stages_string_and_null_ids(spark):
    """Every opt-in stage (LM screen, span dedup, decontamination)
    operates on string ids with a NULL-id row present — no crash, no
    silent full drop."""
    rows = [(f"u{i}", _fluent_page(i)) for i in range(1, 13)]
    rows.append((None, _fluent_page(99)))
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    bench = spark.createDataFrame(
        [("b1", "benchmark only phrase never in corpus")],
        "doc_id string, text string")
    out, stats = prepare_corpus(docs, lm_head_buckets=2,
                                span_dedup_n=12, benchmark=bench)
    st = {r["stage"]: r["n_docs"] for r in stats.collect()}
    assert st["lm_head_kept"] > 0
    assert st["scrubbed"] > 0


def test_kn_rung_chain_equals_flat_expansion(spark):
    """The rung-projection form (kn_rung_sqls) computes bit-identical
    values to the legacy flat expansion (kn_token_nano_sql_n) — the
    hoist changes plan size, never the float."""
    cols = ("pos int, c2 long, c1prev long, n1p_prev long, n1p_w long, "
            "t_big long, v_uni long, c3 long, ctx3 long, n1pctx3 long, "
            "c4 long, ctx4 long, n1pctx4 long")
    rows = [
        (0, 0, 0, 0, 2, 50, 20, 0, 0, 0, 0, 0, 0),
        (1, 3, 7, 4, 2, 50, 20, 0, 0, 0, 0, 0, 0),
        (2, 3, 7, 4, 2, 50, 20, 2, 5, 3, 0, 0, 0),
        (3, 3, 7, 4, 2, 50, 20, 2, 5, 3, 1, 2, 2),
        (3, 0, 7, 4, 2, 50, 20, 0, 5, 3, 0, 0, 0),
        (3, 1, 0, 0, 0, 50, 20, 0, 0, 0, 0, 0, 0),
    ]
    df = spark.createDataFrame(rows, cols)
    flat = df.selectExpr(f"{kn_token_nano_sql_n(4)} AS v").collect()
    rung = df
    for name, sql in kn_rung_sqls(4):
        rung = rung.withColumn(name, F.expr(sql))
    hoisted = rung.selectExpr(
        f"{kn_token_nano_from_rung(4)} AS v").collect()
    assert [r["v"] for r in flat] == [r["v"] for r in hoisted]


def test_kn_n5_plan_linear(spark, int_docs):
    """Plan contract for the order-n ladder (round-4 VERDICT item 2):
    each extra order adds EXACTLY three equi-joins (c_m probe, ctx_m
    probe, N1+ context probe), and the optimized plan grows linearly —
    the flat expansion doubled per order."""
    joins, sizes = {}, {}
    for n in (2, 3, 4, 5):
        plan = (kneser_ney_n_report(int_docs, n)
                ._jdf.queryExecution().optimizedPlan().toString())
        joins[n] = plan.count("Join")
        sizes[n] = len(plan)
    assert joins[3] - joins[2] == 3
    assert joins[4] - joins[3] == 3
    assert joins[5] - joins[4] == 3
    # linear, not doubling: each order's increment stays within 2x of
    # the first increment (the flat form's top-level text alone grew
    # 2^(n-2) bigram-rung copies)
    d1 = sizes[3] - sizes[2]
    assert sizes[5] - sizes[4] < 2 * d1


# --- round-4 ADVICE: NaN/null-element kernel contracts --------------------
# pyarrow delivers list<bigint>/list<double> chunks containing NULL
# ELEMENTS as float64 ndarrays with NaN (never Python None), so the old
# `e is None` guards were dead code; these tests pin the repaired
# sentinel semantics.


def test_kmeans_assign_null_element_gets_null_cluster(spark):
    from knowledgebase_processor_spark.operators.kmeans import (
        assign_clusters)
    vecs = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [100.0, None]), (3, None),
         (4, [float("nan"), 5.0]), (5, [100.0, 100.0])],
        "vec_id int, embedding array<double>")
    cents = [[1_000_000, 1_000_000], [100_000_000, 100_000_000]]
    got = {r["vec_id"]: r["cluster"]
           for r in assign_clusters(vecs, cents).collect()}
    assert got == {1: 0, 2: None, 3: None, 4: None, 5: 1}


def test_ivf_assign_null_element_keeps_minus1(spark):
    from knowledgebase_processor_spark.operators.similarity import (
        ivf_assign)
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, None]), (3, None),
         (4, [float("nan"), 1.0]), (5, [0.0, 1.0]), (6, [0.5])],
        "vec_id int, embedding array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    got = {r["vec_id"]: r["cell"]
           for r in ivf_assign(vecs, cents).collect()}
    # 2 used to silently land in cell 0 (NaN sims never beat -inf)
    assert got == {1: 0, 2: -1, 3: -1, 4: -1, 5: 1, 6: -1}


def test_lsh_buckets_null_element_bucket0(spark):
    from knowledgebase_processor_spark.operators.similarity import (
        lsh_buckets_multi)
    vecs = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, None, 3.0, 4.0]),
         (3, None)],
        "vec_id int, embedding array<double>")
    got = {r["vec_id"]: r["buckets"]
           for r in lsh_buckets_multi(vecs, dim=4, bits=4,
                                      tables=2).collect()}
    assert got[2] == [0, 0] and got[3] == [0, 0]
    # the real vector computes exactly as it does on its own
    alone = lsh_buckets_multi(
        spark.createDataFrame([(1, [1.0, 2.0, 3.0, 4.0])],
                              "vec_id int, embedding array<double>"),
        dim=4, bits=4, tables=2).collect()
    assert got[1] == alone[0]["buckets"]


def test_ivf_train_skips_null_embedding_seeds(spark):
    from knowledgebase_processor_spark.operators.similarity import (
        ivf_train)
    vecs = spark.createDataFrame(
        [(1, None), (2, [1.0, None]), (3, [1.0, 0.0]), (4, [0.0, 1.0]),
         (5, [2.0, 0.0]), (6, [0.0, 2.0])],
        "vec_id int, embedding array<double>")
    cents, first = ivf_train(vecs, k_cells=2, iters=1)
    assert len(cents) == 2 and all(len(c) == 2 for c in cents)
    assert first == [1.0, 0.0]   # smallest-id USABLE row


def test_ivf_train_skips_nan_and_inf_seeds(spark):
    """A NaN or +-inf element quantizes to a NULL element; such a row is
    no seed (it used to reach int(None) and raise TypeError)."""
    from knowledgebase_processor_spark.operators.similarity import (
        ivf_train)
    inf = float("inf")
    vecs = spark.createDataFrame(
        [(1, [float("nan"), 0.0]), (2, [inf, 1.0]), (3, [0.0, -inf]),
         (4, [1.0, 0.0]), (5, [0.0, 1.0]), (6, [2.0, 0.0])],
        "vec_id int, embedding array<double>")
    cents, first = ivf_train(vecs, k_cells=2, iters=1)
    assert len(cents) == 2 and all(len(c) == 2 for c in cents)
    assert all(x == x and abs(x) != inf for c in cents for x in c)
    assert first == [1.0, 0.0]


def test_lm_screen_stream_equals_batch(spark, tmp_path):
    """Streaming CCNet LM screen (streaming/jobs.py::lm_screen_stream)
    keeps EXACTLY the documents the batch scorer keeps at the same
    perplexity ceiling — foreachBatch reuses the batch operator against
    a once-trained persisted model, so equality is by construction and
    this test pins it."""
    from knowledgebase_processor_spark.operators.nglm import (
        backoff_lm_score)
    from knowledgebase_processor_spark.streaming.jobs import (
        lm_screen_stream)

    train = spark.createDataFrame(
        [(f"t{i}", _fluent_page(i)) for i in range(1, 9)],
        "doc_id string, text string")
    feed_rows = ([(f"page{i}", _fluent_page(i + 20)) for i in range(4)]
                 + [("soup", " ".join(f"zz{k}q xj{k}w" for k in range(40))),
                    ("empty", " \n")])   # whitespace-only: zero tokens
    # (a truly empty FILE yields no row from the text file-stream
    # source, so the feed uses whitespace to exercise the NULL-ppl path)
    src = tmp_path / "feed"
    src.mkdir()
    for did, text in feed_rows:
        (src / f"{did}.txt").write_text(text)

    # batch reference: score the same feed against the same model
    feed = spark.createDataFrame(feed_rows, "doc_id string, text string")
    rep = backoff_lm_score(train, feed).collect()
    ceiling = sorted(r["avg_nll_micro"] for r in rep
                     if r["avg_nll_micro"] is not None)[len(rep) // 2]
    batch_keep = {r["doc_id"] for r in rep
                  if r["avg_nll_micro"] is not None
                  and r["avg_nll_micro"] <= ceiling}

    stream = (spark.readStream.format("text").option("wholetext", "true")
              .option("maxFilesPerTrigger", "2")      # several micro-batches
              .load(str(src))
              .select(F.regexp_extract(F.input_file_name(),
                                       r"([^/]+)\.txt$", 1).alias("doc_id"),
                      F.col("value").alias("text")))
    clean_dir = str(tmp_path / "clean")
    flagged_dir = str(tmp_path / "flag")
    q = lm_screen_stream(stream, train, clean_dir, flagged_dir,
                         str(tmp_path / "ck"),
                         max_avg_nll_micro=ceiling).start()
    q.awaitTermination(180)

    stream_keep = {r["doc_id"]
                   for r in spark.read.parquet(clean_dir).collect()}
    assert stream_keep == batch_keep and stream_keep
    flagged = {r["doc_id"]: r for r in
               spark.read.parquet(flagged_dir).collect()}
    assert set(flagged) == {d for d, _ in feed_rows} - batch_keep
    assert flagged["empty"]["avg_nll_micro"] is None   # token-less: flagged


def test_kg_job_export_formats_and_resume(spark, kg_pages, tmp_path):
    """kg_job(export_formats=...) writes all three reference download
    formats (turtle | json-ld | xml) as per-doc payload tables with the
    standard checkpoint/resume contract, and the three serializations
    are graph-isomorphic per document."""
    import os

    from knowledgebase_processor_spark import kg_job
    from knowledgebase_processor_spark.goldens import parse_turtle
    from knowledgebase_processor_spark.sinks_rdf import (
        parse_jsonld, parse_rdfxml)

    pages = kg_pages.limit(6)
    work = str(tmp_path / "run")
    fmts = ("turtle", "json-ld", "xml")
    m1 = kg_job.run(spark, pages, work, export_formats=fmts)
    n_docs = spark.read.parquet(os.path.join(work, "kg_triples")) \
        .select("source_doc").distinct().count()
    for f in ("export_turtle", "export_json_ld", "export_xml"):
        assert m1[f"n_{f}"] == n_docs
        assert os.path.exists(os.path.join(work, f, "_SUCCESS"))

    ttl = {r["source_doc"]: r["ttl"] for r in spark.read.parquet(
        os.path.join(work, "export_turtle")).collect()}
    jld = {r["source_doc"]: r["jsonld"] for r in spark.read.parquet(
        os.path.join(work, "export_json_ld")).collect()}
    xml = {r["source_doc"]: r["rdfxml"] for r in spark.read.parquet(
        os.path.join(work, "export_xml")).collect()}
    assert set(ttl) == set(jld) == set(xml)
    for doc in ttl:
        g = parse_turtle(ttl[doc])
        assert parse_jsonld(jld[doc]) == g
        assert parse_rdfxml(xml[doc]) == g
        assert g

    # resume: all export checkpoints reused, same counts
    mtimes = {f: os.path.getmtime(os.path.join(work, f, "_SUCCESS"))
              for f in ("export_turtle", "export_json_ld", "export_xml")}
    m2 = kg_job.run(spark, pages, work, export_formats=fmts)
    for f, t in mtimes.items():
        assert os.path.getmtime(os.path.join(work, f, "_SUCCESS")) == t
        assert m2[f"n_{f}"] == m1[f"n_{f}"]

    # unknown format fails loudly, before any stage is written
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown export format"):
        kg_job.run(spark, pages, work, export_formats=("n3",))
    bad = tmp_path / "bad"
    with _pytest.raises(ValueError, match="unknown export format"):
        kg_job.run(spark, pages, str(bad), export_formats=("turtle", "n3"))
    assert not bad.exists() or not any(bad.iterdir())


def test_kn_ppl_bucket_assign_production_shape(spark):
    """Order-5 KN bucket assignment (q249 — CCNet's production model):
    scores EVERY doc, fluent templated pages rank ahead of a word-soup
    outlier, token-less docs drop, url ids supported."""
    from knowledgebase_processor_spark.operators.nglm import (
        kn_ppl_bucket_assign)
    # soup8 hashes into the HELD split (bucket 0 of 5), so the model
    # never trains on its word soup — in-corpus split-training would
    # otherwise make a trained-on soup page look fluent to itself
    rows = [(f"https://ex.com/{i}", _fluent_page(i)) for i in range(1, 12)]
    rows.append(("https://ex.com/soup8",
                 " ".join(f"zz{k}q xj{k}w" for k in range(40))))
    rows.append(("https://ex.com/blank", " "))
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in
           kn_ppl_bucket_assign(docs, n=5, buckets=3).collect()}
    assert len(got) == 12                      # blank has no perplexity
    assert "https://ex.com/blank" not in got
    soup = got["https://ex.com/soup8"]
    assert soup["bucket"] == 3                 # the tail slice
    fluent_buckets = {r["bucket"] for d, r in got.items()
                      if d != "https://ex.com/soup8"}
    assert 1 in fluent_buckets
