"""Round-4 batch 1: IVF hardening.

* NULL / wrong-length embeddings keep the -1 'no cell' sentinel in
  ``ivf_assign`` (round-3 ADVICE: the array_max argmax rewrite made
  all-NULL sims compare equal and silently assigned cell 0).
* The probe-cell restriction is a broadcast semi-join, so the K-way
  argmax projection never gets inlined into a fused filter predicate —
  verified by compiling a K=64 x dim=256 plan with codegen fallback
  DISABLED (Janino's 64 KB method limit used to trip here and Spark
  silently ran the stage interpreted).
* ``ivf_train`` — the real k-means coarse quantizer — is bit-identical
  under different partitionings and its exhaustive probe reproduces the
  brute-force top-k exactly.
"""

import random

import pytest
from pyspark.sql import functions as F

from knowledgebase_processor_spark.operators.similarity import (
    cosine_topk, ivf_assign, ivf_topk, ivf_train)


def test_ivf_assign_null_sentinel(spark):
    cents = [[1.0, 0.0], [0.0, 1.0]]
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.1]), (1, None), (2, [0.5]), (3, [0.1, 1.0])],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cell"] for r in ivf_assign(vecs, cents).collect()}
    assert got[0] == 0 and got[3] == 1
    # NULL vector and too-short vector both keep the 'no cell' sentinel
    assert got[1] == -1 and got[2] == -1
    # ...and therefore never enter any probe cell's candidate set
    ids = {r["vec_id"]
           for r in ivf_topk(vecs, [1.0, 0.0], cents, k=10, nprobe=2).collect()}
    assert ids == {0, 3}


def test_ivf_wide_plan_compiles_without_fallback(spark):
    """K=64 centroids x dim=256: the full pipeline must stay inside
    whole-stage codegen.  With spark.sql.codegen.fallback=false a Janino
    64 KB method overflow raises instead of silently interpreting."""
    rnd = random.Random(7)
    dim, k_cells = 256, 64
    cents = [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(k_cells)]
    vecs = spark.createDataFrame(
        [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(20)],
        "vec_id long, embedding array<double>")
    q = [rnd.gauss(0, 1) for _ in range(dim)]
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = ivf_topk(vecs, q, cents, k=5, nprobe=4).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    assert len(rows) <= 5
    # sanity: the probe restriction is a join, not a pushed-down filter
    plan = ivf_assign(vecs, cents).join(
        F.broadcast(spark.createDataFrame([(0,)], "cell int")),
        "cell", "left_semi")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ivf_train_deterministic_and_exact_when_exhaustive(spark):
    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents_a, q_a = ivf_train(vecs, k_cells=8, iters=2)
    cents_b, q_b = ivf_train(vecs.repartition(13), k_cells=8, iters=2)
    # fixed-point k-means: bit-identical under any partitioning
    assert cents_a == cents_b and q_a == q_b
    assert len(cents_a) == 8 and all(len(c) == len(q_a) for c in cents_a)
    exact = [(r.vec_id, r.cosine)
             for r in cosine_topk(vecs, q_a, k=10).collect()]
    exhaustive = [(r.vec_id, r.cosine)
                  for r in ivf_topk(vecs, q_a, cents_a, k=10,
                                    nprobe=len(cents_a)).collect()]
    assert exhaustive == exact
    # recall monotone in nprobe with the trained quantizer
    exact_ids = {i for i, _ in exact}
    prev = -1.0
    for nprobe in (1, 2, 4, 8):
        got = {r.vec_id for r in
               ivf_topk(vecs, q_a, cents_a, k=10, nprobe=nprobe).collect()}
        recall = len(got & exact_ids) / len(exact_ids)
        assert recall >= prev
        prev = recall


def test_ivf_train_empty_corpus(spark):
    vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    cents, q = ivf_train(vecs, k_cells=4, iters=1)
    assert cents == [] and q == []


def test_lm_empty_training_split_stays_defined(spark):
    """All doc_ids % train_mod == 0 -> the training split is EMPTY.
    The GREATEST(n_train, 1) / GREATEST(t_big + v_uni, 1) guards keep
    the shared ladder SQL defined (Spark would return NULL on /0 while
    DuckDB float division yields inf — engine divergence)."""
    from knowledgebase_processor_spark.operators.nglm import (
        backoff_lm_report, kneser_ney_n_report)
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (5, "delta epsilon")],
        "doc_id long, text string")
    bo = backoff_lm_report(docs, train_mod=5).orderBy("doc_id").collect()
    assert [r["doc_id"] for r in bo] == [0, 5]
    # every token takes the OOV rung against the phantom 1-token corpus:
    # score = ladder_alpha / 1, finite and non-NULL
    assert all(r["nll_nano"] is not None and r["nll_nano"] > 0 for r in bo)
    kn = kneser_ney_n_report(docs, 2, train_mod=5).orderBy("doc_id").collect()
    assert [r["doc_id"] for r in kn] == [0, 5]
    # KN's continuation floor on the phantom corpus is (0+1)/1 = 1.0,
    # so nll is exactly 0 — defined (non-NULL), not divergent
    assert all(r["nll_nano"] == 0 and r["avg_nll_micro"] == 0 for r in kn)


def test_kneser_ney3_hand_computed(spark):
    """Trigram-KN rungs by hand.  Train doc 1 "a b c", doc 2 "a b d":
    uni a:2 b:2 c:1 d:1 (V=4); bi "a b":2 "b c":1 "b d":1 (T=3);
    tri "a b c":1 "a b d":1; N1+(a.)=1 N1+(b.)=2; N1+(.b)=1 N1+(.c)=1
    N1+(.d)=1; N1+(a b .)=2.  T+V = 7."""
    import math

    from knowledgebase_processor_spark.operators.nglm import (
        kneser_ney_n_report)
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d"), (0, "a b c z"), (5, "")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in kneser_ney_n_report(docs, 3).collect()}

    def nano(p):
        return round(1e9 * -math.log10(p))

    D = 0.75
    # bigram-level distribution (the inner rung, shared verbatim):
    #   P2(b|a) = (max(2-D,0) + D*N1+(a.)*Pc(b)) / c(a)=2, Pc(b)=(1+1)/7
    #   P2(c|b) = (max(1-D,0) + D*N1+(b.)*Pc(c)) / c(b)=2, Pc(c)=(1+1)/7
    #   P2(z|b) = (0 + D*2*Pc(z)) / 2,                     Pc(z)=(0+1)/7
    p2_b_a = (1.25 + D * 1 * (2 / 7)) / 2.0
    p2_c_b = (0.25 + D * 2 * (2 / 7)) / 2.0
    # pos0 'a': continuation floor (N1+(.a)=0) -> (0+1)/7
    # pos1 'b': bigram rung only (pos<2) -> P2(b|a)
    # pos2 'c': trigram rung: c3("a b c")=1, c2ctx("a b")=2, N1+(a b .)=2
    #           -> (max(1-D,0) + D*2*P2(c|b)) / 2
    # pos3 'z': trigram context (p2=b, p1=c) has c2ctx = c("b c") = 1
    #           but N1+(b c .) = 0 -> bigram rung with p1=c: c(c)=1 > 0
    #           but N1+(c.)=0 -> continuation floor Pc(z) = (0+1)/7
    p3_c = (0.25 + D * 2 * p2_c_b) / 2.0
    expect = (nano(1 / 7) + nano(p2_b_a) + nano(p3_c) + nano(1 / 7))
    assert rows[0]["n_tokens"] == 4 and rows[0]["nll_nano"] == expect
    assert rows[5]["n_tokens"] == 0 and rows[5]["nll_nano"] is None


def test_kneser_ney3_beats_bigram_on_trigram_structure(spark):
    """A corpus with deterministic trigram transitions that bigrams
    cannot capture: trigram KN must assign lower perplexity."""
    from knowledgebase_processor_spark.operators.nglm import (
        kneser_ney_n_report)
    # after "x a" always "p", after "y a" always "q": trigram-predictable,
    # bigram sees a->p and a->q as a coin flip
    body = "x a p y a q " * 30
    docs = spark.createDataFrame(
        [(1, body), (2, body), (3, body), (4, body), (0, body)],
        "doc_id long, text string")
    kn2 = kneser_ney_n_report(docs, 2).collect()[0]["avg_nll_micro"]
    kn3 = kneser_ney_n_report(docs, 3).collect()[0]["avg_nll_micro"]
    assert kn3 < kn2


def test_prepare_corpus_lm_stage(spark):
    """Opt-in CCNet perplexity stage: keeps the head bucket(s) of the
    quality survivors, records its lineage row, and drops the
    highest-perplexity docs first."""
    from knowledgebase_processor_spark.operators.prepare import (
        prepare_corpus)
    # eleven fluent pages: 8 DISTINCT sentence templates per page (so no
    # within-doc top-n-gram dominates — the Gopher rules), one
    # doc-unique token per sentence (so cross-doc shingle Jaccard stays
    # far under the 0.6 dedup threshold), templates shared ACROSS docs
    # (so the in-corpus LM finds their n-grams fluent).  Plus one
    # word-soup outlier that must land in the tail bucket.
    temps = [
        "The {w} report covers central fields and results thoroughly.",
        "A detailed survey of the {w} region appeared in print today.",
        "Researchers described the {w} valley with careful attention.",
        "Local readers praised the {w} chronicle for balanced coverage.",
        "The council reviewed the {w} findings during an open session.",
        "Several experts compared the {w} data against annual records.",
        "A final summary placed the {w} results above expected ranges.",
        "The archive stored every {w} document beside old collections.",
    ]

    def page(i):
        return "\n".join(t.format(w=f"zone{i}{j}") for j, t in
                         enumerate(temps))

    soup = " ".join(f"zz{i}q xj{i}w" for i in range(40))
    rows = [(str(i), page(i)) for i in range(1, 12)]
    rows.append(("12", soup + " endsoup."))
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out, stats = prepare_corpus(docs, lm_head_buckets=2, lm_buckets=3)
    st = {r["stage"]: r["n_docs"] for r in stats.collect()}
    assert "lm_head_kept" in st
    assert 0 < st["lm_head_kept"] < st["quality_kept"]
    # the soup outlier is in the dropped tail
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert "12" not in kept


def test_kneser_ney_n_generalizes(spark):
    """The order-n ladder builder: n=2 reproduces the hand-written
    bigram DuckDB replay, n=3 the generated trigram replay, and n=5
    (CCNet's production KenLM order) runs green with perplexity no worse
    than n=4 on a trigram-structured corpus (higher orders can only
    sharpen deterministic transitions)."""
    import duckdb

    from knowledgebase_processor_spark.operators.nglm import (
        kneser_ney_n_oracle_sql, kneser_ney_n_report, kneser_ney_oracle_sql)
    body = "x a p y a q " * 30
    rows = [(i, body) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)

    def vals(df):
        return [(r["doc_id"], r["n_tokens"], r["nll_nano"])
                for r in df.orderBy("doc_id").collect()]

    def oracle(sql):
        return [tuple(r[:3]) for r in con.execute(sql).fetchall()]

    assert vals(kneser_ney_n_report(docs, 2)) == oracle(
        kneser_ney_oracle_sql("documents"))
    assert vals(kneser_ney_n_report(docs, 3)) == oracle(
        kneser_ney_n_oracle_sql("documents", 3))
    n4 = vals(kneser_ney_n_report(docs, 4))
    n5 = vals(kneser_ney_n_report(docs, 5))
    assert len(n5) == 1 and n5[0][1] == n4[0][1] > 0
    assert n5[0][2] <= n4[0][2]


def test_pq_encode_wide_config_and_null_vectors(spark):
    """M=16 x K=256 x sub=16 (a production PQ shape, 65k distance terms
    — far past any single codegen method) compiles and runs with
    codegen fallback disabled; NULL / short / NaN vectors yield null
    codes instead of ANSI throws."""
    import math

    from knowledgebase_processor_spark.operators.pq import (
        pq_encode, pq_topk)
    rnd = random.Random(11)
    m, k, sub = 16, 256, 16
    dim = m * sub
    books = [[[rnd.gauss(0, 1) for _ in range(sub)] for _ in range(k)]
             for _ in range(m)]
    vecs = spark.createDataFrame(
        [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(12)]
        + [(96, None), (97, [1.0] * 8),
           (98, [math.nan] * dim), (99, [1.0] * dim)],
        "vec_id long, embedding array<double>")
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        enc = {r["vec_id"]: r["codes"]
               for r in pq_encode(vecs, books).collect()}
        top = pq_topk(pq_encode(vecs, books), books,
                      [0.0] * dim, topk=3).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    assert enc[96] is None and enc[97] is None          # null / short
    assert enc[98] == [None] * m                        # NaN propagates
    assert all(c is not None for c in enc[99])
    assert len(enc[0]) == m and all(0 <= c < k for c in enc[0])
    # null-code rows sort last, never displacing real neighbors
    assert len(top) == 3 and all(r["adc_dist"] is not None for r in top)


def test_lsh_buckets_multi_wide_and_null(spark):
    """bits=16 x tables=8 x dim=64 (8k plane terms — past any single
    codegen method) runs with codegen fallback disabled; NULL/short
    vectors land in bucket 0 of every table like the expression chain
    they replace; the single-table path is unchanged."""
    from knowledgebase_processor_spark.operators.similarity import (
        cosine_lsh_buckets, lsh_buckets_multi)
    vecs = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(50)
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = lsh_buckets_multi(vecs, dim=64, bits=16, tables=8).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    assert len(rows) == 50 and all(len(r["buckets"]) == 8 for r in rows)
    assert any(b != rows[0]["buckets"][0]
               for r in rows for b in r["buckets"])
    bad = spark.createDataFrame(
        [(1, None), (2, [0.5])], "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["buckets"]
           for r in lsh_buckets_multi(bad, dim=64, bits=8, tables=3).collect()}
    assert got[1] == [0, 0, 0] and got[2] == [0, 0, 0]
    one = {r["vec_id"]: r["bucket"]
           for r in cosine_lsh_buckets(vecs, dim=64, bits=8).collect()}
    multi = {r["vec_id"]: r["buckets"][0]
             for r in lsh_buckets_multi(vecs, dim=64, bits=8).collect()}
    assert one == multi
