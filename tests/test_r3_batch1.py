"""Round-3 batch 1: stupid-backoff trigram LM (operators/nglm.py)."""
import math

import pytest

from knowledgebase_processor_spark.operators.nglm import backoff_lm_report


def _nano(score: float) -> int:
    return round(1e9 * -math.log10(score))


def test_backoff_lm_hand_computed(spark):
    """Every ladder rung hit by hand-checkable counts.

    Train (ids 1,2,3): "a b c", "a b c", "a b" -> N=8,
    uni a:3 b:3 c:2; bi "a b":3 "b c":2; tri "a b c":2.
    Held (id 0) "a b c z":
      pos0 'a'  -> unigram start:        3/8
      pos1 'b'  -> bigram start:         c2(a b)/c1(a) = 3/3
      pos2 'c'  -> trigram:              c3(a b c)/c2(a b) = 2/3
      pos3 'z'  -> OOV triple backoff:   0.4^3 / 8
    Held (id 5) "" -> 0 tokens, NULL sums.
    """
    docs = spark.createDataFrame(
        [(0, "a b c z"), (1, "a b c"), (2, "a b c"), (3, "a b"),
         (5, "")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in backoff_lm_report(docs).collect()}
    assert set(rows) == {0, 5}

    expect = (_nano(3 / 8) + _nano(3 / 3) + _nano(2 / 3)
              + _nano(0.4 ** 3 / 8))
    r0 = rows[0]
    assert r0["n_tokens"] == 4
    assert r0["nll_nano"] == expect
    assert r0["avg_nll_micro"] == round(expect / (1000.0 * 4))

    r5 = rows[5]
    assert r5["n_tokens"] == 0
    assert r5["nll_nano"] is None and r5["avg_nll_micro"] is None


def test_backoff_lm_middle_rungs(spark):
    """The alpha-penalised middle rungs: seen-bigram-from-trigram-miss
    (0.4 * c2/c1prev) and seen-unigram-from-both-misses (0.16 * c1/N),
    plus the pos==1 OOV rung (0.4^2 / N)."""
    # train: "x y", "y q" -> N=4, uni x:1 y:2 q:1; bi "x y":1 "y q":1
    docs = spark.createDataFrame(
        [(1, "x y"), (2, "y q"), (0, "x y q z")],
        "doc_id long, text string")
    r = {x["doc_id"]: x for x in backoff_lm_report(docs).collect()}[0]
    # pos0 'x': 1/4; pos1 'y': c2(x y)/c1(x)=1/1
    # pos2 'q': tri miss -> 0.4 * c2(y q)/c1(y) = 0.4 * 1/2
    # pos3 'z': OOV at pos>=2 -> 0.4^3/4
    expect = (_nano(1 / 4) + _nano(1.0) + _nano(0.4 * 0.5)
              + _nano(0.4 ** 3 / 4))
    assert r["n_tokens"] == 4 and r["nll_nano"] == expect

    # pos==1 OOV rung: held "x z" with z unseen -> 1/4 then 0.4^2/4
    docs2 = spark.createDataFrame(
        [(1, "x y"), (2, "y q"), (0, "x z")],
        "doc_id long, text string")
    r2 = {x["doc_id"]: x for x in backoff_lm_report(docs2).collect()}[0]
    assert r2["nll_nano"] == _nano(1 / 4) + _nano(0.4 ** 2 / 4)


def test_backoff_lm_fluency_ranking(spark):
    """The signal does its job: a held-out page assembled from the
    training corpus's own collocations scores lower (more fluent) than
    token-noise of the same length."""
    train = [(i, "the quick brown fox jumps over the lazy dog again")
             for i in range(1, 9) if i % 5 != 0]
    held = [(0, "the quick brown fox jumps over the lazy dog again"),
            (5, "zw qx vv kj pq mn zz yy xx ww")]
    docs = spark.createDataFrame(train + held,
                                 "doc_id long, text string")
    rows = {r["doc_id"]: r for r in backoff_lm_report(docs).collect()}
    assert rows[0]["avg_nll_micro"] < rows[5]["avg_nll_micro"]


def test_ppl_buckets(spark):
    """Per-language ntiles over the LM report: fluent training-like
    pages land in bucket 1 (head), noise pages in the top bucket
    (tail); counts balance per NTILE semantics."""
    from knowledgebase_processor_spark.operators.nglm import ppl_buckets

    fluent = "the quick brown fox jumps over the lazy dog again"
    noise = "zw qx vv kj pq mn zz yy xx ww"
    docs = spark.createDataFrame(
        [(i, fluent, "en") for i in range(1, 30) if i % 5 != 0]
        + [(0, fluent, "en"), (5, fluent, "en"), (10, noise, "en"),
           (15, fluent, "en"), (20, noise, "en"), (25, fluent, "en")],
        "doc_id long, text string, lang string")
    rows = ppl_buckets(docs, buckets=3).collect()
    by_bucket = {r["bucket"]: r for r in rows}
    assert sum(r["n_docs"] for r in rows) == 6
    assert set(by_bucket) == {1, 2, 3}
    # NTILE(3) over 6 rows -> 2 docs per bucket; the two noise docs
    # must rank in the tail bucket
    assert all(r["n_docs"] == 2 for r in rows)
    assert by_bucket[3]["min_nll_micro"] > by_bucket[1]["max_nll_micro"]


def test_kneser_ney_hand_computed(spark):
    """Interpolated-KN rungs by hand.  Train "a b", "b c":
    uni a:1 b:2 c:1 (V=3); bi "a b":1 "b c":1 (T=2); N1+(a.)=1,
    N1+(b.)=1; N1+(.b)=1, N1+(.c)=1.  T+V = 5."""
    from knowledgebase_processor_spark.operators.nglm import (
        kneser_ney_n_report)
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c"), (0, "a b z"), (5, "")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in kneser_ney_n_report(docs, 2).collect()}
    import math
    def nano(p):
        return round(1e9 * -math.log10(p))
    # pos0 'a': continuation floor (N1+(.a)=0) -> (0+1)/5
    # pos1 'b': seen bigram: (max(1-.75,0) + .75*1*((1+1)/5)) / c(a)=1
    # pos2 'z': unseen after b: (0 + .75*1*((0+1)/5)) / c(b)=2
    expect = (nano(1 / 5)
              + nano((0.25 + 0.75 * (2 / 5)) / 1.0)
              + nano((0.75 * (1 / 5)) / 2.0))
    assert rows[0]["n_tokens"] == 3 and rows[0]["nll_nano"] == expect
    assert rows[5]["n_tokens"] == 0 and rows[5]["nll_nano"] is None


def test_kneser_ney_final_only_context(spark):
    """The log(0) edge the sf0.01 oracle caught: a context word seen
    ONLY document-finally (c(p)>0, zero continuations) must take the
    continuation floor, not emit probability 0."""
    from knowledgebase_processor_spark.operators.nglm import (
        kneser_ney_n_report)
    # train: "x q" -> q seen only finally; held: "q z" exercises
    # pos1 with c1prev=c(q)=1, n1p_prev=0
    docs = spark.createDataFrame(
        [(1, "x q"), (0, "q z")], "doc_id long, text string")
    r = {x["doc_id"]: x for x in kneser_ney_n_report(docs, 2).collect()}[0]
    assert r["n_tokens"] == 2 and r["nll_nano"] is not None
