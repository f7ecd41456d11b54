"""Trained stupid-backoff trigram LM perplexity scoring (beyond-
reference; CCNet-style corpus filtering, SURVEY.md §2 round-3 surface).

CCNet/RedPajama/Dolma score web pages with a KenLM n-gram model and
drop the high-perplexity tail.  ``lm_score.py`` (q59) already ships the
count-ratio "LM-lite" signal; this module is the REAL thing with the
published scoring rule: a trigram model with stupid backoff (Brants et
al. 2007, "Large Language Models in Machine Translation" — the scheme
built FOR MapReduce-scale counts), trained on one hash-split of the
corpus and scored on the held-out split.

Scoring rule (highest available order, alpha per backoff step):

    S(w | p2 p1) = c3(p2 p1 w) / c2(p2 p1)          if c3 > 0
                 = alpha * S(w | p1)                 otherwise
    S(w | p1)    = c2(p1 w) / c1(p1)                 if c2 > 0
                 = alpha * S(w)                      otherwise
    S(w)         = c1(w) / N                         if c1 > 0
                 = alpha / N                         otherwise (OOV:
                   one phantom count, so the score stays a probability
                   -shaped ratio and log() is defined)

Position 0 starts at the unigram order, position 1 at the bigram order
(no penalty until a backoff actually happens).  alpha = 0.4 (the
published constant).

Exactness contract: all counts are exact BIGINTs from the shared
portable tokenizer; the ONE float step per token (the CASE ladder +
log10) is SQL text shared verbatim with the DuckDB oracle
(:func:`backoff_score_sql`), nano-quantized per token BEFORE the
per-document sum — so the sum is an exact integer in any execution
order on both engines (the q238 char-entropy discipline).

Scale shape: the three count tables are plain partial-aggregatable
``groupBy(ngram).count()`` frames; scoring is five hash joins of the
held-out token stream against them, each on a single string key.  Head
tokens ("the", "of") make the unigram probe side skewed — AQE skew-join
splits those partitions at runtime (enabled in pipeline.session), and
every join is a plain equi-join so the planner is free to choose
broadcast when a count table fits (a trained LM pruned to the usual
few-million-n-gram vocabulary broadcasts; a full web-corpus table
shuffles — both correct).  No Python rows, no collect of anything
unbounded; N rides along as a 1-row broadcast cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.text import portable_words

# The one integer gate of the train/held split, the same regex text on
# both engines.  `\z`, not `$`: Java's `$` also matches before a final
# newline ('7\n'), RE2's does not.
_INT_ID_RE = r"^[+-]?[0-9]+\z"


def _split_bucket(col: Column, train_mod: int) -> Column:
    """Train/held split bucket — a pure function of the id under ANY id
    type, so a string/url-keyed corpus splits instead of dropping out.

    An id whose string form is a plain integer keeps ``id % train_mod``
    membership (``7`` and ``'7'`` agree by construction); everything
    else — and an integer string that overflows BIGINT — takes the
    salted-md5 integer bucket of the string form, the
    ``operators/split.py`` portable idiom.  The two engines' casts
    disagree on '7.5', '7e1' and '0x1F', so only the regex decides.  A
    NULL id yields a NULL bucket (dropped from both splits).
    """
    s = col.cast("string")
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit("lmsplit|"), s)), 1, 15), 16, 10).cast("long")
    return F.coalesce(F.when(s.rlike(_INT_ID_RE), s.try_cast("long")),
                      h) % train_mod


def _split_bucket_sql(train_mod: int, id_sql: str = "doc_id") -> str:
    """The DuckDB replay of :func:`_split_bucket` (same regex gate, same
    md5 prefix)."""
    s = f"CAST({id_sql} AS VARCHAR)"
    return (f"COALESCE(CASE WHEN regexp_matches({s}, '{_INT_ID_RE}') "
            f"THEN TRY_CAST({s} AS BIGINT) END, "
            f"('0x' || substr(md5('lmsplit|' || {s}), 1, 15))::BIGINT)"
            f" % {train_mod}")


ALPHA = "0.4"

# The per-token score ladder over exact integer counts (NULL counts are
# pre-coalesced to 0).  Shared VERBATIM with the DuckDB oracle; the only
# floats are the final divisions and the alpha products.
# GREATEST(n_train, 1): on a degenerate corpus where the training split
# is empty, Spark's Divide-by-zero returns NULL while DuckDB float
# division yields inf — the guard keeps both engines defined and
# identical (the OOV rung then scores against a 1-token phantom corpus,
# a constant that cancels in any ranking).
BACKOFF_SCORE_SQL = (
    "CASE WHEN pos >= 2 AND c3 > 0 THEN c3 / CAST(c2ctx AS DOUBLE) "
    f"WHEN pos >= 1 AND c2 > 0 THEN (CASE WHEN pos >= 2 THEN {ALPHA} "
    "ELSE 1.0 END) * c2 / CAST(c1prev AS DOUBLE) "
    f"WHEN c1 > 0 THEN (CASE WHEN pos >= 2 THEN {ALPHA} * {ALPHA} "
    f"WHEN pos = 1 THEN {ALPHA} ELSE 1.0 END) * c1 "
    "/ CAST(GREATEST(n_train, 1) AS DOUBLE) "
    f"ELSE (CASE WHEN pos >= 2 THEN {ALPHA} * {ALPHA} * {ALPHA} "
    f"WHEN pos = 1 THEN {ALPHA} * {ALPHA} ELSE {ALPHA} END) "
    "/ CAST(GREATEST(n_train, 1) AS DOUBLE) END")

# -log10(score), nano-quantized per token (exact-integer summable).
TOKEN_NLL_NANO_SQL = (
    f"CAST(round(1e9 * (-log10({BACKOFF_SCORE_SQL}))) AS BIGINT)")


def _ngram_counts(toks: DataFrame, n: int) -> DataFrame:
    """(gram, c) counts of space-joined n-grams over the `ws` array
    column — map-side partial agg, one shuffle on the gram string."""
    if n == 1:
        gram = F.explode("ws").alias("gram")
    else:
        parts = ", ".join(f"ws[i + {k}]" for k in range(n))
        gram = F.explode(F.expr(
            f"transform(sequence(0, size(ws) - {n}), "
            f"i -> concat_ws(' ', {parts}))")).alias("gram")
    return (toks.filter(F.size("ws") >= n).select(gram)
            .groupBy("gram").count().withColumnRenamed("count", "c"))


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # the id keeps its ORIGINAL type end-to-end (string urls, bigints,
    # ...) — only the split bucket hashes it (see _split_bucket)
    return docs.select(F.col(id_col).alias("doc_id"),
                       portable_words(F.coalesce(F.col(text_col),
                                                 F.lit(""))).alias("ws"))


def _split(docs: DataFrame, id_col: str, text_col: str, train_mod: int,
           score_all: bool = False) -> tuple[DataFrame, DataFrame]:
    """(train, held) tokenized frames: train on bucket != 0, score
    bucket 0 — or every document with ``score_all`` (the CCNet filter
    shape)."""
    base = _tokens(docs, id_col, text_col)
    sb = _split_bucket(F.col("doc_id"), train_mod)
    return base.filter(sb != 0), (base if score_all
                                  else base.filter(sb == 0))


def _positions(held: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, w, p1..pk): one row per held-out token with its k
    preceding words (NULL before the document start).  A token-less
    document keeps one row with a NULL pos, so it still reports."""
    return held.select(
        "doc_id",
        F.posexplode_outer("ws").alias("pos", "w"),
        F.col("ws").alias("_ws"),
    ).select("doc_id", "pos", "w",
             *[F.expr(f"CASE WHEN pos >= {i} THEN _ws[pos - {i}] END")
               .alias(f"p{i}") for i in range(1, k + 1)])


def _per_doc_nll(j: DataFrame, tok_nano_sql: str) -> DataFrame:
    """Score each position with ``tok_nano_sql`` and sum per document
    -> (doc_id, n_tokens, nll_nano, avg_nll_micro)."""
    scored = j.withColumn(
        "tok_nano",
        F.when(F.col("pos").isNull(), None)      # empty doc placeholder
        .otherwise(F.expr(tok_nano_sql)))
    agg = scored.groupBy("doc_id").agg(
        F.count("tok_nano").cast("long").alias("n_tokens"),
        F.sum("tok_nano").alias("nll_nano"))
    return agg.selectExpr(
        "doc_id", "n_tokens", "nll_nano",
        "CASE WHEN n_tokens = 0 THEN NULL "
        "ELSE CAST(round(nll_nano / (1000.0 * n_tokens)) AS BIGINT) END"
        " AS avg_nll_micro")


def _lang_ntile(rep: DataFrame, docs: DataFrame, id_col: str,
                lang_col: str | None, buckets: int) -> DataFrame:
    """Per-language ntile of an LM report on (avg_nll_micro, doc_id)
    -> (doc_id, lang, avg_nll_micro, bucket); bucket 1 = head.
    Token-less documents get no row (no perplexity).  ``lang_col=None``
    ranks the whole corpus as one language, 'all'."""
    lang = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.col(lang_col) if lang_col else F.lit("all")).alias("lang"))
    j = rep.filter(F.col("n_tokens") > 0).join(lang, "doc_id")
    w = Window.partitionBy("lang").orderBy("avg_nll_micro", "doc_id")
    return j.select("doc_id", "lang", "avg_nll_micro",
                    F.ntile(buckets).over(w).cast("int").alias("bucket"))


# --- DuckDB oracle fragments (shared among the oracles only) ---------------

def _split_oracle_ctes(docs_sql: str, train_mod: int,
                       score_all: bool) -> str:
    """The ``base``/``train``/``held`` CTEs: the portable tokenizer and
    the :func:`_split_bucket_sql` split (``score_all`` holds out every
    document)."""
    ws = (r"list_filter(string_split_regex(lower(trim(text)),"
          r" '[ \t\n\r\f]+'), w -> w <> '')")
    held = ("SELECT doc_id, ws FROM base" if score_all else
            "SELECT doc_id, ws FROM base WHERE sb = 0")
    return f"""base AS (
          SELECT doc_id, {ws} AS ws, {_split_bucket_sql(train_mod)} AS sb
          FROM {docs_sql}),
        train AS (SELECT doc_id, ws FROM base WHERE sb <> 0),
        held AS ({held})"""


# per-doc tail over a ``scored (doc_id, tok_nano)`` CTE: every held doc
# reports, token-less ones with n_tokens = 0
_PER_DOC_NLL_SQL = """agg AS (
          SELECT h.doc_id,
                 COUNT(s.tok_nano) AS n_tokens,
                 SUM(s.tok_nano) AS nll_nano
          FROM held h LEFT JOIN scored s USING (doc_id)
          GROUP BY h.doc_id)
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(nll_nano AS BIGINT) AS nll_nano,
               CASE WHEN n_tokens = 0 THEN NULL
                    ELSE CAST(round(nll_nano / (1000.0 * n_tokens))
                         AS BIGINT) END AS avg_nll_micro
        FROM agg ORDER BY doc_id"""


def _lang_ntile_oracle_sql(rep_sql: str, docs_sql: str,
                           lang_col: str | None, buckets: int) -> str:
    """DuckDB replay of :func:`_lang_ntile` over an LM-report query."""
    lang = lang_col if lang_col else "'all'"
    return f"""
        WITH rep AS ({rep_sql}),
        j AS (
          SELECT r.doc_id, r.avg_nll_micro, {lang} AS lang
          FROM rep r JOIN {docs_sql} d
            ON r.doc_id = d.doc_id
          WHERE r.n_tokens > 0)
        SELECT doc_id, lang, avg_nll_micro,
               CAST(NTILE({buckets}) OVER (PARTITION BY lang
                 ORDER BY avg_nll_micro, doc_id) AS INT) AS bucket
        FROM j ORDER BY doc_id"""


def backoff_lm_report(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      train_mod: int = 5) -> DataFrame:
    """Train on ``doc_id % train_mod != 0``, score the held-out rest.

    -> (doc_id, n_tokens, nll_nano, avg_nll_micro) per held-out doc:
    nll_nano = exact integer sum of per-token nano-quantized
    -log10(stupid-backoff score); avg_nll_micro = micro-quantized mean
    (NULL for token-less docs).  Lower = more fluent under the trained
    model — the CCNet filtering signal.
    """
    return backoff_lm_score_tokens(*_split(docs, id_col, text_col,
                                           train_mod))


def backoff_lm_score(train_docs: DataFrame, score_docs: DataFrame,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Train the backoff LM on ALL of ``train_docs`` and score ALL of
    ``score_docs`` — the deployment shape (model corpus and scored
    corpus are different frames; the stream screen uses this)."""
    return backoff_lm_score_tokens(
        _tokens(train_docs, id_col, text_col),
        _tokens(score_docs, id_col, text_col))


def backoff_lm_model(train: DataFrame,
                     persist: bool = False) -> dict[str, DataFrame]:
    """The trained stupid-backoff model as its four bounded count
    frames (uni/bi/tri gram counts + the 1-row token total).  This is
    the deployment split: train ONCE, score many — the streaming screen
    (streaming/jobs.py::lm_screen_stream) scores every micro-batch
    against one model, so ``persist=True`` caches the count tables
    instead of re-aggregating the training corpus per batch (exactly
    how CCNet ships one KenLM binary to every worker)."""
    model = {"uni": _ngram_counts(train, 1),
             "bi": _ngram_counts(train, 2),
             "tri": _ngram_counts(train, 3),
             "n_train": train.select(
                 F.coalesce(F.sum(F.size("ws")), F.lit(0)).cast("long")
                 .alias("n_train"))}           # 1 row -> broadcast below
    if persist:
        for df in model.values():
            df.persist()
    return model


def backoff_lm_score_tokens(train: DataFrame,
                            held: DataFrame) -> DataFrame:
    """Core scorer over pre-tokenized (doc_id, ws) frames."""
    return backoff_lm_score_with_model(backoff_lm_model(train), held)


def backoff_lm_score_with_model(model: dict[str, DataFrame],
                                held: DataFrame) -> DataFrame:
    """Score pre-tokenized (doc_id, ws) rows against a trained
    :func:`backoff_lm_model` — the same five equi-joins and the same
    shared ladder SQL as the one-shot path (bit-identical by
    construction; the stream/batch equivalence test pins it)."""
    uni, bi, tri = model["uni"], model["bi"], model["tri"]
    j = (_positions(held, 2)
         .join(F.broadcast(model["n_train"]))
         .join(tri.select(F.col("gram").alias("_g3"),
                          F.col("c").alias("_c3")),
               F.concat_ws(" ", "p2", "p1", "w") == F.col("_g3"), "left")
         .join(bi.select(F.col("gram").alias("_g2c"),
                         F.col("c").alias("_c2ctx")),
               F.concat_ws(" ", "p2", "p1") == F.col("_g2c"), "left")
         .join(bi.select(F.col("gram").alias("_g2"),
                         F.col("c").alias("_c2")),
               F.concat_ws(" ", "p1", "w") == F.col("_g2"), "left")
         .join(uni.select(F.col("gram").alias("_g1p"),
                          F.col("c").alias("_c1prev")),
               F.col("p1") == F.col("_g1p"), "left")
         .join(uni.select(F.col("gram").alias("_g1"),
                          F.col("c").alias("_c1")),
               F.col("w") == F.col("_g1"), "left")
         .select(
             "doc_id", "pos", "n_train",
             F.coalesce("_c3", F.lit(0)).alias("c3"),
             F.coalesce("_c2ctx", F.lit(0)).alias("c2ctx"),
             F.coalesce("_c2", F.lit(0)).alias("c2"),
             F.coalesce("_c1prev", F.lit(0)).alias("c1prev"),
             F.coalesce("_c1", F.lit(0)).alias("c1")))
    return _per_doc_nll(j, TOKEN_NLL_NANO_SQL)


def backoff_lm_oracle_sql(docs_sql: str, train_mod: int = 5,
                          score_all: bool = False) -> str:
    """DuckDB replay: identical tokenizer, identical count definitions,
    and the IDENTICAL score ladder SQL text (BACKOFF_SCORE_SQL) —
    per-token nano quantization makes the per-doc sum an exact integer
    on both engines.  ``score_all`` scores EVERY document against the
    split-trained model (the CCNet filter shape) instead of only the
    held-out split."""
    return f"""
        WITH {_split_oracle_ctes(docs_sql, train_mod, score_all)},
        n_tr AS (SELECT COALESCE(SUM(len(ws)), 0) AS n_train FROM train),
        uni AS (
          SELECT w AS gram, COUNT(*) AS c
          FROM (SELECT UNNEST(ws) AS w FROM train) GROUP BY w),
        bi AS (
          SELECT g AS gram, COUNT(*) AS c FROM (
            SELECT UNNEST(CASE WHEN len(ws) >= 2
              THEN list_transform(range(1, len(ws)),
                                  i -> ws[i] || ' ' || ws[i+1])
              ELSE [] END) AS g FROM train) GROUP BY g),
        tri AS (
          SELECT g AS gram, COUNT(*) AS c FROM (
            SELECT UNNEST(CASE WHEN len(ws) >= 3
              THEN list_transform(range(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
              ELSE [] END) AS g FROM train) GROUP BY g),
        pos_rows AS (
          SELECT doc_id,
                 UNNEST(list_transform(range(1, len(ws) + 1),
                                       i -> i - 1)) AS pos,
                 UNNEST(ws) AS w,
                 UNNEST(list_transform(range(1, len(ws) + 1),
                   i -> CASE WHEN i >= 2 THEN ws[i-1] END)) AS p1,
                 UNNEST(list_transform(range(1, len(ws) + 1),
                   i -> CASE WHEN i >= 3 THEN ws[i-2] END)) AS p2
          FROM held),
        joined AS (
          SELECT r.doc_id, r.pos, n_tr.n_train,
                 COALESCE(t3.c, 0) AS c3,
                 COALESCE(b2c.c, 0) AS c2ctx,
                 COALESCE(b2.c, 0) AS c2,
                 COALESCE(u1p.c, 0) AS c1prev,
                 COALESCE(u1.c, 0) AS c1
          FROM pos_rows r
          CROSS JOIN n_tr
          LEFT JOIN tri t3
            ON concat_ws(' ', r.p2, r.p1, r.w) = t3.gram
          LEFT JOIN bi b2c ON concat_ws(' ', r.p2, r.p1) = b2c.gram
          LEFT JOIN bi b2 ON concat_ws(' ', r.p1, r.w) = b2.gram
          LEFT JOIN uni u1p ON r.p1 = u1p.gram
          LEFT JOIN uni u1 ON r.w = u1.gram),
        scored AS (
          SELECT doc_id, {TOKEN_NLL_NANO_SQL} AS tok_nano FROM joined),
        {_PER_DOC_NLL_SQL}"""


def ppl_buckets(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", lang_col: str = "lang",
                train_mod: int = 5, buckets: int = 3) -> DataFrame:
    """CCNet's head/middle/tail split: per language, rank the held-out
    documents by trained-LM perplexity (avg_nll_micro, doc_id
    tiebreak) and cut into ``buckets`` ntiles — bucket 1 = "head"
    (most fluent), the slice CCNet keeps outright.

    -> (lang, bucket, n_docs, min_nll_micro, max_nll_micro,
    sum_nll_micro): exact integers only, so the report replays
    engine-identically.  Plan: the LM report's joins, one window rank
    per language (spillable sort, partitioned by lang), one partial-agg
    groupBy.  Token-less documents are excluded (no perplexity).
    """
    rep = backoff_lm_report(docs, id_col, text_col, train_mod)
    return (_lang_ntile(rep, docs, id_col, lang_col, buckets)
            .groupBy("lang", "bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.min("avg_nll_micro").alias("min_nll_micro"),
                 F.max("avg_nll_micro").alias("max_nll_micro"),
                 F.sum("avg_nll_micro").alias("sum_nll_micro")))


def ppl_buckets_oracle_sql(docs_sql: str, train_mod: int = 5,
                           buckets: int = 3) -> str:
    """DuckDB replay: the per-language ntile of the LM-report oracle,
    exact-integer aggregates per bucket."""
    b = _lang_ntile_oracle_sql(backoff_lm_oracle_sql(docs_sql, train_mod),
                               docs_sql, "d.lang", buckets)
    return f"""
        SELECT lang, bucket,
               COUNT(*) AS n_docs,
               MIN(avg_nll_micro) AS min_nll_micro,
               MAX(avg_nll_micro) AS max_nll_micro,
               SUM(avg_nll_micro) AS sum_nll_micro
        FROM ({b}) GROUP BY lang, bucket
        ORDER BY lang, bucket"""


def ppl_bucket_assign(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      lang_col: str | None = None,
                      train_mod: int = 5, buckets: int = 3) -> DataFrame:
    """Per-document CCNet bucket: train the backoff LM on the
    ``doc_id % train_mod != 0`` split, score EVERY document (CCNet
    scores the whole corpus against its Wikipedia-trained model; the
    in-corpus split is this engine's deterministic twin), then ntile
    per language on (avg_nll_micro, doc_id).

    -> (doc_id, lang, avg_nll_micro, bucket); bucket 1 = head.  Docs
    with zero tokens get no row (no perplexity — CCNet drops them).
    Plan: the LM join stream + one per-language window rank; the
    filter consumer broadcasts nothing new.
    """
    rep = backoff_lm_score_tokens(*_split(docs, id_col, text_col,
                                          train_mod, score_all=True))
    return _lang_ntile(rep, docs, id_col, lang_col, buckets)


def ppl_bucket_assign_oracle_sql(docs_sql: str,
                                 lang_col: str | None = None,
                                 train_mod: int = 5,
                                 buckets: int = 3) -> str:
    """DuckDB replay of :func:`ppl_bucket_assign` — the score-all LM
    report as a CTE, identical NTILE ordering."""
    rep = backoff_lm_oracle_sql(docs_sql, train_mod, score_all=True)
    return _lang_ntile_oracle_sql(rep, docs_sql, lang_col, buckets)


# --- interpolated Kneser-Ney (the KenLM-standard smoother) -----------------
# Bigram interpolated KN with fixed discount D=0.75 (Chen & Goodman 1999
# eq. 18; KenLM's default family).  Continuation probabilities are
# add-one smoothed over (distinct-bigram-types + vocab) so the score is
# strictly positive on OOV tokens and log() is always defined:
#
#   Pcont(w)  = (N1+(.w) + 1) / (T + V)
#   P(w | p)  = (max(c(pw) - D, 0) + D * N1+(p.) * Pcont(w)) / c(p)
#               when c(p) > 0;  Pcont(w) at position 0 / unseen context.
#
# All counts exact BIGINTs; the ONE float ladder is SQL text shared
# verbatim with the DuckDB oracle and nano-quantized per token.

KN_D = "0.75"

KN_SCORE_SQL = (
    # the discount branch needs n1p_prev > 0 as well: a context word
    # seen ONLY document-finally has c(p) > 0 but zero continuations,
    # and with c(pw) = 0 the interpolated mass would be exactly 0
    # (log-undefined); such positions take the continuation floor.
    # c(pw) > 0 implies n1p_prev >= 1, so no discount mass is lost.
    # GREATEST(t_big + v_uni, 1): empty training split — keeps Spark
    # (NULL on /0) and DuckDB (inf on /0.0) identical; see
    # BACKOFF_SCORE_SQL's n_train guard.
    f"CASE WHEN pos >= 1 AND c1prev > 0 AND n1p_prev > 0 THEN "
    f"(GREATEST(c2 - {KN_D}, 0.0) + ({KN_D} * n1p_prev) "
    f"* ((n1p_w + 1) / CAST(GREATEST(t_big + v_uni, 1) AS DOUBLE))) "
    f"/ CAST(c1prev AS DOUBLE) "
    f"ELSE (n1p_w + 1) / CAST(GREATEST(t_big + v_uni, 1) AS DOUBLE) END")

KN_TOKEN_NANO_SQL = (
    f"CAST(round(1e9 * (-log10({KN_SCORE_SQL}))) AS BIGINT)")

# Order-n interpolated KN: each higher order is one more rung on the
# same ladder.  Level m discounts the raw m-gram count and interpolates
# with weight D * N1+(context .) into the FULL order-(m-1) distribution,
# so every guard (zero-continuation contexts, empty training split) is
# inherited at every order.  P_m > 0 always: the inner P_2 is strictly
# positive by construction and each discount branch only fires with its
# context count > 0.


def kn_rung_sqls(n: int) -> list[tuple[str, str]]:
    """The order-n ladder as a list of ``(column_name, sql)`` rungs —
    rung m references rung m-1 by COLUMN NAME: embedding its text in
    both the THEN and the ELSE branch would double the expression per
    order (the expression-duplication blowup the ivf_assign kernel
    comment warns stalls codegen).  Each rung's SQL text is shared
    VERBATIM with the DuckDB oracle; projecting a rung once and
    referencing it computes the identical float64 value, so the replay
    stays bit-green."""
    assert n >= 2
    rungs = [("kn_s2", KN_SCORE_SQL)]
    for m in range(3, n + 1):
        prev = f"kn_s{m - 1}"
        rungs.append((f"kn_s{m}",
                      f"CASE WHEN pos >= {m - 1} AND ctx{m} > 0 "
                      f"AND n1pctx{m} > 0 THEN "
                      f"(GREATEST(c{m} - {KN_D}, 0.0) + "
                      f"({KN_D} * n1pctx{m}) "
                      f"* ({prev})) / CAST(ctx{m} AS DOUBLE) "
                      f"ELSE ({prev}) END"))
    return rungs


def kn_token_nano_from_rung(n: int) -> str:
    """-log10 of the top rung's column, nano-quantized."""
    return f"CAST(round(1e9 * (-log10(kn_s{n}))) AS BIGINT)"


def kn_score_sql_n(n: int) -> str:
    """The order-n ladder as ONE flat expression: the executable spec
    :func:`kn_rung_sqls` is tested against (its size doubles per order,
    so neither engine runs it)."""
    assert n >= 2
    sql = KN_SCORE_SQL
    for m in range(3, n + 1):
        sql = (f"CASE WHEN pos >= {m - 1} AND ctx{m} > 0 "
               f"AND n1pctx{m} > 0 THEN "
               f"(GREATEST(c{m} - {KN_D}, 0.0) + ({KN_D} * n1pctx{m}) "
               f"* ({sql})) / CAST(ctx{m} AS DOUBLE) "
               f"ELSE ({sql}) END")
    return sql


def kn_token_nano_sql_n(n: int) -> str:
    return f"CAST(round(1e9 * (-log10({kn_score_sql_n(n)}))) AS BIGINT)"


def kneser_ney_n_report(docs: DataFrame, n: int = 3,
                        id_col: str = "doc_id", text_col: str = "text",
                        train_mod: int = 5,
                        score_all: bool = False) -> DataFrame:
    """Order-n interpolated KN (n=2 is the bigram base of the ladder,
    n=5 CCNet's production KenLM): same train/held split and output
    shape (doc_id, n_tokens, nll_nano, avg_nll_micro) as
    :func:`backoff_lm_report`.  ``score_all`` scores EVERY document
    against the split-trained model — the CCNet filter shape
    (:func:`kn_ppl_bucket_assign` uses it).

    Scale shape — the join pyramid: every rung is a bounded count table
    (k-gram counts k=1..n plus the N1+ continuation aggregates, each
    one map-side-combinable groupBy over the training corpus), and
    scoring is a single equi-join stream of the held-out position frame
    against those tables on gram-string keys.  Each extra LM order adds
    three joins (c_m, ctx_m from the order below's count table, and
    N1+ of the (m-1)-context) — no new shuffle pattern at any n.
    Pruned production tables broadcast; full web-scale tables shuffle
    on the gram key with AQE handling the Zipfian skew.
    """
    assert n >= 2
    train, held = _split(docs, id_col, text_col, train_mod, score_all)

    grams = {k: _ngram_counts(train, k) for k in range(1, n + 1)}
    # continuation tables: distinct-bigram types by left / right word
    split = grams[2].select(
        F.split("gram", " ").getItem(0).alias("wl"),
        F.split("gram", " ").getItem(1).alias("wr"))
    n1p_prev = split.groupBy("wl").agg(F.count("*").alias("n1p_prev"))
    n1p_w = split.groupBy("wr").agg(F.count("*").alias("n1p_w"))
    scalars = (grams[2].agg(F.count("*").cast("long").alias("t_big"))
               .crossJoin(grams[1].agg(F.count("*").cast("long")
                                       .alias("v_uni"))))

    # level 2 rung
    j = (_positions(held, n - 1)
         .join(F.broadcast(scalars))
         .join(grams[2].select(F.col("gram").alias("_g2"),
                               F.col("c").alias("_c2")),
               F.concat_ws(" ", "p1", "w") == F.col("_g2"), "left")
         .join(grams[1].select(F.col("gram").alias("_g1p"),
                               F.col("c").alias("_c1prev")),
               F.col("p1") == F.col("_g1p"), "left")
         .join(n1p_prev, F.col("p1") == F.col("wl"), "left")
         .join(n1p_w, F.col("w") == F.col("wr"), "left"))
    exprs = [F.coalesce("_c2", F.lit(0)).alias("c2"),
             F.coalesce("_c1prev", F.lit(0)).alias("c1prev"),
             F.coalesce("n1p_prev", F.lit(0)).alias("n1p_prev"),
             F.coalesce("n1p_w", F.lit(0)).alias("n1p_w")]
    # levels 3..n: c{m} on the m-tuple, ctx{m} from the (m-1)-gram
    # table, N1+(context .) from the m-gram table's (m-1)-word prefix
    # agg; the context is p_{m-1} .. p1, oldest first
    for m in range(3, n + 1):
        ctx = [f"p{k}" for k in range(m - 1, 0, -1)]
        n1pctx = (grams[m].select(F.expr(
            f"substring_index(gram, ' ', {m - 1})").alias(f"_x{m}"))
            .groupBy(f"_x{m}").agg(F.count("*").alias(f"_n1pctx{m}")))
        j = (j.join(grams[m].select(F.col("gram").alias(f"_g{m}"),
                                    F.col("c").alias(f"_c{m}")),
                    F.concat_ws(" ", *ctx, "w") == F.col(f"_g{m}"), "left")
             .join(grams[m - 1].select(F.col("gram").alias(f"_gx{m}"),
                                       F.col("c").alias(f"_ctx{m}")),
                   F.concat_ws(" ", *ctx) == F.col(f"_gx{m}"), "left")
             .join(n1pctx,
                   F.concat_ws(" ", *ctx) == F.col(f"_x{m}"), "left"))
        exprs += [F.coalesce(f"_c{m}", F.lit(0)).alias(f"c{m}"),
                  F.coalesce(f"_ctx{m}", F.lit(0)).alias(f"ctx{m}"),
                  F.coalesce(f"_n1pctx{m}", F.lit(0)).alias(f"n1pctx{m}")]
    j = j.select("doc_id", "pos", "t_big", "v_uni", *exprs)

    # each rung is projected ONCE and referenced by name by the rung
    # above (kn_rung_sqls): the plan holds n-1 rung expressions
    for rung_name, rung_sql in kn_rung_sqls(n):
        j = j.withColumn(rung_name, F.expr(rung_sql))
    return _per_doc_nll(j, kn_token_nano_from_rung(n))


def kneser_ney_n_oracle_sql(docs_sql: str, n: int = 3,
                            train_mod: int = 5,
                            score_all: bool = False) -> str:
    """DuckDB replay of the order-n pyramid: rung-CTE chain with the
    IDENTICAL per-rung ladder SQL text (kn_rung_sqls); the CTE graph is
    generated by the same loop as the Spark joins.  ``score_all``
    mirrors the report's CCNet filter shape."""
    assert n >= 2

    def _gram_cte(k: int) -> str:
        if k == 1:
            return ("g1 AS (SELECT w AS gram, COUNT(*) AS c FROM "
                    "(SELECT UNNEST(ws) AS w FROM train) GROUP BY w)")
        joined = " || ' ' || ".join(f"ws[i+{d}]" for d in range(k))
        return (f"g{k} AS (SELECT g AS gram, COUNT(*) AS c FROM ("
                f"SELECT UNNEST(CASE WHEN len(ws) >= {k} "
                f"THEN list_transform(range(1, len(ws) - {k - 2}), "
                f"i -> {joined}) ELSE [] END) AS g FROM train) "
                f"GROUP BY g)")

    ctes = [_split_oracle_ctes(docs_sql, train_mod, score_all)]
    ctes += [_gram_cte(k) for k in range(1, n + 1)]
    ctes.append("sp AS (SELECT string_split(gram, ' ')[1] AS wl, "
                "string_split(gram, ' ')[2] AS wr FROM g2)")
    ctes.append("n1p_prev AS (SELECT wl, COUNT(*) AS n1p_prev "
                "FROM sp GROUP BY wl)")
    ctes.append("n1p_w AS (SELECT wr, COUNT(*) AS n1p_w "
                "FROM sp GROUP BY wr)")
    for m in range(3, n + 1):
        ctes.append(
            f"n1pctx{m} AS (SELECT array_to_string("
            f"string_split(gram, ' ')[1:{m - 1}], ' ') AS ctx, "
            f"COUNT(*) AS n1pctx{m} FROM g{m} GROUP BY 1)")
    ctes.append("sc AS (SELECT (SELECT COUNT(*) FROM g2) AS t_big, "
                "(SELECT COUNT(*) FROM g1) AS v_uni)")

    pcols = "".join(
        f",\n                 UNNEST(list_transform(range(1, len(ws) + 1),"
        f"\n                   i -> CASE WHEN i >= {k + 1} THEN ws[i-{k}]"
        f" END)) AS p{k}"
        for k in range(1, n))
    ctes.append(f"""pos_rows AS (
          SELECT doc_id,
                 UNNEST(list_transform(range(1, len(ws) + 1),
                                       i -> i - 1)) AS pos,
                 UNNEST(ws) AS w{pcols}
          FROM held)""")

    sel = ["r.doc_id", "r.pos", "sc.t_big", "sc.v_uni",
           "COALESCE(b2.c, 0) AS c2", "COALESCE(u1.c, 0) AS c1prev",
           "COALESCE(np.n1p_prev, 0) AS n1p_prev",
           "COALESCE(nw.n1p_w, 0) AS n1p_w"]
    joins = ["CROSS JOIN sc",
             "LEFT JOIN g2 b2 ON concat_ws(' ', r.p1, r.w) = b2.gram",
             "LEFT JOIN g1 u1 ON r.p1 = u1.gram",
             "LEFT JOIN n1p_prev np ON r.p1 = np.wl",
             "LEFT JOIN n1p_w nw ON r.w = nw.wr"]
    for m in range(3, n + 1):
        ctx = ", ".join(f"r.p{k}" for k in range(m - 1, 0, -1))
        sel += [f"COALESCE(t{m}.c, 0) AS c{m}",
                f"COALESCE(x{m}.c, 0) AS ctx{m}",
                f"COALESCE(nx{m}.n1pctx{m}, 0) AS n1pctx{m}"]
        joins += [
            f"LEFT JOIN g{m} t{m} ON concat_ws(' ', {ctx}, r.w)"
            f" = t{m}.gram",
            f"LEFT JOIN g{m - 1} x{m} ON concat_ws(' ', {ctx})"
            f" = x{m}.gram",
            f"LEFT JOIN n1pctx{m} nx{m} ON concat_ws(' ', {ctx})"
            f" = nx{m}.ctx"]
    ctes.append("joined AS (\n          SELECT "
                + ",\n                 ".join(sel)
                + "\n          FROM pos_rows r\n          "
                + "\n          ".join(joins) + ")")
    # rung chain: one CTE per ladder level, each referencing the rung
    # below by column name — the same single-projection shape as the
    # Spark plan (kn_rung_sqls), same SQL text per rung
    prev = "joined"
    for rung_name, rung_sql in kn_rung_sqls(n):
        ctes.append(f"lad_{rung_name} AS (SELECT *, {rung_sql} "
                    f"AS {rung_name} FROM {prev})")
        prev = f"lad_{rung_name}"
    ctes.append(f"scored AS (SELECT doc_id, {kn_token_nano_from_rung(n)}"
                f" AS tok_nano FROM {prev})")
    ctes.append(_PER_DOC_NLL_SQL)
    return "\n        WITH " + ",\n        ".join(ctes)


def kneser_ney_oracle_sql(docs_sql: str, train_mod: int = 5) -> str:
    """Hand-written bigram KN replay with the IDENTICAL KN ladder SQL
    text — the independent spec the generated order-n ladder
    (:func:`kneser_ney_n_report` at n=2) is checked against (q243)."""
    return f"""
        WITH {_split_oracle_ctes(docs_sql, train_mod, False)},
        uni AS (
          SELECT w AS gram, COUNT(*) AS c
          FROM (SELECT UNNEST(ws) AS w FROM train) GROUP BY w),
        bi AS (
          SELECT g AS gram, COUNT(*) AS c FROM (
            SELECT UNNEST(CASE WHEN len(ws) >= 2
              THEN list_transform(range(1, len(ws)),
                                  i -> ws[i] || ' ' || ws[i+1])
              ELSE [] END) AS g FROM train) GROUP BY g),
        sp AS (
          SELECT string_split(gram, ' ')[1] AS wl,
                 string_split(gram, ' ')[2] AS wr FROM bi),
        n1p_prev AS (SELECT wl, COUNT(*) AS n1p_prev FROM sp GROUP BY wl),
        n1p_w AS (SELECT wr, COUNT(*) AS n1p_w FROM sp GROUP BY wr),
        sc AS (SELECT (SELECT COUNT(*) FROM bi) AS t_big,
                      (SELECT COUNT(*) FROM uni) AS v_uni),
        pos_rows AS (
          SELECT doc_id,
                 UNNEST(list_transform(range(1, len(ws) + 1),
                                       i -> i - 1)) AS pos,
                 UNNEST(ws) AS w,
                 UNNEST(list_transform(range(1, len(ws) + 1),
                   i -> CASE WHEN i >= 2 THEN ws[i-1] END)) AS p1
          FROM held),
        joined AS (
          SELECT r.doc_id, r.pos, sc.t_big, sc.v_uni,
                 COALESCE(b2.c, 0) AS c2,
                 COALESCE(u1.c, 0) AS c1prev,
                 COALESCE(np.n1p_prev, 0) AS n1p_prev,
                 COALESCE(nw.n1p_w, 0) AS n1p_w
          FROM pos_rows r
          CROSS JOIN sc
          LEFT JOIN bi b2 ON concat_ws(' ', r.p1, r.w) = b2.gram
          LEFT JOIN uni u1 ON r.p1 = u1.gram
          LEFT JOIN n1p_prev np ON r.p1 = np.wl
          LEFT JOIN n1p_w nw ON r.w = nw.wr),
        scored AS (
          SELECT doc_id, {KN_TOKEN_NANO_SQL} AS tok_nano FROM joined),
        {_PER_DOC_NLL_SQL}"""


def kn_ppl_bucket_assign(docs: DataFrame, n: int = 5,
                         id_col: str = "doc_id", text_col: str = "text",
                         lang_col: str | None = None,
                         train_mod: int = 5,
                         buckets: int = 3) -> DataFrame:
    """Per-document CCNet bucket from the ORDER-N Kneser-Ney model —
    the production configuration: CCNet's published pipeline buckets on
    perplexity under a 5-gram Kneser-Ney KenLM, not the stupid-backoff
    trigram (:func:`ppl_bucket_assign` keeps that as the cheap twin).

    Same shape: train on the hash split (``_split_bucket``, any id
    type), score EVERY document (``score_all``), ntile per language on
    (avg_nll_micro, doc_id).  -> (doc_id, lang, avg_nll_micro, bucket);
    bucket 1 = head.  Token-less docs drop (no perplexity).

    Scale shape: the order-n join pyramid (bounded count tables, +3
    equi-joins per order) plus one per-language window rank — no new
    shuffle pattern beyond :func:`kneser_ney_n_report`.
    """
    rep = kneser_ney_n_report(docs, n, id_col, text_col, train_mod,
                              score_all=True)
    return _lang_ntile(rep, docs, id_col, lang_col, buckets)


def kn_ppl_bucket_assign_oracle_sql(docs_sql: str, n: int = 5,
                                    lang_col: str | None = None,
                                    train_mod: int = 5,
                                    buckets: int = 3) -> str:
    """DuckDB replay of :func:`kn_ppl_bucket_assign` — the score-all
    order-n KN report as a CTE, identical NTILE ordering."""
    rep = kneser_ney_n_oracle_sql(docs_sql, n, train_mod,
                                  score_all=True)
    return _lang_ntile_oracle_sql(rep, docs_sql, lang_col, buckets)
