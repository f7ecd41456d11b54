"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline on sf0.001;
``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data operators (dedup, similarity, text
analysis); ``oracle_sql()`` gives the DuckDB-equivalent SQL for every
SQL-expressible query (same aliases, same rounding, decimal-exact sums).

Non-SQL-expressible entries (the KG pipeline itself, MinHash/SimHash whose
hash functions are engine-specific) intentionally omit oracles — the
driver records rows-only checks for them.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from knowledgebase_processor_spark.operators.pagerank import (  # noqa: E402
    pagerank_oracle_sql as _pagerank_oracle_sql,
    ppr_oracle_sql as _ppr_oracle_sql)
from knowledgebase_processor_spark.operators.hits import (  # noqa: E402
    hits_oracle_sql as _hits_oracle_sql)
from knowledgebase_processor_spark.operators.drift import (  # noqa: E402
    psi_oracle_sql as _psi_oracle_sql)
from knowledgebase_processor_spark.operators.hyperanf import (  # noqa: E402
    anf_oracle_sql as _anf_oracle_sql)
from knowledgebase_processor_spark.operators.gnnprop import (  # noqa: E402
    gnnprop_oracle_sql as _gnnprop_oracle_sql)
from knowledgebase_processor_spark.operators.tailindex import (  # noqa: E402
    hill_oracle_sql as _hill_oracle_sql)
from knowledgebase_processor_spark.operators.compaction import (  # noqa: E402
    compaction_oracle_sql as _compaction_oracle_sql)
from knowledgebase_processor_spark.operators.postings import (  # noqa: E402
    postings_oracle_sql as _postings_oracle_sql)
from knowledgebase_processor_spark.operators.novelty import (  # noqa: E402
    novelty_oracle_sql as _novelty_oracle_sql)
from knowledgebase_processor_spark.operators.corrstats import (  # noqa: E402
    RHO_PPM_SQL as _RHO_PPM_SQL,
    theil_oracle_sql as _theil_oracle_sql)
from knowledgebase_processor_spark.operators.textstats import (  # noqa: E402
    FLESCH_SQL as _FLESCH_SQL)
from knowledgebase_processor_spark.operators.nglm import (  # noqa: E402
    backoff_lm_oracle_sql as _nglm_oracle,
    kneser_ney_oracle_sql as _kn_oracle,
    kneser_ney_n_oracle_sql as _kn_n_oracle,
    ppl_bucket_assign_oracle_sql as _ppl_assign_oracle,
    ppl_buckets_oracle_sql as _ppl_buckets_oracle,
    kn_ppl_bucket_assign_oracle_sql as _kn_ppl_assign_oracle)
from knowledgebase_processor_spark.operators.inference import (  # noqa: E402
    welch_oracle_sql as _welch_oracle_sql,
    chi2_oracle_sql as _chi2_oracle_sql,
    bootstrap_oracle_sql as _bootstrap_oracle_sql,
    auc_oracle_sql as _auc_oracle_sql)
from knowledgebase_processor_spark.operators.rulemine import (  # noqa: E402
    rules_oracle_sql as _rules_oracle_sql,
    apply_rules_oracle_sql as _apply_rules_oracle_sql)
from knowledgebase_processor_spark.operators.robust import (  # noqa: E402
    robust_oracle_sql as _robust_oracle_sql)
from knowledgebase_processor_spark.operators.cocite import (  # noqa: E402
    cocite_oracle_sql as _cocite_oracle_sql)
from knowledgebase_processor_spark.operators.zonemap import (  # noqa: E402
    zonemap_oracle_sql as _zonemap_oracle_sql)
from knowledgebase_processor_spark.operators.conformal import (  # noqa: E402
    conformal_oracle_sql as _conformal_oracle_sql)
from knowledgebase_processor_spark.operators.dp import (  # noqa: E402
    dp_oracle_sql as _dp_oracle_sql)
from knowledgebase_processor_spark.operators.allocation import (  # noqa: E402
    neyman_oracle_sql as _neyman_oracle_sql)
from knowledgebase_processor_spark.operators.graphmetrics import (  # noqa: E402
    homophily_oracle_sql as _homophily_oracle_sql)
from knowledgebase_processor_spark.operators.heavy import (  # noqa: E402
    heavy_change_oracle_sql as _heavy_change_oracle_sql)
from knowledgebase_processor_spark.operators.psl import (  # noqa: E402
    site_rollup_oracle_sql as _site_rollup_oracle_sql)
from knowledgebase_processor_spark.operators.keyness import (  # noqa: E402
    keyness_oracle_sql as _keyness_oracle_sql)
from knowledgebase_processor_spark.operators.fs import (  # noqa: E402
    fs_em_sql as _fs_em_sql)
from knowledgebase_processor_spark.operators.itemsets import (  # noqa: E402
    triples_oracle_sql as _triples_oracle_sql)
from knowledgebase_processor_spark.operators.ewma import (  # noqa: E402
    ewma_oracle_sql as _ewma_oracle_sql)
from knowledgebase_processor_spark.operators.wl import (  # noqa: E402
    wl_oracle_sql as _wl_oracle_sql)
from knowledgebase_processor_spark.operators.conductance import (  # noqa: E402
    conductance_oracle_sql as _conductance_oracle_sql)
from knowledgebase_processor_spark.operators.ucb import (  # noqa: E402
    ucb_oracle_sql as _ucb_oracle_sql)
from knowledgebase_processor_spark.operators.textstats import (  # noqa: E402
    script_mix_oracle_sql as _script_mix_oracle_sql)
from knowledgebase_processor_spark.operators.zipf import (  # noqa: E402
    good_turing_oracle_sql as _good_turing_oracle_sql,
    zipf_oracle_sql as _zipf_oracle_sql)
from knowledgebase_processor_spark.operators.trend import (  # noqa: E402
    mk_oracle_sql as _mk_oracle_sql,
    jain_oracle_sql as _jain_oracle_sql)
from knowledgebase_processor_spark.operators.agreement import (  # noqa: E402
    brier_oracle_sql as _brier_oracle_sql)
from knowledgebase_processor_spark.operators.capture import (  # noqa: E402
    capture_oracle_sql as _capture_oracle_sql)
from knowledgebase_processor_spark.operators.owl import (  # noqa: E402
    owl_oracle_sql as _owl_oracle_sql)
from knowledgebase_processor_spark.operators.quotes import (  # noqa: E402
    quotes_oracle_sql as _quotes_oracle_sql)
from knowledgebase_processor_spark.operators.urlrules import (  # noqa: E402
    robots_wildcards_oracle_sql as _robots_wild_oracle_sql)
from knowledgebase_processor_spark.operators.slo import (  # noqa: E402
    burn_oracle_sql as _burn_oracle_sql)
from knowledgebase_processor_spark.operators.urlrules import (  # noqa: E402
    url_templates_oracle_sql as _url_templates_oracle_sql)
from knowledgebase_processor_spark.operators.kanon import (  # noqa: E402
    kanon_ladder_oracle_sql as _kanon_ladder_oracle_sql)
from knowledgebase_processor_spark.operators.sharding import (  # noqa: E402
    migration_oracle_sql as _migration_oracle_sql,
    salting_oracle_sql as _salting_oracle_sql)
from knowledgebase_processor_spark.operators.textstats import (  # noqa: E402
    char_entropy_oracle_sql as _char_entropy_oracle_sql)
from knowledgebase_processor_spark.operators.zonemap import (  # noqa: E402
    bloom_zonemap_oracle_sql as _bloom_zone_oracle_sql)
from knowledgebase_processor_spark.operators.covariance import (  # noqa: E402
    covariance_oracle_sql as _covariance_oracle_sql)
from knowledgebase_processor_spark.operators.textstats import (  # noqa: E402
    fertility_oracle_sql as _fertility_oracle_sql)
from knowledgebase_processor_spark.operators.hilbert import (  # noqa: E402
    hilbert_sql as _hilbert_sql)
from knowledgebase_processor_spark.operators.recrawl import (  # noqa: E402
    recrawl_oracle_sql as _recrawl_oracle_sql)
from knowledgebase_processor_spark.operators.webclean import (  # noqa: E402
    template_oracle_sql as _template_oracle_sql)
from knowledgebase_processor_spark.operators.select import (  # noqa: E402
    greedy_coverage_oracle_sql as _greedy_oracle_sql)
from knowledgebase_processor_spark.operators.drift import (  # noqa: E402
    entropy_oracle_sql as _entropy_oracle_sql)
from knowledgebase_processor_spark.operators.shards import (  # noqa: E402
    shard_oracle_sql as _shard_oracle_sql)
from knowledgebase_processor_spark.operators.agreement import (  # noqa: E402
    kappa_oracle_sql as _kappa_oracle_sql,
    calibration_oracle_sql as _calibration_oracle_sql)
from knowledgebase_processor_spark.operators.graphmetrics import (  # noqa: E402
    modularity_oracle_sql as _modularity_oracle_sql,
    assortativity_oracle_sql as _assortativity_oracle_sql)
from knowledgebase_processor_spark.operators.audit import (  # noqa: E402
    fd_oracle_sql as _fd_oracle_sql)
from knowledgebase_processor_spark.operators.quota import (  # noqa: E402
    quota_oracle_sql as _quota_oracle_sql)
from knowledgebase_processor_spark.operators.vocab import (  # noqa: E402
    oov_oracle_sql as _oov_oracle_sql)
from knowledgebase_processor_spark.operators.triangles import (  # noqa: E402
    clustering_oracle_sql as _clustering_oracle_sql)
from knowledgebase_processor_spark.operators.agreement import (  # noqa: E402
    classification_oracle_sql as _classification_oracle_sql)
from knowledgebase_processor_spark.operators.arrival import (  # noqa: E402
    interarrival_oracle_sql as _interarrival_oracle_sql)
from knowledgebase_processor_spark.operators.kanon import (  # noqa: E402
    kanon_oracle_sql as _kanon_oracle_sql)
from knowledgebase_processor_spark.operators.communities import (  # noqa: E402
    label_propagation_oracle_sql as _lpa_oracle_sql)
from knowledgebase_processor_spark.operators.heavy import (  # noqa: E402
    cms_pos_sql as _cms_pos_sql)
from knowledgebase_processor_spark.operators.kcore import (  # noqa: E402
    kcore_oracle_sql as _kcore_oracle_sql)
from knowledgebase_processor_spark.operators.urlrules import (  # noqa: E402
    url_rules_oracle_sql as _url_rules_oracle_sql)
from knowledgebase_processor_spark.operators.zorder import (  # noqa: E402
    z_value_sql as _z_value_sql)
from knowledgebase_processor_spark.operators.split import (  # noqa: E402
    split_thresholds_sql as _split_thresholds_sql)

_split_case_sql = _split_thresholds_sql(
    {"train": 0.8, "val": 0.1, "test": 0.1})
# q115: same thresholds, keyed on the near-dup CLUSTER id, salt "css"
_css_case_sql = _split_thresholds_sql(
    {"train": 0.8, "val": 0.1, "test": 0.1}, salt="css",
    key_sql="CAST(cluster AS VARCHAR)")

from knowledgebase_processor_spark.operators.sketches import (  # noqa: E402
    hll_rho_sql as _hll_rho_sql, _hll_alpha)

# q72 shares the register-rank SQL verbatim with the Spark plan, and the
# alpha*m^2*2^(nbits+1) literal is the exact double Spark's F.lit holds
# (alpha * 256 * 256 * 2^53 — every factor a power of two, so repr()
# round-trips the identical IEEE value into DuckDB).
_HLL_RHO_SQL = _hll_rho_sql("hx", 2)
_HLL_RAW_NUM = repr(_hll_alpha(256) * 256 * 256 * float(1 << 53))

# Executor workers must import this package + vendored markdown-it.  When
# the harness imports this module BEFORE creating its SparkSession (the
# normal flow), exporting PYTHONPATH here covers local-mode workers; on a
# real cluster ship the same dirs via spark-submit --py-files.
_parts = [_REPO, os.path.join(_REPO, "vendor")]
_existing = os.environ.get("PYTHONPATH", "")
_missing = [p for p in _parts if p not in _existing.split(os.pathsep)]
if _missing:
    os.environ["PYTHONPATH"] = os.pathsep.join(
        _missing + ([_existing] if _existing else []))

SF001 = "/root/testdata/sf0.001"


_SPLITS_CACHE: dict[str, int] = {}


def _parquet_splits(path: str) -> int:
    """Row-group count from the parquet footers (driver-local, ~ms).

    This is the scan's real max parallelism: Spark splits parquet by byte
    range but a row group is read whole by one task.  (Do NOT probe via
    df.rdd.getNumPartitions() — materializing the .rdd costs seconds.)
    """
    if path not in _SPLITS_CACHE:
        import pyarrow.parquet as pq
        files = ([path] if os.path.isfile(path) else
                 [os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet")])
        _SPLITS_CACHE[path] = sum(
            pq.ParquetFile(f).metadata.num_row_groups for f in files)
    return _SPLITS_CACHE[path]


def _t(spark: SparkSession, sf_dir: str, name: str,
       spread: bool = False) -> DataFrame:
    """Read a testdata table; `spread=True` for queries whose map-side work
    (extraction UDFs, shingle explodes) dominates.

    The test parquet ships as ONE row group, so the scan is one task and
    map-side work single-threads no matter the cluster size.  Spreading
    repartitions to the cluster's slot count when the scan has fewer
    splits; at production scale the table has thousands of row groups and
    the gate makes it a no-op.  Explicit numPartitions so AQE does not
    coalesce the tiny exchange back down to one partition.  Kept opt-in:
    for cheap scans the extra exchange costs more than it buys.
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    slots = spark.sparkContext.defaultParallelism
    if spread and _parquet_splits(path) < slots:
        df = df.repartition(slots)
    return df


# ---------------------------------------------------------------------------
# flagship: documents -> KG triples, counted per entity kind
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: full extraction -> triple emission ->
    dedup -> triples per entity class."""
    from knowledgebase_processor_spark.pipeline import documents_to_triples

    docs = _t(spark, SF001, "documents").select(
        F.concat(F.lit("corpus/doc-"), F.col("doc_id").cast("string")).alias("doc_id"),
        "text")
    triples = documents_to_triples(docs, resolve_links=True)
    return (triples.groupBy("pred")
            .agg(F.count("*").alias("n_triples"),
                 F.countDistinct("subj").alias("n_subjects"))
            .orderBy("pred"))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q01_pricing_summary(spark, sf):
    # A-family aggregations (SURVEY §2.4): TPC-H-Q1-shaped partial+final agg.
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
                 F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def _q02_top_customers(spark, sf):
    # O2 top-k (orderBy+limit) over a join (J5-shape).  Aggregate BEFORE
    # joining: the fact side collapses from |orders| rows to |custkey|
    # groups (map-side combinable) before the customer dimension is
    # joined, so at 100x scale the join input is the small aggregate,
    # not the raw fact table.  Decimal sums are order-independent, so
    # the rewrite is value-identical to join-then-aggregate.
    o, c = _t(spark, sf, "orders"), _t(spark, sf, "customer")
    agg = (o.groupBy("o_custkey")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double").alias("revenue"),
                F.count("*").alias("n_orders")))
    return (agg.join(c, agg.o_custkey == c.c_custkey)
            .select("c_custkey", "c_name", "revenue", "n_orders")
            .orderBy(F.desc("revenue"), F.asc("c_custkey"))
            .limit(10))


def _q03_orders_by_nation(spark, sf):
    # J5 multi-join reassembly: customer -> nation -> orders.
    o, c, n = _t(spark, sf, "orders"), _t(spark, sf, "customer"), _t(spark, sf, "nation")
    return (o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.count("*").alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_revenue"))
            .orderBy("n_name"))


def _q04_region_nations(spark, sf):
    # J4-shape broadcast dimension join + group count.
    n, r = _t(spark, sf, "nation"), _t(spark, sf, "region")
    return (n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name").agg(F.count("*").alias("n_nations"))
            .orderBy("r_name"))


def _q05_search(spark, sf):
    # Q1 search: substring filter + deterministic top-20 (O2), with the
    # reference's fabricated decreasing result score (score = 0.9 - 0.1*i
    # by rank, services/orchestrator.py:353-363).
    from pyspark.sql import Window
    d = _t(spark, sf, "documents")
    hits = (d.filter(F.col("text").contains("query"))
            .select("doc_id", "n_chars")
            .orderBy("doc_id").limit(20))
    rn = F.row_number().over(Window.orderBy("doc_id"))
    return hits.select(
        "doc_id", "n_chars",
        F.round(F.lit(0.9) - (rn - F.lit(1)) * F.lit(0.1), 6).alias("score"))


def _q06_find_by_tag(spark, sf):
    # Q2/J4 find-by-tag: word-token containment, counted per source.
    d = _t(spark, sf, "documents")
    words = d.select("doc_id", "source",
                     F.explode(F.split(F.col("text"), " ")).alias("w"))
    return (words.filter(F.col("w") == "spark")
            .groupBy("source")
            .agg(F.countDistinct("doc_id").alias("n_docs"))
            .orderBy("source"))


def _q07_find_by_topic(spark, sf):
    # Q3/E11 topic filter: lower/underscore normalization.
    from knowledgebase_processor_spark.functions.text import topic
    d = _t(spark, sf, "documents")
    return (d.select(topic(F.col("source")).alias("topic"))
            .groupBy("topic").agg(F.count("*").alias("n_docs"))
            .orderBy("topic"))


def _q08_related_by_shared_key(spark, sf):
    # J6 shared-key self-join: event-type pairs co-occurring per user.
    e = _t(spark, sf, "events").select("user_id", "event_type").distinct()
    a, b = e.alias("a"), e.alias("b")
    return (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                   & (F.col("a.event_type") < F.col("b.event_type")))
            .groupBy(F.col("a.event_type").alias("type_a"),
                     F.col("b.event_type").alias("type_b"))
            .agg(F.countDistinct(F.col("a.user_id")).alias("n_users"))
            .orderBy("type_a", "type_b"))


def _q09_completion_stats(spark, sf):
    # A1/A2-shape completion stats: total / completed / rate.
    e = _t(spark, sf, "events")
    return (e.groupBy("event_type")
            .agg(F.count("*").alias("total"),
                 F.sum(F.when(F.col("value") > 0, 1).otherwise(0)).alias("completed"))
            .withColumn("completion_rate",
                        F.round(F.col("completed") / F.col("total"), 4))
            .orderBy("event_type"))


def _q10_content_stats(spark, sf):
    # A5 content statistics per language.
    from knowledgebase_processor_spark.functions.text import word_count
    d = _t(spark, sf, "documents")
    return (d.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.length("text")).alias("sum_chars"),
                 F.round(F.avg(word_count(F.col("text"))), 4).alias("avg_words"))
            .orderBy("lang"))


def _q11_token_counts(spark, sf):
    # §2.7 scalar text functions: word + token counting per doc.
    from knowledgebase_processor_spark.functions.text import token_count, word_count
    d = _t(spark, sf, "documents")
    return (d.select("doc_id",
                     word_count(F.col("text")).alias("words"),
                     token_count(F.col("text")).alias("tokens"))
            .orderBy("doc_id").limit(50))


def _q12_lang_id(spark, sf):
    # training-data op: stopword-vote language ID, counted by prediction.
    from knowledgebase_processor_spark.functions.text import lang_id
    d = _t(spark, sf, "documents")
    return (d.select(lang_id(F.col("text")).alias("pred_lang"))
            .groupBy("pred_lang").agg(F.count("*").alias("n_docs"))
            .orderBy("pred_lang"))


def _q13_quality_buckets(spark, sf):
    # training-data op: quality-score histogram (0.1 buckets).
    from knowledgebase_processor_spark.functions.text import quality_score
    d = _t(spark, sf, "documents")
    return (d.select((F.floor(quality_score(F.col("text")) * 10) / 10).alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias("n_docs"))
            .orderBy("bucket"))


def _q14_fingerprints(spark, sf):
    # dedup/exact: distinct content fingerprints per source.
    from knowledgebase_processor_spark.functions.text import fingerprint
    d = _t(spark, sf, "documents")
    return (d.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct(fingerprint(F.col("text"))).alias("n_distinct"))
            .orderBy("source"))


def _q15_exact_dup_groups(spark, sf):
    # dedup/exact: duplicate groups (hash-groupBy on fingerprint).
    from knowledgebase_processor_spark.operators.dedup import exact_duplicates
    d = _t(spark, sf, "documents")
    return (exact_duplicates(d).select("fp", "n_dups").orderBy("fp"))


def _q16_hashtags(spark, sf):
    # E3 tag extraction over text (regexp_extract_all, masked variant in
    # operators.metadata for markdown).
    from knowledgebase_processor_spark.functions.text import hashtags
    d = _t(spark, sf, "documents")
    return (d.select(F.explode(hashtags(F.col("text"))).alias("tag"))
            .groupBy("tag").agg(F.count("*").alias("n"))
            .orderBy("tag"))


def _q17_ann_topk(spark, sf):
    # similarity search: brute-force cosine top-k vs vec_id=0's embedding.
    from knowledgebase_processor_spark.operators.similarity import cosine_topk
    v = _t(spark, sf, "embeddings")
    qvec = v.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return cosine_topk(v.filter(F.col("vec_id") != 0), [float(x) for x in qvec], k=10) \
        .select("vec_id", F.round(F.col("cosine"), 4).alias("cosine"))


def _q18_embedding_near_dups(spark, sf):
    # dedup/embedding-cosine near-dup pairs above 0.55 (synthetic vectors
    # cluster by label; 0.55 keeps the result non-trivial but bounded).
    from knowledgebase_processor_spark.operators.dedup import embedding_near_dups
    v = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 500)
    return (embedding_near_dups(v, threshold=0.55)
            .select("vec_a", "vec_b", F.round(F.col("cosine"), 4).alias("cosine"))
            .orderBy("vec_a", "vec_b"))


def _q19_event_windows(spark, sf):
    # S3/streaming-shape: tumbling 1h windows (batch equivalent of the
    # structured-streaming job in streaming/jobs.py).
    e = _t(spark, sf, "events")
    return (e.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"))
            .orderBy("window_start", "event_type"))


def _q20_minhash_lsh(spark, sf):
    # dedup/minhash+LSH candidate pairs (rows-only: engine-specific hashes).
    from knowledgebase_processor_spark.operators.dedup import minhash_lsh_pairs
    d = _t(spark, sf, "documents", spread=True)
    return (minhash_lsh_pairs(d, num_hashes=16, bands=4)
            .orderBy("doc_a", "doc_b"))


def _q21_simhash_near_dups(spark, sf):
    # dedup/simhash near-dup pairs via pigeonhole-banded buckets, on the
    # PORTABLE 60-bit simhash so DuckDB recomputes hashes, bands, and the
    # final hamming-verified pair set value-for-value.  (The in-pipeline
    # scale path is the engine-native `simhash_near_dups` — same banding
    # code, xxhash64 word hashes, zero row explosion.)
    from knowledgebase_processor_spark.operators.dedup import (
        simhash_band_pairs, simhash_portable)
    d = _t(spark, sf, "documents", spread=True)
    return (simhash_band_pairs(simhash_portable(d), max_hamming=3, nbits=60)
            .orderBy("doc_a", "doc_b"))


def _q22_triples_by_kind(spark, sf):
    # flagship KG pipeline (rows-only: extraction not SQL-expressible).
    from knowledgebase_processor_spark.pipeline import documents_to_triples
    docs = _t(spark, sf, "documents", spread=True).select(
        F.concat(F.lit("corpus/doc-"), F.col("doc_id").cast("string")).alias("doc_id"),
        "text")
    return (documents_to_triples(docs, resolve_links=True)
            .groupBy("pred").agg(F.count("*").alias("n_triples"))
            .orderBy("pred"))


def _q23_related_documents(spark, sf):
    # E12/J6 relationship enrichment: shared-key document pairs (the key
    # here is the exact char count — deterministic small groups).
    from knowledgebase_processor_spark.operators.stats import related_documents
    d = _t(spark, sf, "documents").select(
        "doc_id", F.col("n_chars").cast("string").alias("tag"))
    return (related_documents(d)
            .groupBy("tag").agg(F.count("*").alias("n_pairs"))
            .orderBy("tag"))


def _q24_todo_stats(spark, sf):
    # A1 todo statistics over the extracted entity frame (rows-only:
    # extraction not SQL-expressible).
    from knowledgebase_processor_spark.operators.extract_udf import extract_entities_df
    from knowledgebase_processor_spark.operators.stats import todo_statistics
    docs = _t(spark, sf, "documents", spread=True).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    return todo_statistics(extract_entities_df(docs))


def _q25_content_stats(spark, sf):
    # A5 full content statistics incl. paragraphs/empty lines.
    from knowledgebase_processor_spark.operators.stats import content_statistics
    d = _t(spark, sf, "documents").select("doc_id", "text")
    return (content_statistics(d)
            .select("doc_id", "char_count", "line_count", "word_count",
                    "paragraph_count", "empty_line_count")
            .orderBy("doc_id").limit(50))


_OIE_NP = r"(?:table|customer|query|part|spark|window|column|row|data|stream)"
_OIE_REL = r"(?:join|merge|scan|filter|group|sort|order)"
_OIE_PATTERN = rf"\b({_OIE_NP}) ({_OIE_REL}) ({_OIE_NP})\b"


def _q26_openie_relations(spark, sf):
    # North-star OpenIE-style SVO extraction (operators/openie.py) —
    # pure JVM regexp path; lexicon matched to the synthetic vocabulary.
    from knowledgebase_processor_spark.operators.openie import openie_triples
    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    return (openie_triples(d, np=_OIE_NP, rel=_OIE_REL)
            .groupBy("subj", "rel", "obj")
            .agg(F.count("*").alias("n_matches"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .orderBy("subj", "rel", "obj"))


def _q27_pii_scrub(spark, sf):
    # PII redaction (functions/text.redact_pii): deterministic PII is
    # injected into a slice of rows (the corpus itself is synthetic word
    # soup), then redacted; output proves every injected token is caught.
    from knowledgebase_processor_spark.functions.text import pii_counts, redact_pii
    d = _t(spark, sf, "documents")
    salted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                            F.lit("@example.com")))
             .when(F.col("doc_id") % 11 == 0, F.lit(" host 10.0.0.1"))
             .otherwise(F.lit(""))).alias("text"))
    counts = pii_counts(F.col("text"))
    red = salted.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_ips"].alias("n_ips"),
        F.length(redact_pii(F.col("text"))).alias("redacted_len"))
    return (red.groupBy()
            .agg(F.sum("n_emails").alias("total_emails"),
                 F.sum("n_ips").alias("total_ips"),
                 F.sum("redacted_len").alias("total_redacted_len")))


def _q28_canonical_urls(spark, sf):
    # URL canonicalization (functions/text.canonical_url): synthesize the
    # messy crawl-url variants from doc_id, canonicalize, count collisions.
    from knowledgebase_processor_spark.functions.text import canonical_url
    d = _t(spark, sf, "documents")
    variants = d.select(
        F.col("doc_id"),
        F.explode(F.array(
            F.concat(F.lit("https://Example.COM/docs//d"),
                     F.col("doc_id").cast("string"), F.lit("/?utm_source=feed")),
            F.concat(F.lit("https://example.com/docs/d"),
                     F.col("doc_id").cast("string")),
            F.concat(F.lit("https://example.com/docs/d"),
                     F.col("doc_id").cast("string"), F.lit("#section")),
        )).alias("url"))
    return (variants.select(canonical_url(F.col("url")).alias("curl"))
            .groupBy("curl").agg(F.count("*").alias("n_variants"))
            .groupBy("n_variants").agg(F.count("*").alias("n_urls"))
            .orderBy("n_variants"))


def _q29_minhash_portable(spark, sf):
    # Portable MinHash (dedup family, fully oracle-checked): same salted
    # md5 formula is recomputed by DuckDB, so the signature VALUES — not
    # just row counts — are verified cross-engine.  q20 stays the faster
    # engine-native xxhash64 variant.
    from knowledgebase_processor_spark.operators.dedup import (
        minhash_signatures_portable)
    d = _t(spark, sf, "documents", spread=True)
    s = minhash_signatures_portable(d)
    cols = [F.element_at(F.col("sig"), i).alias(f"h{i}") for i in range(1, 9)]
    return s.select("doc_id", *cols).orderBy("doc_id")


def _q30_ngram_jaccard(spark, sf):
    # Exact n-gram Jaccard verification (dedup family), value-checked:
    # candidates come from the BUCKETED portable-LSH filter (the real
    # filter-verify architecture — a same-length self-join would form
    # quadratic groups at scale), scored with the shared shingle formula
    # DuckDB recomputes exactly, bands included.
    from knowledgebase_processor_spark.operators.dedup import (
        minhash_lsh_pairs_portable, ngram_jaccard_pairs)
    d = _t(spark, sf, "documents", spread=True)
    cand = minhash_lsh_pairs_portable(d).select("doc_a", "doc_b")
    return (ngram_jaccard_pairs(d, cand, threshold=0.0)
            .orderBy("doc_a", "doc_b"))


def _q31_simhash_portable(spark, sf):
    # Portable SimHash (dedup family, fully oracle-checked): same md5 word
    # hashes + bit sign-sums recomputed by DuckDB, so the 60-bit hash
    # VALUES verify cross-engine.  q21 stays the engine-native scale path.
    from knowledgebase_processor_spark.operators.dedup import simhash_portable
    d = _t(spark, sf, "documents", spread=True)
    return simhash_portable(d).orderBy("doc_id")


def _q32_ann_ivf(spark, sf):
    # ANN scale path: IVF with a REAL k-means-trained coarse quantizer
    # (exact fixed-point Lloyd's, bit-reproducible under any
    # partitioning), nprobe probing, exact rescoring inside cells.  The
    # k-means seed and the query vector share ONE bounded collect; the
    # trained centroids are deterministic, so the DuckDB oracle replays
    # cell assignment / probe ranking / rescoring from the pinned
    # centroid literals (_Q32_CENTROID_VALUES).
    from knowledgebase_processor_spark.operators.similarity import (
        ivf_topk, ivf_train)
    v = _t(spark, sf, "embeddings", spread=True)
    cents, q = ivf_train(v, k_cells=8, iters=2)
    return ivf_topk(v, q, cents, k=10, nprobe=2)


def _q35_winnowed_fingerprints(spark, sf):
    # Winnowing local fingerprints (substring-level overlap detection,
    # MOSS algorithm) — portable md5 formula, so DuckDB recomputes every
    # fingerprint and the per-doc xor/count aggregate value-checks the
    # whole mechanism.
    from knowledgebase_processor_spark.operators.dedup import (
        winnowed_fingerprints)
    d = _t(spark, sf, "documents", spread=True)
    return (winnowed_fingerprints(d)
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_fps"),
                 F.expr("bit_xor(fp)").alias("fp_xor"))
            .orderBy("doc_id"))


def _q36_winnow_overlap(spark, sf):
    # Substring-containment pairs from winnowed fingerprints: the
    # partial-overlap detector (quotes / syndicated fragments / page A
    # embedding page B) whole-document MinHash dilutes to noise.  Portable
    # md5 formula end-to-end, so DuckDB recomputes fingerprints, the
    # fp-equality self-join, shared counts and containment bit-identically.
    from knowledgebase_processor_spark.operators.dedup import (
        winnow_overlap_pairs)
    d = _t(spark, sf, "documents", spread=True)
    return (winnow_overlap_pairs(d, min_shared=2)
            .filter(F.col("containment") >= 0.5)
            .orderBy("doc_a", "doc_b"))


def _q37_media_features(spark, sf):
    # Multimodal decode as a first-class query: synthesize REAL PNG/WAV
    # payloads deterministically from the first 8 documents
    # (media_from_documents), then run the REAL pixel/PCM feature
    # extraction — every output row must say embedding_kind pixels/pcm,
    # i.e. the stub path is never taken for these containers.  Output is
    # a deterministic function of the fixed corpus, so the oracle is the
    # pinned expected VALUES at sf0.01 (ORACLE_SF001_PINNED).
    from knowledgebase_processor_spark.operators.multimodal import (
        audio_features, image_features, media_from_documents)
    d = (_t(spark, sf, "documents").select("doc_id", "text")
         .orderBy("doc_id").limit(8))
    m = media_from_documents(d)
    # The embedding array is projected to a micro-quantized integer CSV
    # string: the driver's canonicalizer sorts a pandas frame across all
    # columns, so every output column must be a hashable scalar (round-2
    # q37 lesson — ArrayType columns crash pandas sort_values).
    emb_csv = F.concat_ws(
        ",", F.expr(
            "transform(embedding,"
            " e -> CAST(CAST(round(e * 1e6) AS BIGINT) AS STRING))")
    ).alias("embedding_micro_csv")
    imgs = image_features(m).select(
        "media_id", F.lit("image").alias("kind"), "format",
        F.col("width").alias("dim1"), F.col("height").alias("dim2"),
        emb_csv, "embedding_kind")
    auds = audio_features(m).select(
        "media_id", F.lit("audio").alias("kind"), "format",
        F.col("sample_rate").alias("dim1"),
        F.col("channels").alias("dim2"), emb_csv, "embedding_kind")
    return imgs.unionByName(auds).orderBy("media_id")


def _q38_dedup_incremental(spark, sf):
    # Incremental dedup against a stored corpus LSH index (the web-scale
    # shape: probe each crawl batch against the persisted index instead
    # of recomputing 100 TB).  The batch is the first 20 documents
    # re-crawled under a "re:" id — every one must match its original at
    # estimated Jaccard 1.0 (all signature slots equal), which the
    # oracle derives directly: the value check covers banding recall and
    # the deterministic argmax without needing the engine's xxhash64 in
    # SQL.
    from knowledgebase_processor_spark.operators.dedup import (
        dedup_incremental, lsh_index)
    d = _t(spark, sf, "documents", spread=True).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    idx = lsh_index(d)
    batch = (_t(spark, sf, "documents").orderBy("doc_id").limit(20)
             .select(F.concat(F.lit("re:"), F.col("doc_id").cast("string"))
                     .alias("doc_id"), "text"))
    # project the PORTABLY-derivable columns: every re-crawl must be
    # found (banding recall) at est 1.0.  dup_of stays out of the oracle
    # shape because the corpus contains genuine est-1.0 twins (sf0.1:
    # docs 11/4686, 17/3383) and the deterministic argmax between them
    # depends on engine-native signatures; its tie-break is unit-tested.
    return (dedup_incremental(batch, idx)
            .select("doc_id", "est_jaccard").orderBy("doc_id"))


def _q39_repetition_stats(spark, sf):
    # Gopher-style per-doc repetition signals (operators/quality.py):
    # sorted-array folds, zero shuffles — the whole signal set is one
    # narrow projection.  DuckDB recomputes every fraction via
    # unnest+groupBy (same semantics, different plan shape).
    from knowledgebase_processor_spark.operators.quality import repetition_stats
    d = _t(spark, sf, "documents").select("doc_id", "text")
    return repetition_stats(d).orderBy("doc_id").limit(50)


def _q40_gopher_quality(spark, sf):
    # Full Gopher rule evaluation aggregated corpus-wide: per-rule
    # failure totals + the final keep count, value-checked by a DuckDB
    # replication of all 14 published rules.
    from knowledgebase_processor_spark.operators.quality import (
        _RULES, gopher_quality_flags)
    d = _t(spark, sf, "documents").select("doc_id", "text")
    flags = gopher_quality_flags(d)
    return flags.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        *[F.sum((~F.col(name)).cast("long")).alias("fail_" + name[3:])
          for name, _ in _RULES])


def _urls_from_docs(spark, sf):
    # deterministic crawl-url synthesis: 17 domains, id-derived paths
    # (documents table has no url column; the web_pages source does).
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(F.lit("https://Site"), (F.col("doc_id") % 17).cast("string"),
                 F.lit(".com/page/"), F.col("doc_id").cast("string")).alias("url"))


def _q41_domain_cap(spark, sf):
    # Per-domain EXACT cap (operators/sampling.py): the kept set itself is
    # the output, so the oracle verifies the md5-ordered selection, not
    # just counts.
    from knowledgebase_processor_spark.operators.sampling import cap_per_domain
    return (cap_per_domain(_urls_from_docs(spark, sf), cap=5)
            .select("doc_id", "domain").orderBy("domain", "doc_id"))


def _q42_domain_downsample(spark, sf):
    # Skew-immune per-domain rate sampler (no window — plan-asserted in
    # tests): kept count per domain, hash-threshold recomputed by DuckDB.
    from knowledgebase_processor_spark.operators.sampling import (
        downsample_per_domain)
    return (downsample_per_domain(_urls_from_docs(spark, sf), cap=5)
            .groupBy("domain").agg(F.count("*").alias("n_kept"))
            .orderBy("domain"))


def _q43_c4_clean(spark, sf):
    # C4 line-level cleaning (operators/quality.py): sentences are salted
    # onto a deterministic slice of the word-soup corpus so the line
    # rules have real work; per-doc kept-line counts, page decision and
    # cleaned length are value-checked.
    from knowledgebase_processor_spark.operators.quality import c4_line_filter
    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0,
                   F.lit("\nThis sentence survives the line filter intact.\n"
                         "So does this second full sentence, naturally.\n"
                         "A third keeps the page above the line minimum."))
             .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("\ncode = {x}"))
             .otherwise(F.lit(""))).alias("text"))
    return (c4_line_filter(d)
            .select("doc_id", "n_lines_kept", "page_keep",
                    F.length("clean_text").alias("clean_chars"))
            .orderBy("doc_id").limit(50))


def _q44_line_dedup(spark, sf):
    # Corpus-wide exact line dedup (operators/dedup.line_dedup, portable
    # hash): a boilerplate line is salted onto every third doc and must
    # survive only in its first occurrence; per-doc kept counts and
    # reassembled lengths are value-checked cross-engine.
    from knowledgebase_processor_spark.operators.dedup import line_dedup
    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("\nSubscribe to our newsletter today."))
             .otherwise(F.lit(""))).alias("text"))
    return (line_dedup(d, portable=True)
            .select("doc_id", "n_lines_kept",
                    F.length("text").alias("n_chars"))
            .orderBy("doc_id").limit(50))


def _q45_salted_docs(spark, sf):
    # Salt the word-soup corpus so every stage has real work: proper
    # sentences on half the docs (C4/Gopher survivors), a shared
    # boilerplate line (cross-corpus line dedup), an email (PII scrub),
    # and a page-killing brace on a 1-in-5 slice.
    sents = ("\nThis sentence survives the line filter intact today.\n"
             "So does this second full sentence, quite naturally.\n"
             "A third full sentence keeps the page over the minimum.\n"
             "The fourth one talks at length about the weather patterns.\n"
             "A fifth sentence describes the long road into the valley.\n"
             "The sixth and last sentence wraps the salted page up nicely.\n"
             "Subscribe to our newsletter today and stay informed.")
    return _t(spark, sf, "documents", spread=True).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(sents)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 6 == 0,
                   F.concat(F.lit("\nContact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com for the details.")))
             .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 10 == 0, F.lit("\ncode = {x}"))
             .otherwise(F.lit(""))).alias("text"))


def _q45_prepare_corpus(spark, sf):
    # The composed training-data preparation pipeline (operators/
    # prepare.py): dedup -> C4 line clean -> Gopher filter -> corpus
    # line dedup -> PII scrub, reported as per-stage document counts
    # plus the total surviving characters (pins the scrub/reassembly
    # output, not just row counts).  Deterministic on the fixed corpus;
    # oracle is the precomputed VALUES at sf0.01 (ORACLE_SF001_PINNED).
    from knowledgebase_processor_spark.operators.prepare import prepare_corpus
    out, stats = prepare_corpus(_q45_salted_docs(spark, sf),
                                portable_line_hash=True)
    chars = out.agg(F.lit("scrubbed_chars").alias("stage"),
                    F.coalesce(F.sum(F.length("text")), F.lit(0))
                    .cast("long").alias("n_docs"))
    return stats.unionByName(chars).orderBy("stage")


def _q46_books() -> list:
    # PQ codebooks trained once (operators/pq.pq_train, deterministic
    # hash-ordered sample of the sf0.01 embeddings) and pinned — a model
    # artifact, like q32's centroids, shared verbatim by the Spark query
    # and the generated DuckDB oracle so the ENCODE+ADC mechanism is
    # value-checked cross-engine at any sf.
    import json
    with open(os.path.join(_REPO, "q46_codebooks.json")) as f:
        return json.load(f)


def _q46_pq_adc(spark, sf):
    # Product-quantization ANN (operators/pq.py): JVM-side encode
    # (per-subspace argmin over codebook distances, pure codegen) + ADC
    # top-10 against vec_id 0's embedding via literal lookup tables.
    from knowledgebase_processor_spark.operators.pq import pq_encode, pq_topk
    books = _q46_books()
    v = _t(spark, sf, "embeddings", spread=True)
    q = [float(x) for x in
         v.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    enc = pq_encode(v.select("vec_id", "embedding"), books)
    return pq_topk(enc, books, q, topk=10)


def _q46_oracle_sql(books: list) -> str:
    """DuckDB replication of pq_encode + pq_topk from the pinned
    codebooks: same left-assoc d*d sums, same first-min argmin, same
    lookup-table ADC — value parity to the last ulp."""
    sub = len(books[0][0])

    def chain(j: int, cent: list, arr: str) -> str:
        # CAST('<repr>' AS DOUBLE): a bare decimal literal parses as
        # DECIMAL and double-rounds on the way to DOUBLE (see q102) —
        # a 1-ulp distance skew here could even flip the argmin code
        return " + ".join(
            f"(({arr}[{j * sub + i + 1}]) - CAST('{cent[i]!r}' AS DOUBLE))"
            f" * (({arr}[{j * sub + i + 1}]) - CAST('{cent[i]!r}' AS DOUBLE))"
            for i in range(sub))

    darrs = ",\n                   ".join(
        f"[{', '.join(chain(j, c, 'e') for c in book)}] AS d{j}"
        for j, book in enumerate(books))
    codes = ", ".join(
        f"(list_position(d{j}, list_min(d{j})) - 1) AS c{j}"
        for j in range(len(books)))
    adc = " + ".join(
        f"list_extract([{', '.join(chain(j, c, 'qe') for c in book)}],"
        f" c{j} + 1)"
        for j, book in enumerate(books))
    return f"""
            WITH q AS (
              SELECT list_transform(embedding, x -> x::DOUBLE) AS qe
              FROM embeddings WHERE vec_id = 0),
            v AS (
              SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
              FROM embeddings),
            dists AS (
              SELECT vec_id,
                   {darrs}
              FROM v),
            enc AS (SELECT vec_id, {codes} FROM dists),
            sc AS (SELECT enc.vec_id, ({adc}) AS adc FROM enc CROSS JOIN q)
            SELECT vec_id, round(adc, 6) AS adc_dist FROM sc
            ORDER BY round(adc, 6), vec_id LIMIT 10"""


def _q47_property_path(spark, sf):
    # SPARQL property-path (p+) transitive closure via doubling joins
    # (operators/graph_query.transitive_closure).  Edge set: the
    # deterministic parent chain doc -> doc/2 (depth ~log2(n), so the
    # doubling converges in ~4 rounds); DuckDB replicates with a
    # recursive CTE and the full ancestor-pair set value-checks.
    from knowledgebase_processor_spark.operators.graph_query import (
        transitive_closure)
    d = _t(spark, sf, "documents")
    edges = (d.filter(F.col("doc_id") >= 1)
             .select(F.col("doc_id").alias("src"),
                     F.floor(F.col("doc_id") / 2).cast("long").alias("dst")))
    clo = transitive_closure(edges)
    return (clo.groupBy("src").agg(F.count("*").alias("n_ancestors"),
                                   F.min("dst").alias("root"))
            .orderBy("src"))


def _q48_pack_sequences(spark, sf):
    # Sequence packing for pretraining batches (operators/packing.py):
    # greedy next-fit within portable-hash buckets, run as grouped
    # applyInPandas.  The EXACT per-document (bucket, seq_id, offset)
    # assignment is replayed by a DuckDB recursive CTE — a sequential
    # stateful operator value-checked cross-engine.
    from knowledgebase_processor_spark.functions.text import token_count
    from knowledgebase_processor_spark.operators.packing import pack_sequences
    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        token_count(F.col("text")).alias("n_tokens"))
    return (pack_sequences(d, seq_len=512, buckets=8, portable=True)
            .orderBy("doc_id"))


def _q49_pagerank(spark, sf):
    # PageRank over the KG link structure (operators/pagerank.py): power
    # iteration as join + partial-aggregatable groupBy per round, static
    # contribution base checkpointed once.  Edge set: the deterministic
    # parent chain doc -> doc/2 (in-degree <= 2, so every per-node sum
    # folds at most two doubles — bit-exact across engines); DuckDB
    # replays the identical 5 iterations as chained CTEs.
    from knowledgebase_processor_spark.operators.pagerank import pagerank
    d = _t(spark, sf, "documents")
    edges = (d.filter(F.col("doc_id") >= 1)
             .select(F.col("doc_id").alias("src"),
                     F.floor(F.col("doc_id") / 2).cast("long").alias("dst")))
    return pagerank(edges, iterations=5).orderBy("node")


def _q50_sessionize(spark, sf):
    # Gap-based sessionization of the event log (operators/sessions.py):
    # one shuffle on user_id serves lag-window, running break count, and
    # the per-session aggregation.  Exact integer-microsecond outputs —
    # DuckDB replays the identical window SQL.
    from knowledgebase_processor_spark.operators.sessions import sessionize
    e = _t(spark, sf, "events")
    return (sessionize(e, gap_minutes=30)
            .orderBy("user_id", "session_id"))


def _q51_tfidf_keywords(spark, sf):
    # Corpus TF-IDF keywords (operators/keywords.py): explode -> two
    # partial-agg groupBys -> vocab join -> per-doc top-k window.  Raw
    # inverse frequency (no ln) keeps doubles exact-rounded, so DuckDB
    # reproduces scores bit-identically.
    from knowledgebase_processor_spark.operators.keywords import (
        tfidf_top_terms)
    d = _t(spark, sf, "documents")
    return (tfidf_top_terms(d, k=3)
            .orderBy("doc_id", "rank"))


def _q52_term_cooccurrence(spark, sf):
    # Collocation mining (operators/cooccur.py): df-bounded vocabulary,
    # per-doc rarest-first cap (pair fan-out <= C(64,2) per doc), one
    # co-partitioned self-join, lift = multiply/divide only so DuckDB
    # reproduces the scores bit-identically.
    from knowledgebase_processor_spark.operators.cooccur import (
        term_cooccurrence)
    d = _t(spark, sf, "documents")
    # max_df_frac=0.9: the synthetic corpus's vocabulary is 31 terms, 30
    # of them in ~80% of documents — a web-realistic 0.5 stopword cap
    # would empty the result (production default stays 0.5).
    return (term_cooccurrence(d, min_df=2, max_df_frac=0.9,
                              max_terms_per_doc=64, min_pair_count=3)
            .orderBy(F.desc("lift"), "term_a", "term_b").limit(200))


def _q53_asof_attribution(spark, sf):
    # As-of join (operators/asof.py): every purchase matched to the
    # user's latest view at-or-before it.  ONE shuffle on user_id
    # (union + forward-fill window), never the quadratic key-range join.
    # The DuckDB oracle uses its NATIVE ASOF JOIN — an independent
    # algorithm agreeing on every matched row, not a replay of ours.
    from knowledgebase_processor_spark.operators.asof import asof_join
    e = _t(spark, sf, "events")
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts", "event_id", "value"))
    # determinism contract: one right row per (user, ts) — keep max id
    views = (e.filter(F.col("event_type") == "view")
             .groupBy("user_id", "ts")
             .agg(F.max("event_id").alias("view_id")))
    out = asof_join(purchases, views, on="user_id", ts="ts")
    return (out.select("user_id", "event_id", "ts", "value",
                       "view_id", F.col("ts_right").alias("view_ts"))
            .orderBy("event_id"))


def _q54_interval_join(spark, sf):
    # Grid-bucketized range join (operators/rangejoin.py): click-sessions
    # become intervals, view events the points; the interval explodes to
    # 1-hour grid cells, the join is a plain equi-join on (user, cell)
    # with an exact BETWEEN post-filter — never a key-only shuffle that
    # goes |L|x|R| on hot users.  DuckDB verifies with the naive
    # BETWEEN join (fine at oracle scale, the thing we avoid at 100 TB).
    from knowledgebase_processor_spark.operators.rangejoin import (
        interval_join)
    from knowledgebase_processor_spark.operators.sessions import sessionize
    e = _t(spark, sf, "events")
    # 1-day gap: this corpus's median per-user inter-event gap is ~7h,
    # so 30-min click sessions would be zero-length singletons; day-gap
    # sessions span days and exercise the multi-cell grid fan-out.
    sessions = sessionize(e.filter(F.col("event_type") == "click"),
                          gap_minutes=1440)
    views = (e.filter(F.col("event_type") == "view")
             .select("user_id", "ts", "event_id"))
    matched, _rejected = interval_join(
        views, sessions, on="user_id", ts="ts",
        start="session_start", end="session_end")
    return (matched.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_views"),
                 F.min("event_id").alias("first_view_id"))
            .orderBy("user_id", "session_id"))


def _q55_hypertable_rollup(spark, sf):
    # Continuous-aggregate hierarchy (operators/rollup.py): hour rows
    # fold minute partials, day rows fold hour partials — one raw scan
    # total.  The oracle aggregates every level DIRECTLY from raw in
    # DuckDB, verifying the defining invariant (rollup-of-partials ==
    # direct) cross-engine.
    from knowledgebase_processor_spark.operators.rollup import (
        hypertable_rollup)
    e = _t(spark, sf, "events")
    return (hypertable_rollup(e)
            .orderBy("level", "bucket_start", "event_type"))


def _q56_hash_split(spark, sf):
    # Deterministic train/val/test assignment (operators/split.py):
    # salted-md5 integer-threshold buckets, zero shuffles for the
    # assignment itself; DuckDB recomputes every doc's split from the
    # same md5 prefix and the per-(split, lang) rollup must agree.
    from knowledgebase_processor_spark.operators.split import hash_split
    d = _t(spark, sf, "documents")
    return (hash_split(d, key="doc_id",
                       weights={"train": 0.8, "val": 0.1, "test": 0.1})
            .groupBy("split", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"))
            .orderBy("split", "lang"))


def _q57_length_quantiles(spark, sf):
    # Exact discrete quantiles of document length per language:
    # percentile_disc picks an actual element (no interpolation
    # arithmetic), so the values are integers both engines agree on
    # bit-for-bit.  Distributed shape: one partial-aggregatable groupBy;
    # the per-group sort happens inside the aggregate buffer.
    d = _t(spark, sf, "documents")
    return (d.groupBy("lang").agg(
        F.expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)"
               " AS BIGINT)").alias("p25"),
        F.expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)"
               " AS BIGINT)").alias("p50"),
        F.expr("CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)"
               " AS BIGINT)").alias("p95"),
        F.count("*").alias("n_docs"))
        .orderBy("lang"))


def _q58_triangle_counts(spark, sf):
    # Degree-oriented triangle counting (operators/triangles.py): hub
    # wedge fan-out bounded at O(sqrt(m)) by orientation.  Edge set: the
    # deterministic doc graph {(i,i/2), (i,i/3), (i/2,i/3)} — every i>=2
    # closes a triangle by construction.  The DuckDB oracle counts with
    # the INDEPENDENT naive u<v<w 3-way join and must agree exactly.
    from knowledgebase_processor_spark.operators.triangles import (
        triangle_count)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") >= 2)
    h2 = F.floor(F.col("doc_id") / 2).cast("long")
    h3 = F.floor(F.col("doc_id") / 3).cast("long")
    edges = (d.select(F.col("doc_id").alias("src"), h2.alias("dst"))
             .union(d.select(F.col("doc_id").alias("src"), h3.alias("dst")))
             .union(d.select(h2.alias("src"), h3.alias("dst"))))
    return triangle_count(edges).orderBy("node")


def _q59_bigram_coverage(spark, sf):
    # LM-lite fluency scoring (operators/lm_score.py): fraction of each
    # doc's bigram occurrences that are corpus-common.  Integer counts +
    # one division — DuckDB reproduces the scores bit-identically.
    from knowledgebase_processor_spark.operators.lm_score import (
        bigram_coverage)
    d = _t(spark, sf, "documents")
    return bigram_coverage(d, min_count=3).orderBy("doc_id")


def _q60_snapshot_delta(spark, sf):
    # Incremental-crawl change set (operators/delta.py): full outer join
    # on doc key, fingerprint-compared.  Synthesized second snapshot:
    # every 97th doc deleted, every 31st rewritten, every 41st gains
    # whitespace only (must read UNCHANGED — fingerprints normalize).
    from knowledgebase_processor_spark.operators.delta import snapshot_delta
    d = _t(spark, sf, "documents")
    old = d.filter(F.col("doc_id") % 97 != 0)
    new = (d.withColumn(
        "text",
        F.when(F.col("doc_id") % 31 == 0,
               F.concat(F.col("text"), F.lit(" rewritten")))
        .when(F.col("doc_id") % 41 == 0,
              F.concat(F.col("text"), F.lit("   ")))
        .otherwise(F.col("text"))))
    return (snapshot_delta(old, new)
            .groupBy("status").agg(F.count("*").alias("n_docs"))
            .orderBy("status"))


def _q61_rollup_report(spark, sf):
    # Native relational surface: ROLLUP over (lang, source) with
    # grouping markers — Catalyst's grouping-sets expansion against
    # DuckDB's, exact integer counts.
    d = _t(spark, sf, "documents")
    return (d.rollup("lang", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.grouping("lang").cast("int").alias("g_lang"),
                 F.grouping("source").cast("int").alias("g_source"))
            .orderBy(F.asc_nulls_first("lang"), F.asc_nulls_first("source")))


def _q62_video_frames(spark, sf):
    # Video decode as a first-class query: synthesize REAL MJPEG-in-AVI
    # payloads deterministically from the first 3 documents
    # (media_from_documents), then sample frames at 1 Hz through the REAL
    # path — RIFF header walk for fps/frame count, our JPEG codec for the
    # sampled frames.  Every row must say frame_kind 'pixels' (the stub
    # is never taken for this container) and the md5 of the re-encoded
    # PNG pins the decoded pixel content exactly.  Deterministic function
    # of the fixed corpus -> pinned VALUES oracle (ORACLE_SF001_PINNED).
    from knowledgebase_processor_spark.operators.multimodal import (
        frame_sample, media_from_documents)
    d = (_t(spark, sf, "documents").select("doc_id", "text")
         .orderBy("doc_id").limit(3))
    return (frame_sample(media_from_documents(d), every_s=1.0)
            .select("media_id", "frame_idx", "frame_ts_s", "frame_kind",
                    F.md5(F.col("frame_png")).alias("frame_md5"))
            .orderBy("media_id", "frame_idx"))


def _q63_decontamination(spark, sf):
    # Benchmark decontamination (training-data family): the first 3
    # documents stand in for a leaked eval set; every doc's distinct
    # 8-gram overlap against it is measured through the portable
    # salted-md5 hash set, so DuckDB recomputes grams, hashes, the
    # broadcast probe and the fractions bit-identically.  The 3 bench
    # docs must self-report frac 1.0; unrelated docs 0.
    from knowledgebase_processor_spark.operators.decontaminate import (
        contamination)
    d = _t(spark, sf, "documents", spread=True).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    bench = (_t(spark, sf, "documents").orderBy("doc_id").limit(3)
             .select("text"))
    return (contamination(d, bench, n=8)
            .filter(F.col("n_hits") > 0)
            .orderBy("doc_id"))


def _q64_dsir_weights(spark, sf):
    # DSIR-style importance weights toward a target distribution (here:
    # the shortest 20 documents as the "target domain").  Fixed-point
    # micro-nat ratios make the per-doc sum exact integer arithmetic, so
    # DuckDB replays histograms, smoothing, logs and the final weights
    # bit-identically — the whole importance-resampling mechanism is
    # value-checked cross-engine.
    from knowledgebase_processor_spark.operators.decontaminate import (
        dsir_weights)
    d = _t(spark, sf, "documents", spread=True).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    tgt = (_t(spark, sf, "documents")
           .orderBy("n_chars", "doc_id").limit(20).select("text"))
    return (dsir_weights(d, tgt, buckets=64)
            .orderBy("doc_id"))


def _q65_warc_roundtrip(spark, sf):
    # Archive ingestion through the REAL path: serialize the first 20
    # documents into per-record-gzip WARC files (one per doc_id % 4
    # group), then parse them back with the production record parser and
    # HTTP splitter.  Every output field is a pure function of the
    # documents row (url/date formulas, status 200, body == text), so
    # DuckDB reconstructs the whole result without touching a byte of
    # WARC — the round trip is what's being value-checked.
    from knowledgebase_processor_spark.sources.warc import (
        pages_from_warc, warc_from_documents, warc_records)
    d = _t(spark, sf, "documents").orderBy("doc_id").limit(20) \
        .select("doc_id", "text")
    pages = pages_from_warc(warc_records(warc_from_documents(d, files=4)))
    return (pages.select(
                "url", "warc_ts", "http_status", "mime",
                F.length("text").alias("n_chars"),
                F.md5("text").alias("text_md5"))
            .orderBy("url"))


def _q66_bpe_merges(spark, sf):
    # BPE vocabulary training over the whole corpus: the corpus-scale
    # pass is the word histogram (one map-side-combinable groupBy); the
    # merge loop runs on the collected ~vocab-row table — the standard
    # HF-tokenizers/SentencePiece architecture.  Deterministic (ties
    # break lexicographically), so the learned merges are pinned VALUES;
    # the oracle values were derived from a DuckDB-computed histogram,
    # which independently checks the distributed pass.
    from knowledgebase_processor_spark.operators.bpe import (
        bpe_train, merges_df)
    merges = bpe_train(_t(spark, sf, "documents", spread=True),
                       num_merges=40)
    return merges_df(spark, merges).orderBy("rank")


def _q67_bpe_encode(spark, sf):
    # Distributed encode with the corpus-trained merges: broadcast
    # ranks, Arrow-batched greedy merge replay with a per-batch word
    # memo.  Token streams are pinned via md5 of the joined tokens
    # (independently recomputed from the DuckDB histogram + the same
    # published algorithm).
    from knowledgebase_processor_spark.operators.bpe import (
        bpe_encode, bpe_train)
    merges = bpe_train(_t(spark, sf, "documents", spread=True),
                       num_merges=40)
    d = _t(spark, sf, "documents").orderBy("doc_id").limit(12) \
        .select("doc_id", "text")
    return (bpe_encode(d, merges)
            .select("doc_id", "n_tokens",
                    F.md5(F.concat_ws(" ", "tokens")).alias("tokens_md5"))
            .orderBy("doc_id"))


def _q68_span_dedup(spark, sf):
    # ExactSubstr dedup (Lee et al. 2021): every >=8-word span occurring
    # twice anywhere in the corpus is removed.  Window hashing and the
    # duplicate set are JVM columns + one groupBy; only the per-doc
    # interval sweep is Python (numpy difference array).  The oracle
    # replays windows, the duplicate set, the interval cover and the
    # cleaned-text md5 entirely in SQL — value-level, no pinning.
    from knowledgebase_processor_spark.operators.span_dedup import (
        remove_duplicate_spans)
    d = _t(spark, sf, "documents", spread=True).select("doc_id", "text")
    return (remove_duplicate_spans(d, n=8)
            .filter(F.col("n_removed") > 0)
            .select("doc_id", "n_words", "n_removed",
                    F.md5("text_clean").alias("clean_md5"))
            .orderBy("doc_id"))


def _q69_kmeans(spark, sf):
    # Exact fixed-point k-means over the embeddings table: micro-unit
    # quantization makes every Lloyd's step integer arithmetic, so the
    # full 3-iteration trajectory (assignments, floor-divided centroid
    # means, tie rules, empty-cluster retention) is replayed
    # bit-identically by the DuckDB oracle's chained CTEs — an iterative
    # ML algorithm value-checked cross-engine, no pinning.
    from knowledgebase_processor_spark.operators.kmeans import (
        kmeans_summary)
    emb = _t(spark, sf, "embeddings", spread=True)
    return kmeans_summary(emb, k=4, iters=3)


def _q70_prepare_corpus_v2(spark, sf):
    # The q45 hygiene chain extended to the RefinedWeb/GPT-3 shape:
    # ExactSubstr span dedup between line dedup and the scrub, then
    # strict benchmark decontamination (drop any doc sharing an 8-gram
    # with the eval set = the 3 lowest-id documents).  Every constituent
    # stage is independently value-checked (q45, q68, q63); the composed
    # lineage counts are deterministic -> pinned VALUES at sf0.01.
    from knowledgebase_processor_spark.operators.prepare import (
        prepare_corpus)
    # Two more salts on top of q45's: (a) a per-doc-unique line whose
    # 12-word tail is shared across all %6 docs — survives the LINE
    # dedup (lines differ), gets cut by ExactSubstr; (b) one unique
    # leaked line on doc 42 only (1 occurrence, so span dedup keeps it)
    # that the benchmark contains — the strict decontamination drop.
    leak = ("The hidden answer key says zebra quagga okapi tapir gnu "
            "eland oryx antelope.")
    d = _q45_salted_docs(spark, sf).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id").cast("long") % 6 == 0,
                   F.concat(F.lit("\nRecord "), F.col("doc_id"),
                            F.lit(" states: the quick brown fox jumps"
                                  " over the lazy dog tonight.")))
             .otherwise(F.lit("")),
            F.when(F.col("doc_id") == "42", F.lit("\n" + leak))
             .otherwise(F.lit(""))).alias("text"))
    bench = spark.createDataFrame([(leak,)], "text string")
    out, stats = prepare_corpus(d, portable_line_hash=True,
                                span_dedup_n=8, benchmark=bench)
    chars = out.agg(F.lit("scrubbed_chars").alias("stage"),
                    F.coalesce(F.sum(F.length("text")), F.lit(0))
                    .cast("long").alias("n_docs"))
    return stats.unionByName(chars).orderBy("stage")


def _q71_semdedup(spark, sf):
    # SemDeDup (Abbas et al. 2023): k-means the embedding space, drop
    # every vector cosine-similar to a lower-id clustermate.  The corpus
    # embeddings have no natural near-dups (max pairwise cosine ~0.51),
    # so the query salts in planted duplicates — 5 exact copies and 5
    # positively-scaled copies (cosine exactly 1, different quantized
    # coordinates, so the norm algebra is exercised non-trivially).  The
    # oracle replays the ENTIRE decision in DuckDB: the q69 3-iteration
    # exact k-means trajectory on the salted input, then the same
    # fixed-order integer-dot / IEEE-double threshold chain — value-level
    # all the way down, no pinning.
    from knowledgebase_processor_spark.operators.semdedup import semdedup
    emb = _t(spark, sf, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    exact = (emb.filter(F.col("vec_id") < 5)
             .select((F.col("vec_id") + 100000).alias("vec_id"),
                     "embedding"))
    scaled = (emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10))
              .select((F.col("vec_id") + 200000).alias("vec_id"),
                      F.transform("embedding",
                                  lambda x: x * F.lit(2.0))
                      .alias("embedding")))
    salted = emb.unionByName(exact).unionByName(scaled)
    return (semdedup(salted, k=4, iters=3, threshold=0.95, dim=64)
            .select("vec_id", "cluster", "keep")
            .orderBy("vec_id"))


def _q34_minhash_lsh_portable(spark, sf):
    # Banded-LSH candidate pairs over the PORTABLE MinHash signatures:
    # DuckDB recomputes signatures (q29's formula), band buckets, and the
    # pair set — the LSH *mechanism* itself is value-checked cross-engine.
    from knowledgebase_processor_spark.operators.dedup import (
        minhash_lsh_pairs_portable)
    d = _t(spark, sf, "documents", spread=True)
    return minhash_lsh_pairs_portable(d).orderBy("doc_a", "doc_b")


def _q33_dedup_corpus(spark, sf):
    # The composed training-data dedup pipeline (rows-only: minhash LSH
    # is engine-internal): exact fingerprint collapse -> LSH candidates
    # over survivors -> exact Jaccard verify -> connected components ->
    # canonical election.  Returns every doc's (canonical_id, reason).
    from knowledgebase_processor_spark.operators.dedup import dedup_corpus
    d = _t(spark, sf, "documents", spread=True).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    return (dedup_corpus(d, num_hashes=16, bands=8, jaccard_threshold=0.6)
            .groupBy("reason").agg(F.count("*").alias("n_docs"))
            .orderBy("reason"))


def _q72_distinct_sketches(spark, sf):
    # Mergeable distinct-count sketches (stats family scale path): HLL
    # register fixed-point sums + estimates and KMV bottom-k estimates of
    # the per-language distinct-word cardinality, next to the exact
    # count.  Portable salted-md5 formula: DuckDB replays every register,
    # the exact BIGINT harmonic sum, the k-th minimum hash, and both
    # float estimates.
    from knowledgebase_processor_spark.operators.sketches import (
        hll_distinct, kmv_distinct)
    d = _t(spark, sf, "documents", spread=True)
    # sketch (doc_id:word) pairs, not bare words — the corpus vocabulary
    # is tiny, and this cardinality (1.5k-5k per lang) exercises the raw
    # harmonic estimate and the full-KMV branch, not just linear counting
    words = d.select(
        "lang", F.col("doc_id").cast("string").alias("did"),
        F.explode(F.filter(F.split(F.lower(F.trim("text")),
                                   r"[ \t\n\r\f]+"),
                           lambda w: w != F.lit(""))).alias("tok")
    ).select("lang", F.concat("did", F.lit(":"), "tok").alias("w"))
    exact = words.groupBy("lang").agg(
        F.countDistinct("w").alias("n_exact"))
    h = hll_distinct(words, ["lang"], "w")
    k = kmv_distinct(words, ["lang"], "w")
    return (exact.join(h, "lang").join(k, "lang")
            .select("lang", "n_exact", "hll_sum_fixed",
                    "hll_zero_registers", "hll_estimate",
                    "kmv_kth", "kmv_estimate")
            .orderBy("lang"))


def _q73_cms_heavy_hitters(spark, sf):
    # Count-min sketch heavy hitters (operators/heavy.py): the 4x1024
    # counter grid is an algebraic aggregate (map-side partial sums,
    # O(depth*width) exchange), estimates are min-over-rows against the
    # broadcast grid.  Threshold = floor(total_tokens / 200) so the query
    # scales with the corpus; CM never underestimates, so every true
    # heavy hitter appears and false positives are visible as
    # exact_count < threshold.  DuckDB replays every grid cell and every
    # min-estimate bit-identically.
    from knowledgebase_processor_spark.operators.heavy import (
        cms_counters, cms_estimate)
    d = _t(spark, sf, "documents")
    words = d.select(F.explode(
        F.filter(F.split(F.lower(F.trim("text")), r"[ \t\n\r\f]+"),
                 lambda w: w != F.lit(""))).alias("tok"))
    # ONE tokenize pass: the corpus collapses to the distinct-token
    # frame first (localCheckpoint so Catalyst's three consumers don't
    # re-explode the corpus per branch), then the grid is the WEIGHTED
    # sketch over distinct tokens (cell sums identical to sketching raw
    # tokens), and the threshold is sum(exact_count)/200 over the same
    # tiny frame — no second or third scan anywhere
    keys = words.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_count")) \
                .localCheckpoint()
    grid = cms_counters(keys, "tok", 4, 1024, weight_col="exact_count")
    est = cms_estimate(grid, keys.select("tok"), "tok", 4, 1024)
    thr = keys.agg(
        (F.sum("exact_count") / 200).cast("bigint").alias("thr"))
    return (est.crossJoin(F.broadcast(thr))
            .filter(F.col("cms_estimate") >= F.col("thr"))
            .join(keys, "tok")
            .select("tok", F.col("exact_count").cast("bigint")
                    .alias("exact_count"), "cms_estimate")
            .orderBy(F.col("exact_count").desc(), "tok"))


def _q74_weighted_sample(spark, sf):
    # Deterministic weighted sampling without replacement
    # (operators/wsample.py): Efraimidis-Spirakis via the integer
    # max-hash identity (max of w uniforms ~ U^(1/w)) — all 60-bit
    # integer arithmetic, so the sample membership is bit-reproducible
    # and DuckDB re-derives the exact same 25 documents.  Weight: a
    # 1..10 length-derived importance integer.
    from knowledgebase_processor_spark.operators.wsample import (
        weighted_sample)
    d = _t(spark, sf, "documents")
    wgt = d.select("doc_id",
                   (F.lit(1) + F.floor(F.length("text") / 500))
                   .cast("int").alias("wgt"))
    return (weighted_sample(wgt, "doc_id", "wgt", k=25, max_weight=10)
            .orderBy(F.col("sample_key").desc(), "doc_id"))


def _q75_lpa_communities(spark, sf):
    # Synchronous label-propagation communities
    # (operators/communities.py): per round one edge join + one
    # partial-agg vote count + one WindowGroupLimit top-1; deterministic
    # via self-vote and (count DESC, label ASC) tie-break.  Graph: each
    # doc links to its decade head (star clusters) and its parent chain
    # doc/2 (inter-cluster bridges) — communities differ from connected
    # components (the bridges connect everything; LPA's mode vote keeps
    # the stars apart).  DuckDB replays the identical 4 rounds as
    # chained CTEs.
    from knowledgebase_processor_spark.operators.communities import (
        label_propagation)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") >= 1)
    stars = d.select(F.col("doc_id").alias("src"),
                     (F.floor(F.col("doc_id") / 10) * 10)
                     .cast("long").alias("dst"))
    chain = d.select(F.col("doc_id").alias("src"),
                     F.floor(F.col("doc_id") / 2).cast("long").alias("dst"))
    return (label_propagation(stars.unionByName(chain), iterations=4)
            .orderBy("node"))


def _q76_bloom_semi_join(spark, sf):
    # Bloom-filter semi-join (operators/bloom.py): distributed bit_or
    # build over the selective order subset, 2048-word literal broadcast,
    # pure-codegen membership prefilter on lineitem, exact semi-join on
    # the survivors only.  Reports the build/prefilter/exact/false-pos
    # counts; DuckDB rebuilds every filter word and every membership
    # verdict bit-identically.
    from knowledgebase_processor_spark.operators.bloom import (
        bloom_build, bloom_member, bloom_words)
    M, K = 65536, 3
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 480000)
    li = _t(spark, sf, "lineitem")
    words = bloom_words(bloom_build(o, "o_orderkey", M, K), M)
    pre = li.filter(bloom_member(F.col("l_orderkey"), words, M, K))
    keys = o.select(F.col("o_orderkey").alias("l_orderkey")).distinct()
    # ONE pass over the prefiltered rows: broadcast-left-join the key
    # set and count total + matched in the same aggregate (instead of a
    # count pass plus a semi-join pass re-reading the fact table)
    marked = pre.join(F.broadcast(keys.withColumn("__m", F.lit(1))),
                      "l_orderkey", "left")
    cnts = marked.agg(F.count(F.lit(1)).alias("n_prefilter"),
                      F.count("__m").alias("n_exact"))
    n_build = keys.agg(F.count(F.lit(1)).alias("n_build_keys"))
    return (n_build.crossJoin(cnts)
            .select("n_build_keys", "n_prefilter", "n_exact",
                    (F.col("n_prefilter") - F.col("n_exact"))
                    .alias("n_false_pos")))


def _q77_setsim_join(spark, sf):
    # Exact-recall set-similarity join with prefix filtering
    # (operators/setjoin.py, PPJoin-style) over word 3-gram shingle
    # sets: rarest-first global order, prefix |x|-ceil(t|x|)+1,
    # count-first capped buckets, exact Jaccard verify on candidates
    # only.  Unlike the MinHash/SimHash paths this guarantees EVERY
    # pair >= t surfaces.  Oracle: naive all-pairs shingle Jaccard in
    # DuckDB (feasible at test scale).
    from knowledgebase_processor_spark.operators.setjoin import (
        prefix_jaccard_join)
    d = _t(spark, sf, "documents", spread=True)
    return (prefix_jaccard_join(d, threshold=0.35)
            .orderBy("id_a", "id_b"))


def _q78_kcore(spark, sf):
    # k-core decomposition (operators/kcore.py): synchronous peeling —
    # per round one partial-agg degree count + two semi-joins, lineage
    # checkpointed.  Graph: the deterministic double-ring doc graph
    # (i -> 2i+1 mod N, i -> 3i+7 mod N), degree ~4, so the 3-core peels
    # a nontrivial low-degree fringe.  DuckDB replays the identical 6
    # peels as chained CTEs.
    from knowledgebase_processor_spark.operators.kcore import kcore
    d = _t(spark, sf, "documents")
    n = d.count()  # one scalar (graph size), not a hot-path collect
    e1 = d.select(F.col("doc_id").alias("src"),
                  ((F.col("doc_id") * 2 + 1) % n).cast("long").alias("dst"))
    e2 = d.select(F.col("doc_id").alias("src"),
                  ((F.col("doc_id") * 3 + 7) % n).cast("long").alias("dst"))
    return (kcore(e1.unionByName(e2), k=3, rounds=6)
            .orderBy("node"))


def _q79_stratified_sample(spark, sf):
    # Stratified ES weighted sampling (operators/wsample.py): an
    # independent 5-doc sample per language via the same integer
    # max-hash keys, top-k through a rank window (WindowGroupLimit —
    # one exchange for all strata).  DuckDB re-derives every stratum's
    # exact membership.
    from knowledgebase_processor_spark.operators.wsample import (
        weighted_sample_per_group)
    d = _t(spark, sf, "documents")
    wgt = d.select("lang", "doc_id",
                   (F.lit(1) + F.floor(F.length("text") / 500))
                   .cast("int").alias("wgt"))
    return (weighted_sample_per_group(wgt, ["lang"], "doc_id", "wgt",
                                      k=5, max_weight=10)
            .orderBy("lang", "rnk"))


def _q80_stupid_backoff(spark, sf):
    # Stupid-backoff bigram scoring (operators/lm_score.py): held-out
    # split — model counts trained on even doc_ids, odd doc_ids scored —
    # so the backoff branch actually fires on model-unseen bigrams.
    # Parts-per-million integer DIV arithmetic end-to-end; DuckDB
    # replays every per-doc sum bit-identically.
    from knowledgebase_processor_spark.operators.lm_score import (
        stupid_backoff)
    d = _t(spark, sf, "documents")
    model = d.filter(F.col("doc_id") % 2 == 0)
    target = d.filter(F.col("doc_id") % 2 == 1)
    return (stupid_backoff(target, model)
            .orderBy("doc_id"))


def _q81_histogram_quantiles(spark, sf):
    # Fixed-width histogram quantiles (operators/histq.py): the one-pass
    # mergeable scale path for per-language length percentiles (q57's
    # exact percentile_disc is the sort-everything twin).  Integer
    # bucket/rank arithmetic; DuckDB replays every cell and every picked
    # bound.
    from knowledgebase_processor_spark.operators.histq import (
        histogram_quantiles)
    d = _t(spark, sf, "documents")
    return (histogram_quantiles(d, ["lang"], "n_chars", lo=0, hi=20000,
                                qs_ppm=[500000, 900000, 990000])
            .orderBy("lang"))


def _q82_hopping_windows(spark, sf):
    # Hopping 1h/30min windows (operators/windows.py): Catalyst expands
    # each event into its window/slide = 2 windows inline (no
    # explode-join), then a map-side-combinable groupBy on the window
    # grid.  DuckDB replays the epoch-aligned grid with integer
    # microsecond arithmetic.
    from knowledgebase_processor_spark.operators.windows import (
        hopping_window_stats)
    e = _t(spark, sf, "events")
    return (hopping_window_stats(e, "1 hour", "30 minutes")
            .orderBy("window_start", "event_type"))


def _q83_sorted_neighborhood(spark, sf):
    # Sorted-neighborhood blocking (operators/rank.py): global contiguous
    # rank WITHOUT a single-partition window (range repartition + local
    # ranks + inlined per-partition offsets — the zipWithIndex contract
    # on DataFrames), then rank-bucket join => exactly N*w candidate
    # pairs however skewed the key.  DuckDB replays with a plain global
    # ROW_NUMBER (fine at oracle scale; the whole point is Spark must
    # not do it that way).
    from knowledgebase_processor_spark.operators.rank import (
        sorted_neighborhood_pairs)
    d = _t(spark, sf, "documents")
    return (sorted_neighborhood_pairs(d, "doc_id",
                                      ["n_chars", "doc_id"], w=3)
            .orderBy("rank_a", "rank_b"))


def _q84_rrf_fusion(spark, sf):
    # Reciprocal-rank fusion (operators/rank.py): merge a length-first
    # ranking and a quality-first ranking score-free; both rankings come
    # from the distributed global_rank.  1/(60+r) reciprocals are
    # exactly-rounded doubles and each doc sums exactly two of them —
    # bit-identical cross-engine.
    from knowledgebase_processor_spark.functions.text import quality_score
    from knowledgebase_processor_spark.operators.rank import (
        global_rank, rrf_fuse)
    d = _t(spark, sf, "documents")
    by_len = global_rank(
        d.select("doc_id", (-F.col("n_chars")).alias("neg")),
        ["neg", "doc_id"]).select("doc_id", "rank")
    by_q = global_rank(
        d.select("doc_id",
                 (-quality_score(F.col("text"))).alias("negq")),
        ["negq", "doc_id"]).select("doc_id", "rank")
    return rrf_fuse([by_len, by_q], "doc_id", k=60).limit(20)


def _q85_json_props(spark, sf):
    # Semi-structured extraction: typed from_json over the event props
    # payload (JVM JacksonParser, codegen-fused with the aggregation) —
    # the canonical crawl-metadata pattern.  DuckDB replays via
    # json_extract.
    e = _t(spark, sf, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (e.select("event_type", k.alias("k"), "user_id")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").cast("bigint").alias("sum_k"),
                 F.min("k").cast("int").alias("min_k"),
                 F.max("k").cast("int").alias("max_k"),
                 F.countDistinct("user_id").alias("n_users"))
            .orderBy("event_type"))


_URL_RULES = [("/src1", False), ("/src1/doc1", True), ("/src7", False),
              ("/src12/doc", False), ("/src12/doc3", True)]


def _q86_url_rules(spark, sf):
    # Robots-style longest-prefix-wins URL filtering
    # (operators/urlrules.py): the rule set is an array-of-struct
    # LITERAL, so the decision is one whole-stage-codegen fold per row —
    # zero joins/shuffles.  The oracle re-derives every decision through
    # the relational form (unnest -> prefix join -> best-rule window),
    # cross-checking the fold against the spec.
    from knowledgebase_processor_spark.operators.urlrules import (
        apply_url_rules)
    d = _t(spark, sf, "documents")
    paths = d.select("source",
                     F.concat(F.lit("/"), F.col("source"), F.lit("/doc"),
                              F.col("doc_id").cast("string")).alias("path"))
    return (apply_url_rules(paths, "path", _URL_RULES)
            .groupBy("source")
            .agg(F.sum(F.when(F.col("allowed"), 1).otherwise(0))
                 .cast("bigint").alias("n_allowed"),
                 F.sum(F.when(F.col("allowed"), 0).otherwise(1))
                 .cast("bigint").alias("n_blocked"))
            .orderBy("source"))


_SRC_VALUES = [f"src{i}" for i in range(20)]


def _q87_incremental_kg(spark, sf):
    # Incremental KG maintenance (operators/incremental.py): fingerprint
    # delta -> re-extract ONLY added/changed docs (semi-join prefilter
    # before the Arrow stage) -> retract = old triples of changed/removed
    # docs (hash join on the triple table's own source_doc key).
    # Deterministic synthetic recrawl: doc_id%10==3 removed, %10==4
    # edited, every %10==5 doc re-added under a new id.  Output: triple
    # counts per (action, pred).  Oracle: pinned VALUES at the driver's
    # sf0.01 (extraction is not SQL-expressible; the constituent delta
    # logic is value-checked unpinned by q60).
    from knowledgebase_processor_spark.operators.incremental import (
        incremental_kg_update)
    from knowledgebase_processor_spark.pipeline import documents_to_triples
    d = _t(spark, sf, "documents", spread=True)
    fmt = lambda df: df.select(
        F.concat(F.lit("corpus/doc-"), F.col("doc_id").cast("string"))
         .alias("doc_id"), "text")
    old = fmt(d)
    new_raw = (d.filter(F.col("doc_id") % 10 != 3)
               .select("doc_id",
                       F.when(F.col("doc_id") % 10 == 4,
                              F.concat(F.col("text"),
                                       F.lit("\n\nRecrawl update.")))
                       .otherwise(F.col("text")).alias("text")))
    added = (d.filter(F.col("doc_id") % 10 == 5)
             .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    new = fmt(new_raw.unionByName(added))
    old_triples = documents_to_triples(old)
    return (incremental_kg_update(old, new, old_triples)
            .groupBy("action", "pred")
            .agg(F.count(F.lit(1)).alias("n_triples"))
            .orderBy("action", "pred"))


def _q88_kmv_overlap(spark, sf):
    # Corpus-overlap estimation from two bottom-k sketches
    # (operators/sketches.py::kmv_overlap): shingle-set Jaccard between
    # the even-doc and odd-doc corpus halves WITHOUT joining them — each
    # side reduces to 128 hash minima.  Shingles (word 3-grams via the
    # q29 zip-free portable formula) give a key space that actually
    # exercises the estimator; integer minima/counts + exact-rounded
    # float estimates; DuckDB replays everything.
    from knowledgebase_processor_spark.operators.setjoin import (
        doc_token_sets)
    from knowledgebase_processor_spark.operators.sketches import kmv_overlap
    d = _t(spark, sf, "documents")
    sh = doc_token_sets(d, "doc_id", "text", ngram=3)
    a = sh.filter(F.col("sid") % 2 == 0).select("tok")
    b = sh.filter(F.col("sid") % 2 == 1).select("tok")
    return kmv_overlap(a, b, "tok", k=128)


def _q89_lang_source_pivot(spark, sf):
    # Native pivot (crosstab) — lang x source doc counts with an explicit
    # value list (deterministic schema; Catalyst compiles to one
    # HashAggregate pair with pivot-CASE projections, no per-value scan).
    # DuckDB replays via CASE sums.
    d = _t(spark, sf, "documents")
    return (d.groupBy("lang")
            .pivot("source", _SRC_VALUES)
            .agg(F.count(F.lit(1)))
            .na.fill(0, _SRC_VALUES)
            .orderBy("lang"))


def _q90_skew_join(spark, sf):
    # Explicit skew-handling join (operators/skew.py, north-rule "salted
    # keys for head-entity skew"): a synthetic head key (70% of docs on
    # key 0) joined to a 100-row dimension through replicated_join — the
    # dimension replicates salt ways and the fact side salts row-level,
    # so the hot key spreads over 16 reducers.  The salt NEVER reaches
    # the result: the oracle is the plain join, proving the rewrite is
    # semantics-preserving.
    from knowledgebase_processor_spark.operators.skew import replicated_join
    d = _t(spark, sf, "documents")
    fact = d.select("doc_id", "lang",
                    F.when(F.col("doc_id") % 10 < 7, F.lit(0))
                    .otherwise(F.col("doc_id") % 100).alias("hot_key"))
    dim = (spark.range(100)
           .select(F.col("id").alias("hot_key"),
                   F.substring(F.md5(F.col("id").cast("string")), 1, 6)
                   .alias("dim_attr")))
    joined = replicated_join(fact, dim, "hot_key", salt=16)
    return (joined.groupBy("dim_attr", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("dim_attr", "lang"))


def _q91_funnel(spark, sf):
    # Strict ordered funnel (operators/funnel.py): signup -> view ->
    # click -> purchase, each step strictly after the previous
    # conversion.  One min-aggregate per step, all joins on the user
    # key.  Integer-exact timestamps; DuckDB replays the chain.
    from knowledgebase_processor_spark.operators.funnel import (
        funnel_summary)
    e = _t(spark, sf, "events")
    return funnel_summary(e, ["signup", "view", "click", "purchase"])


def _q92_retention(spark, sf):
    # Weekly retention cohorts (operators/funnel.py): cohort = first
    # active week, exact integer epoch-week offsets, distinct users per
    # (cohort, offset) cell.
    from knowledgebase_processor_spark.operators.funnel import (
        retention_cohorts)
    e = _t(spark, sf, "events")
    return retention_cohorts(e).orderBy("cohort_week", "offset_weeks")


def _q93_chunk_documents(spark, sf):
    # RAG/passage chunking (operators/chunking.py): 64-word windows,
    # 16-word overlap, map-only (zero shuffles) — chunk starts are a
    # bounded sequence (one entry per chunk, not per word), slices run
    # over the materialized word array.  Full provenance (doc, index,
    # word offset); DuckDB rebuilds every chunk bit-identically.
    from knowledgebase_processor_spark.operators.chunking import (
        chunk_documents)
    d = _t(spark, sf, "documents")
    return (chunk_documents(d, chunk_words=64, overlap=16)
            .orderBy("doc_id", "chunk_idx"))


def _q94_linear_classifier(spark, sf):
    # fastText-style hashed-feature linear classifier inference
    # (operators/classifier.py): feature hashing + integer surrogate
    # weights, margin folded inside ONE projection (no explode, no
    # shuffle before the final sort).  DuckDB replays every margin
    # bit-exactly from the same md5 formulas.
    from knowledgebase_processor_spark.operators.classifier import (
        linear_margin)
    d = _t(spark, sf, "documents")
    return (linear_margin(d, dims=1024)
            .orderBy(F.col("margin").desc(), "doc_id").limit(50))


_BM25_TERMS = ["the", "and", "of", "la", "der", "le"]


def _q95_bm25(spark, sf):
    # Quantized BM25 retrieval (operators/bm25.py): the scale-grade
    # upgrade of the reference's substring search (q05).  idf in
    # micro-nats per term (the q64 fixed-point precedent), integer
    # milli tf-saturation, integer per-doc sums; tf filters to the
    # query terms BEFORE its groupBy; df broadcasts; top-k is
    # TakeOrdered.
    from knowledgebase_processor_spark.operators.bm25 import bm25_scores
    d = _t(spark, sf, "documents")
    return bm25_scores(d, _BM25_TERMS, k=20)


def _q96_phrase_search(spark, sf):
    # Positional phrase search (operators/index.py): exact adjacent
    # 3-word phrase via (doc, position) equi-join chain — position
    # frames filter to the phrase terms before any shuffle.  DuckDB
    # replays with zipped unnest positions.
    from knowledgebase_processor_spark.operators.index import phrase_hits
    d = _t(spark, sf, "documents")
    return (phrase_hits(d, ["slow", "hash", "batch"])
            .orderBy(F.col("n_hits").desc(), "doc_id").limit(50))


def _q97_table_profile(spark, sf):
    # One-pass ANALYZE-style column profile of lineitem: every column's
    # n/nulls/distincts/min/max computed in a single scan (one row of
    # struct aggregates, unpivoted) — the CBO-statistics pattern.
    # countDistinct over several columns in one pass is exact here; the
    # HLL sketch family (q72) is the approximate twin at 10^12 rows.
    li = _t(spark, sf, "lineitem")
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_returnflag", "l_shipdate"]
    aggs = []
    for c in cols:
        aggs += [F.count(F.lit(1)).alias(f"{c}__n"),
                 F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                  .cast("bigint").alias(f"{c}__nulls"),
                 F.countDistinct(c).alias(f"{c}__ndv"),
                 F.min(c).cast("string").alias(f"{c}__min"),
                 F.max(c).cast("string").alias(f"{c}__max")]
    wide = li.agg(*aggs)
    parts = None
    for c in cols:
        row = wide.select(F.lit(c).alias("column"),
                          F.col(f"{c}__n").alias("n"),
                          F.col(f"{c}__nulls").alias("n_nulls"),
                          F.col(f"{c}__ndv").alias("n_distinct"),
                          F.col(f"{c}__min").alias("min_s"),
                          F.col(f"{c}__max").alias("max_s"))
        parts = row if parts is None else parts.unionByName(row)
    return parts.orderBy("column")


def _q98_zorder_layout(spark, sf):
    # Z-order/Morton layout keys (operators/zorder.py): static unrolled
    # bit-interleave (pure codegen), per-file min/max boxes in BOTH
    # dimensions — the OPTIMIZE ZORDER BY statistics.  DuckDB replays
    # the identical interleave expression.
    from knowledgebase_processor_spark.operators.zorder import (
        zorder_layout)
    li = _t(spark, sf, "lineitem")
    return (zorder_layout(li, "l_orderkey", "l_partkey", file_bits=10)
            .orderBy("file_id"))


def _q99_record_merge(spark, sf):
    # Record-preference merge (operators/recordmerge.py): canonical-row
    # assembly after coreference — field survivorship by source
    # priority with per-field lineage and membership audit.  Two
    # deterministic synthetic sources derived from documents (disjoint
    # coverage, NULL holes, conflicting values) exercise every rule.
    from knowledgebase_processor_spark.operators.recordmerge import (
        merge_records)
    d = _t(spark, sf, "documents")
    a = (d.filter(F.col("doc_id") % 3 != 0)
         .select("doc_id", "lang", "n_chars"))
    b = (d.filter(F.col("doc_id") % 4 != 0)
         .select("doc_id",
                 F.when(F.col("doc_id") % 5 == 0, F.lit(None))
                 .otherwise(F.col("lang")).alias("lang"),
                 (F.col("n_chars") + 1000).alias("n_chars")))
    return (merge_records([("crawl", a), ("archive", b)],
                          "doc_id", ["lang", "n_chars"])
            .orderBy("doc_id"))


def _q100_corpus_datacard(spark, sf):
    # Corpus data card: the release-notes summary row — doc/lang/char/
    # token totals, exact-duplicate rate from whitespace-normalized
    # fingerprints, language entropy inputs.  Two partial-agg passes
    # (row stats + distinct fingerprints), no window, no collect;
    # DuckDB replays every number.
    from knowledgebase_processor_spark.functions.text import (
        fingerprint, token_count)
    d = _t(spark, sf, "documents")
    row = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(token_count(F.col("text"))).cast("bigint")
         .alias("total_tokens"))
    fp = (d.select(fingerprint(F.col("text")).alias("fp"))
          .agg(F.countDistinct("fp").alias("n_distinct_fp")))
    return (row.crossJoin(fp)
            .select("n_docs", "n_langs", "total_chars", "total_tokens",
                    "n_distinct_fp",
                    F.round(F.lit(1.0) - F.col("n_distinct_fp")
                            / F.col("n_docs").cast("double"), 6)
                    .alias("dup_rate")))


def _q101_link_prediction(spark, sf):
    # Link prediction over the deterministic doc graph {(i,i/2),(i,i/3)}
    # (operators/linkpred.py): wedge-blocked candidates, hub guard,
    # integer-micro Resource Allocation weights, exact Jaccard.  DuckDB
    # replays adjacency, degrees, the hub filter, the wedge join and
    # both scores bit-identically (RA is integer DIV end-to-end).
    from knowledgebase_processor_spark.operators.linkpred import (
        link_prediction)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") >= 2)
    h2 = F.floor(F.col("doc_id") / 2).cast("long")
    h3 = F.floor(F.col("doc_id") / 3).cast("long")
    edges = (d.select(F.col("doc_id").alias("src"), h2.alias("dst"))
             .union(d.select(F.col("doc_id").alias("src"), h3.alias("dst"))))
    return (link_prediction(edges, max_hub_degree=1000, min_common=2)
            .orderBy("u", "v"))


_JL_IN_DIM, _JL_OUT_DIM, _JL_SEED = 64, 8, 7


def _q102_jl_projection(spark, sf):
    # Johnson-Lindenstrauss random projection 64 -> 8 dims
    # (operators/projection.py): seeded Gaussian literals folded into
    # one codegen projection per output dim; the oracle rebuilds the
    # SAME matrix (same python Random stream) and replays every
    # multiply-add left-fold to the ulp.
    from knowledgebase_processor_spark.operators.projection import (
        jl_matrix, project)
    v = _t(spark, sf, "embeddings", spread=True)
    mat = jl_matrix(_JL_IN_DIM, _JL_OUT_DIM, seed=_JL_SEED)
    # posexplode to (vec_id, dim, value): scalar columns only (the
    # driver's canonicalizer cannot sort array cells — q37 lesson) while
    # keeping each projected component a full-precision DOUBLE.
    return (project(v, mat)
            .select("vec_id", F.posexplode("projected")
                    .alias("dim", "value"))
            .orderBy("vec_id", "dim"))


def _q102_oracle_sql() -> str:
    from knowledgebase_processor_spark.operators.projection import jl_matrix
    mat = jl_matrix(_JL_IN_DIM, _JL_OUT_DIM, seed=_JL_SEED)
    # CAST('<repr>' AS DOUBLE), never a bare decimal literal: DuckDB
    # parses bare 0.123... as DECIMAL and the decimal->double conversion
    # double-rounds (int128/10^k), losing the last ulp on ~1/3 of
    # values; the string cast goes through strtod (correctly rounded),
    # so the fold matches Spark bit-for-bit.
    dims = ", ".join(
        " + ".join(f"((e[{i + 1}]) * (CAST('{w!r}' AS DOUBLE)))"
                   for i, w in enumerate(row))
        for row in mat)
    return f"""
            WITH v AS (
              SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
              FROM embeddings),
            p AS (SELECT vec_id, [{dims}] AS projected FROM v)
            SELECT vec_id, CAST(i - 1 AS INT) AS dim, projected[i] AS value
            FROM p, generate_series(1, {_JL_OUT_DIM}) AS s(i)
            ORDER BY vec_id, dim"""


def _q103_int8_quantize(spark, sf):
    # Per-vector symmetric int8 quantization (operators/quantize.py):
    # floor-of-one-division codes (round() half-mode differs across
    # engines, floor does not), clamped at ±127, plus the left-fold
    # reconstruction SSE — every number replayed by DuckDB.
    from knowledgebase_processor_spark.operators.quantize import (
        quantize_int8)
    v = _t(spark, sf, "embeddings", spread=True)
    # codes are exact ints, so a CSV projection loses nothing and keeps
    # every output column driver-sortable (q37 lesson).
    return (quantize_int8(v)
            .withColumn("codes_csv", F.concat_ws(",", F.expr(
                "transform(codes, c -> CAST(c AS STRING))")))
            .drop("codes")
            .orderBy("vec_id"))


def _q104_scd2_history(spark, sf):
    # SCD type-2 history from per-user event snapshots (operators/
    # scd.py): gaps-and-islands run ids entirely in window SQL, one
    # key shuffle; validity ranges + is_current + run lengths.  DuckDB
    # replays lag/sum/lead verbatim.
    from knowledgebase_processor_spark.operators.scd import scd2_history
    e = _t(spark, sf, "events")
    return (scd2_history(e, key="user_id", ts="ts", value="event_type",
                         tiebreak="event_id")
            .orderBy("key", "effective_from", "value"))


def _q105_er_scores(spark, sf):
    # Entity-resolution candidate scoring (operators/er.py): sorted-
    # neighborhood blocking (exactly N*w pairs) -> normalized-key
    # Levenshtein + token-set Jaccard + match flag.  Keys are the first
    # 32 chars of the ASCII-normalized text, so template near-dups block
    # together.  The normalization is also what makes the oracle exact:
    # Spark's levenshtein counts codepoints, DuckDB's counts bytes —
    # they agree on the guaranteed-ASCII keys.
    from knowledgebase_processor_spark.operators.er import (
        er_candidate_scores, er_key)
    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.substring(er_key(F.col("text")), 1, 32).alias("title"))
    return (er_candidate_scores(d, "doc_id", "title", w=3,
                                sim_threshold=0.8)
            .orderBy("id_a", "id_b"))


def _q106_anomaly_flags(spark, sf):
    # Rolling z-score anomaly flags in exact fixed point (operators/
    # anomaly.py): integer cents, squared denominator-cleared k-sigma
    # test — no float mean, no sqrt, so DuckDB replays every flag
    # bit-identically.  Window = 8 trailing events per user.
    from knowledgebase_processor_spark.operators.anomaly import (
        rolling_zscore_flags)
    e = _t(spark, sf, "events")
    return (rolling_zscore_flags(e, key="user_id", ts="ts",
                                 value="value", tiebreak="event_id",
                                 window=8, k_sigma=3, min_prior=4)
            .orderBy("key", "ts", "tb"))


def _q107_shortest_paths(spark, sf):
    # Multi-source bounded-round Bellman-Ford (operators/shortest_path
    # .py) over the deterministic downward doc DAG (parent -> child via
    # /2 and /3, integer weight dst%7+1), seeds {1,2,3}.  The round
    # horizon is part of the SEMANTICS (min over paths of <= 12 edges),
    # so the DuckDB recursive CTE replays it with a round counter and
    # matches exactly even where the graph is deeper than the horizon.
    from knowledgebase_processor_spark.operators.shortest_path import (
        shortest_paths)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") >= 2)
    w = (F.col("doc_id") % 7 + 1).cast("bigint")
    h2 = F.floor(F.col("doc_id") / 2).cast("long")
    h3 = F.floor(F.col("doc_id") / 3).cast("long")
    edges = (d.select(h2.alias("src"), F.col("doc_id").alias("dst"),
                      w.alias("w"))
             .union(d.select(h3.alias("src"), F.col("doc_id").alias("dst"),
                             w.alias("w"))))
    seeds = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    return (shortest_paths(edges, seeds, weight="w", rounds=12)
            .orderBy("node"))


def _q108_chunk_dedup(spark, sf):
    # Chunk-level exact dedup for RAG (operators/chunking.dedup_chunks):
    # chunk -> portable md5 fingerprint -> min-struct winner per
    # fingerprint (line_dedup shape: partial-agg, no window on the
    # boilerplate key, no join-back), with the copy count surfaced.
    from knowledgebase_processor_spark.operators.chunking import (
        dedup_chunks)
    d = _t(spark, sf, "documents", spread=True).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text")
    return dedup_chunks(d).orderBy("doc_id", "chunk_idx")


def _q109_token_budget_mix(spark, sf):
    # Pretraining-mix sampling (operators/mix.py): target proportions
    # over the source tag + global token budget -> deterministic
    # per-source rates and hash-membership sample; summary row per
    # source.  DuckDB replays token counts, totals, rates and the exact
    # kept set.
    from knowledgebase_processor_spark.operators.mix import (
        token_budget_mix)
    d = _t(spark, sf, "documents", spread=True)
    weights = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    return (token_budget_mix(d, weights, budget_tokens=2000)
            .orderBy("source"))


_Q110_BITS, _Q110_SEED, _Q110_K = 4, 42, 3


def _q110_hard_negatives(spark, sf):
    # Hard-negative mining for contrastive training (operators/
    # negatives.py): hyperplane-LSH buckets -> same-bucket cross-label
    # pairs -> exact cosine rescore -> top-k per anchor
    # (WindowGroupLimit).  The oracle replays plane signs, buckets,
    # candidate set, the left-fold cosines and the ranks exactly.
    from knowledgebase_processor_spark.operators.negatives import (
        hard_negatives)
    v = _t(spark, sf, "embeddings", spread=True)
    return (hard_negatives(v, dim=64, k=_Q110_K, bits=_Q110_BITS,
                           seed=_Q110_SEED)
            .orderBy("anchor_id", "rank"))


def _q110_oracle_sql() -> str:
    from knowledgebase_processor_spark.operators.similarity import (
        _hyperplanes)
    planes = _hyperplanes(64, _Q110_BITS, _Q110_SEED)

    def lit(x: float) -> str:
        # CAST('<repr>' AS DOUBLE): bare decimal literals double-round
        # through DECIMAL (the q102 lesson)
        return f"CAST('{x!r}' AS DOUBLE)"

    def dot_plane(plane: list) -> str:
        return " + ".join(f"((e[{i + 1}]) * ({lit(w)}))"
                          for i, w in enumerate(plane))

    bucket = " + ".join(
        f"(CASE WHEN ({dot_plane(p)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    norm = " + ".join(f"((e[{i + 1}]) * (e[{i + 1}]))" for i in range(64))
    dot_ab = " + ".join(f"((a.e[{i + 1}]) * (b.e[{i + 1}]))"
                        for i in range(64))
    return f"""
            WITH v AS (
              SELECT vec_id, label,
                     list_transform(embedding, x -> x::DOUBLE) AS e
              FROM embeddings),
            m AS (
              SELECT vec_id, label, e,
                     ({bucket}) AS bucket,
                     sqrt({norm}) AS nrm
              FROM v),
            ok AS (
              SELECT bucket FROM m GROUP BY bucket
              HAVING COUNT(*) <= 10000),
            mb AS (SELECT m.* FROM m JOIN ok USING (bucket)),
            pairs AS (
              SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
                     a.label AS anchor_label, b.label AS neg_label,
                     round(({dot_ab})
                           / GREATEST(a.nrm * b.nrm,
                                      CAST('1e-12' AS DOUBLE)), 6)
                       AS cosine
              FROM mb a JOIN mb b ON a.bucket = b.bucket
              WHERE a.vec_id <> b.vec_id AND a.label <> b.label)
            SELECT anchor_id, neg_id, anchor_label, neg_label, cosine,
                   CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
                     ORDER BY cosine DESC, neg_id) AS INT) AS rank
            FROM pairs
            QUALIFY rank <= {_Q110_K}
            ORDER BY anchor_id, rank"""


def _q111_random_walks(spark, sf):
    # DeepWalk-style deterministic random walks (operators/walks.py)
    # over the downward doc DAG; next hops are md5(walk|step|node) mod
    # out-degree, so DuckDB's recursive CTE replays every hop exactly.
    from knowledgebase_processor_spark.operators.walks import random_walks
    d = _t(spark, sf, "documents").filter(F.col("doc_id") >= 2)
    h2 = F.floor(F.col("doc_id") / 2).cast("long")
    h3 = F.floor(F.col("doc_id") / 3).cast("long")
    edges = (d.select(h2.alias("src"), F.col("doc_id").alias("dst"))
             .union(d.select(h3.alias("src"), F.col("doc_id").alias("dst"))))
    seeds = _t(spark, sf, "documents") \
        .filter((F.col("doc_id") >= 1) & (F.col("doc_id") <= 50)) \
        .select(F.col("doc_id").alias("node"))
    return (random_walks(edges, seeds, walk_len=6)
            .orderBy("walk_id", "step"))


def _q112_quality_ensemble(spark, sf):
    # Quality-signal ensemble: three independent document rankings
    # (Gopher-style heuristic quality, bigram-coverage fluency, hashed
    # linear-classifier margin) fused with FIXED-POINT reciprocal-rank
    # fusion — 1e12 DIV (60 + rank) summed as BIGINT.  Integer RRF is
    # deliberate: a three-way float reciprocal sum is not
    # aggregation-order-stable (IEEE + is commutative, not associative),
    # while the micro-unit sum is bit-exact in any engine and any
    # partial-agg order.  Rankings come from the distributed
    # global_rank (no single-partition window).
    from knowledgebase_processor_spark.functions.text import quality_score
    from knowledgebase_processor_spark.operators.classifier import (
        linear_margin)
    from knowledgebase_processor_spark.operators.lm_score import (
        bigram_coverage)
    from knowledgebase_processor_spark.operators.rank import global_rank
    d = _t(spark, sf, "documents")
    by_q = global_rank(
        d.select("doc_id", (-quality_score(F.col("text"))).alias("s")),
        ["s", "doc_id"]).select("doc_id", "rank")
    by_f = global_rank(
        bigram_coverage(d, min_count=3)
        .select("doc_id",
                (-F.coalesce(F.col("coverage"), F.lit(0.0))).alias("s")),
        ["s", "doc_id"]).select("doc_id", "rank")
    by_m = global_rank(
        linear_margin(d, dims=1024)
        .select("doc_id", (-F.col("margin")).alias("s")),
        ["s", "doc_id"]).select("doc_id", "rank")
    un = by_q.unionByName(by_f).unionByName(by_m)
    return (un.groupBy("doc_id")
            .agg(F.sum(F.expr("1000000000000 DIV (60 + rank)"))
                 .cast("bigint").alias("rrf_micro"),
                 F.count(F.lit(1)).alias("n_lists"))
            .orderBy(F.desc("rrf_micro"), "doc_id").limit(25))


_Q113_BOUNDS = [64, 128, 256, 512]


def _q113_padding_waste(spark, sf):
    # Sequence-length bucketing report: assign each document to the
    # smallest length bucket that holds it (docs beyond the last bound
    # truncate to it — the packer's LEAST(n, max) rule), then per
    # bucket: docs, real tokens, padded tokens (docs x bound) and the
    # waste fraction — the planning table for choosing batch shapes,
    # complementary to q48's packer utilization.  One scan + one tiny
    # groupBy; every number is an exact integer except one final
    # division.
    from knowledgebase_processor_spark.functions.text import token_count
    d = _t(spark, sf, "documents")
    toks = F.least(token_count(F.col("text")).cast("bigint"),
                   F.lit(_Q113_BOUNDS[-1]))
    bound = F.lit(_Q113_BOUNDS[-1])
    for b in reversed(_Q113_BOUNDS[:-1]):
        bound = F.when(toks <= b, F.lit(b)).otherwise(bound)
    base = d.select(toks.alias("toks"), bound.alias("bucket"))
    return (base.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("toks").cast("bigint").alias("real_tokens"))
            .select("bucket", "n_docs", "real_tokens",
                    (F.col("n_docs") * F.col("bucket")).cast("bigint")
                    .alias("padded_tokens"),
                    ((F.col("n_docs") * F.col("bucket")
                      - F.col("real_tokens")).cast("double")
                     / (F.col("n_docs") * F.col("bucket")).cast("double"))
                    .alias("waste_frac"))
            .orderBy("bucket"))


def _q114_source_overlap_matrix(spark, sf):
    # Pairwise source-overlap matrix (operators/sketches.py::
    # kmv_overlap_matrix): one bottom-k sketch per source over word
    # 3-gram shingles, all pair estimates from the G*k-row sketch frame
    # — the "which sources duplicate each other" curation table.  Top
    # 15 most-overlapping pairs; the oracle replays every sketch and
    # pair bit-exactly.
    from knowledgebase_processor_spark.functions.text import shingles
    from knowledgebase_processor_spark.operators.sketches import (
        kmv_overlap_matrix)
    d = _t(spark, sf, "documents", spread=True)
    sh = d.select("source", F.explode(shingles(F.col("text"))).alias("sh"))
    return (kmv_overlap_matrix(sh, "source", "sh", k=64)
            .orderBy(F.desc("n_shared"), "group_a", "group_b")
            .limit(15))


def _q115_leakage_safe_split(spark, sf):
    # Leakage-free train/val/test split (operators/split.py::
    # cluster_safe_split): near-dup clusters from the PORTABLE LSH pair
    # graph (q34's mechanism) via connected components, then the salted
    # md5 split keyed on the CLUSTER id — near-duplicates can never
    # straddle a train/test boundary.  The trailing cross_split_pairs
    # audit column (candidate pairs whose ends landed in different
    # splits) proving exactly that is part of the oracle-checked output.
    from knowledgebase_processor_spark.operators.dedup import (
        minhash_lsh_pairs_portable)
    from knowledgebase_processor_spark.operators.split import (
        cluster_safe_split)
    d = _t(spark, sf, "documents", spread=True)
    pairs = minhash_lsh_pairs_portable(d).localCheckpoint()
    assigned = cluster_safe_split(
        d.select("doc_id", "n_chars"), pairs).localCheckpoint()
    per_split = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster").alias("n_clusters"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"))
    sp = assigned.select("doc_id", "split")
    leak = (pairs
            .join(sp.withColumnRenamed("doc_id", "doc_a")
                    .withColumnRenamed("split", "split_a"), "doc_a")
            .join(sp.withColumnRenamed("doc_id", "doc_b")
                    .withColumnRenamed("split", "split_b"), "doc_b")
            .agg(F.coalesce(
                F.sum(F.when(F.col("split_a") != F.col("split_b"), 1)
                      .otherwise(0)), F.lit(0))
                .cast("bigint").alias("cross_split_pairs")))
    return per_split.crossJoin(leak).orderBy("split")


def _q116_hits(spark, sf):
    # HITS hubs/authorities (operators/hits.py): two partial-agg
    # join+groupBy passes per round, BIGINT micro-unit scores normalized
    # by max via integer division — bit-exact in any engine and any
    # aggregation order, so DuckDB replays all 4 rounds identically.
    # Edge set: the /2 and /3 parent chains (in-degree <= 5).
    from knowledgebase_processor_spark.operators.hits import hits
    d = _t(spark, sf, "documents")
    par = [d.filter(F.col("doc_id") >= 1)
           .select(F.col("doc_id").alias("src"),
                   F.floor(F.col("doc_id") / div).cast("long").alias("dst"))
           for div in (2, 3)]
    return hits(par[0].union(par[1]), iterations=4).orderBy("node")


def _q117_personalized_pagerank(spark, sf):
    # Personalized PageRank (operators/pagerank.py): teleport restricted
    # to a seed set — entity salience relative to seeds, seed-guided
    # crawl frontiers.  In-degree <= 2 parent-chain graph keeps every
    # per-node sum a fold of <= 2 IEEE doubles, so the chained-CTE
    # DuckDB oracle is bit-identical (the q49 exactness argument).
    from knowledgebase_processor_spark.operators.pagerank import (
        personalized_pagerank)
    d = _t(spark, sf, "documents")
    edges = (d.filter(F.col("doc_id") >= 1)
             .select(F.col("doc_id").alias("src"),
                     F.floor(F.col("doc_id") / 2).cast("long").alias("dst")))
    seeds = (d.filter(F.col("doc_id") % 29 == 0)
             .select(F.col("doc_id").alias("node")))
    return (personalized_pagerank(edges, seeds, iterations=5)
            .orderBy("node"))


def _q118_kmv_rollup(spark, sf):
    # Hierarchical distinct-document synopsis (operators/sketches.py::
    # kmv_rollup): per-(source, lang) KMV sketches MERGED upward to
    # per-source and global — never re-scanning the corpus.  The oracle
    # recomputes every level directly from the data; agreement IS the
    # KMV exact-merge theorem, value-checked.
    from knowledgebase_processor_spark.operators.sketches import kmv_rollup
    d = _t(spark, sf, "documents", spread=True)
    return (kmv_rollup(d, ["source", "lang"], "text", k=64)
            .orderBy("level", "source", "lang"))


def _q119_psi_drift(spark, sf):
    # Corpus drift release gate (operators/drift.py): PSI between two
    # snapshots (parity-split here — deterministic stand-ins for
    # yesterday's and today's crawl) over lang / source / length-band
    # features.  One unioned scan + one tiny groupBy; per-bin micro-nat
    # terms are the only float step, per-feature totals are exact
    # BIGINT sums of them.
    from knowledgebase_processor_spark.operators.drift import psi_report
    d = _t(spark, sf, "documents")
    old = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    return psi_report(old, new).orderBy("feature", "bin")


def _q120_hyperanf(spark, sf):
    # HyperANF reachable-set estimates (operators/hyperanf.py): HLL
    # sketch per node, 3 max-merge rounds over the /2-/3 parent-chain
    # link graph — the "how deep does this page's influence go" crawl
    # statistic, O(rounds) joins instead of per-node BFS.  Oracle
    # replays every register, round, fixed-point harmonic sum and the
    # corrected estimate.
    from knowledgebase_processor_spark.operators.hyperanf import (
        neighborhood_function)
    d = _t(spark, sf, "documents")
    par = [d.filter(F.col("doc_id") >= 1)
           .select(F.col("doc_id").alias("src"),
                   F.floor(F.col("doc_id") / div).cast("long").alias("dst"))
           for div in (2, 3)]
    return (neighborhood_function(par[0].union(par[1]), rounds=3)
            .filter(F.col("node") % 13 == 0).orderBy("node"))


def _q121_gnn_feature_prop(spark, sf):
    # SGC mean-pooling feature diffusion (operators/gnnprop.py): two
    # rounds of self+in-neighbor averaging over the vec_id parent
    # chain, BIGINT micro-units with floor-mean — bit-reproducible in
    # any engine/aggregation order.  Output: 4 leading dims + exact L1
    # norm per sampled node.
    from knowledgebase_processor_spark.operators.gnnprop import (
        propagate_features)
    emb = _t(spark, sf, "embeddings")
    edges = (emb.filter(F.col("vec_id") >= 1)
             .select(F.col("vec_id").alias("src"),
                     F.floor(F.col("vec_id") / 2).cast("long").alias("dst")))
    state = propagate_features(emb, edges, rounds=2)
    dims = [F.sum(F.when(F.col("dim") == i, F.col("val")))
             .cast("long").alias(f"f{i}") for i in (1, 2, 3, 4)]
    return (state.groupBy("node")
            .agg(*dims, F.sum(F.abs(F.col("val"))).cast("long")
                 .alias("l1_micro"))
            .filter(F.col("node") % 7 == 0).orderBy("node"))


def _q122_regional_revenue(spark, sf):
    # TPC-H-Q5-shaped 6-table star join (J-family, SURVEY §2.3): local
    # supplier revenue per nation within one region and a date year.
    # The three dimensions are broadcast (region/nation tiny, supplier
    # small); customer-orders-lineitem shuffle on their join keys; the
    # per-row revenue is floored to exact BIGINT cents so the sum is
    # aggregation-order independent (the IEEE product is deterministic,
    # the floor and the integer fold exact in any engine).
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01")))
    li = _t(spark, sf, "lineitem")
    s, n, r = (_t(spark, sf, "supplier"), _t(spark, sf, "nation"),
               _t(spark, sf, "region"))
    rev = F.expr("CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100) "
                 "AS BIGINT)")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey)
                  & (c.c_nationkey == s.s_nationkey))
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), (n.n_regionkey == r.r_regionkey)
                  & (r.r_name == "ASIA"))
            .groupBy("n_name")
            .agg(F.sum(rev).cast("long").alias("revenue_cents"),
                 F.count(F.lit(1)).cast("long").alias("n_lineitems"))
            .orderBy(F.desc("revenue_cents"), F.asc("n_name")))


def _q123_hill_tail_index(spark, sf):
    # Hill tail-index over document lengths (operators/tailindex.py):
    # how power-law is the length distribution — the diagnostic behind
    # truncation / domain-cap curation policies.  Full-data work is one
    # TakeOrdered top-51; everything after runs on <= 51 rows.
    from knowledgebase_processor_spark.operators.tailindex import (
        hill_tail_index)
    d = _t(spark, sf, "documents")
    return (hill_tail_index(d, "n_chars", "doc_id", ks=[10, 25, 50])
            .orderBy("k"))


def _q124_compaction_plan(spark, sf):
    # Small-file compaction planner (operators/compaction.py): documents
    # stand in for the file inventory (doc_id = commit order, n_chars =
    # file bytes); next-fit bins over a DISTRIBUTED running total (no
    # single-partition window), integer arithmetic end-to-end.
    from knowledgebase_processor_spark.operators.compaction import (
        compaction_summary)
    d = _t(spark, sf, "documents")
    files = d.select(F.col("doc_id").alias("file_id"),
                     F.col("n_chars").alias("bytes"))
    return compaction_summary(files, target_bytes=50_000).orderBy("bin")


def _q125_posting_sizes(spark, sf):
    # Inverted-index storage planning (operators/postings.py): exact
    # gap+LEB128-varint byte cost per term, no index build — the number
    # that sets stopword thresholds before materializing a web index.
    # Top-15 by df for a stable report shape.
    from knowledgebase_processor_spark.operators.postings import (
        posting_sizes)
    d = _t(spark, sf, "documents", spread=True)
    return (posting_sizes(d, min_df=5)
            .orderBy(F.desc("df"), F.asc("term")).limit(15))


def _q126_novelty_rate(spark, sf):
    # Crawl-saturation dashboard (operators/novelty.py): per-source
    # share of 3-gram shingles first seen in that source's docs — the
    # "is this feed still contributing new text?" number.  One shingle
    # explode (shared portable formula), two combiner-friendly
    # shuffles, exact ppm.
    from knowledgebase_processor_spark.operators.novelty import (
        novelty_by_group)
    d = _t(spark, sf, "documents", spread=True)
    return novelty_by_group(d).orderBy("source")


def _q127_source_entropy(spark, sf):
    # Corpus balance diagnostics (operators/drift.py::entropy_report):
    # language entropy per source in micro-nats, normalized balance in
    # [0,1].  Micro-nat per-bin terms, exact BIGINT per-group sums —
    # same exactness contract as the q119 PSI gate.
    from knowledgebase_processor_spark.operators.drift import (
        entropy_report)
    d = _t(spark, sf, "documents")
    return entropy_report(d, "source", "lang").orderBy("source")


def _q128_shard_layout(spark, sf):
    # Training-shard export planning (operators/shards.py): salted-md5
    # global shuffle + round-robin shard/position assignment (the
    # distributed global_rank, no single-partition window); per-shard
    # manifest with the position-0 head doc pinning the permutation.
    from knowledgebase_processor_spark.operators.shards import (
        shard_summary)
    d = _t(spark, sf, "documents")
    return shard_summary(d, n_shards=8).orderBy("shard")


def _q129_rater_agreement(spark, sf):
    # Label-audit metric (operators/agreement.py::cohen_kappa): do the
    # "high-value event" rule and the "conversion event-type" rule
    # agree beyond chance?  Exact-integer 2x2 counts, po/kappa as
    # BIGINT rationals (kappa_num/kappa_den) + truncated milli-kappa —
    # no float anywhere in the row.
    from knowledgebase_processor_spark.operators.agreement import (
        cohen_kappa)
    e = _t(spark, sf, "events")
    raters = e.select(
        (F.col("value") > 50.0).alias("high_value"),
        F.col("event_type").isin("purchase", "signup").alias("conversion"))
    return cohen_kappa(raters, "high_value", "conversion")


def _q130_calibration(spark, sf):
    # Reliability diagram + ECE (operators/agreement.py::
    # calibration_report): rank-transformed length score vs the
    # "is English" label, 10 bins + a bin=-1 ECE summary row — every
    # number an exact BIGINT (gap identity: (n_b/n)|avg_p - rate| ==
    # |sum_p - n_pos*1e6|/n).
    from knowledgebase_processor_spark.operators.agreement import (
        calibration_report)
    d = _t(spark, sf, "documents")
    labeled = d.select("doc_id", "n_chars",
                       (F.col("lang") == "en").alias("is_en"))
    return (calibration_report(labeled, "n_chars", "is_en", "doc_id")
            .orderBy("bin"))


_PARENT_EDGES_SQL = (
    "SELECT doc_id AS src, CAST(FLOOR(doc_id / 2) AS BIGINT) AS dst "
    "FROM documents WHERE doc_id >= 1 "
    "UNION ALL "
    "SELECT doc_id, CAST(FLOOR(doc_id / 3) AS BIGINT) "
    "FROM documents WHERE doc_id >= 1")


def _parent_edges(spark, sf):
    d = _t(spark, sf, "documents")
    par = [d.filter(F.col("doc_id") >= 1)
           .select(F.col("doc_id").alias("src"),
                   F.floor(F.col("doc_id") / div).cast("long").alias("dst"))
           for div in (2, 3)]
    return par[0].union(par[1])


def _q131_modularity(spark, sf):
    # Community-quality metric (operators/graphmetrics.py::modularity):
    # Newman Q of the label-propagation partition on the /2+/3 parent
    # graph.  Per-community BIGINT (intra edges, degree sum, q_num) over
    # the common |E|^2 denominator — the oracle nests the full 2-round
    # LPA replay and recomputes every community row exactly.
    from knowledgebase_processor_spark.operators.communities import (
        label_propagation)
    from knowledgebase_processor_spark.operators.graphmetrics import (
        modularity)
    edges = _parent_edges(spark, sf)
    labels = label_propagation(edges, iterations=2)
    return modularity(edges, labels)


def _q132_assortativity(spark, sf):
    # Degree assortativity (operators/graphmetrics.py): are high-degree
    # hubs wired to other hubs?  Three exact BIGINT moments over the
    # symmetric edge set determine Pearson's r; the only float is ONE
    # double division of two exact integers.
    from knowledgebase_processor_spark.operators.graphmetrics import (
        assortativity)
    return assortativity(_parent_edges(spark, sf))


def _q133_fd_audit(spark, sf):
    # Data-quality rules audit (operators/audit.py::fd_violations): does
    # source determine lang (and vice versa) in the crawl?  Per-FD exact
    # counts: violating groups, minimal repair rows, ppm rate.
    from knowledgebase_processor_spark.operators.audit import fd_violations
    d = _t(spark, sf, "documents")
    return (fd_violations(d, [("source", "lang"), ("lang", "source")])
            .orderBy("fd"))


def _q134_source_quota(spark, sf):
    # Hamilton largest-remainder apportionment (operators/quota.py):
    # split a 137-doc sampling budget across sources exactly
    # proportionally with an exact-sum guarantee — the planning step in
    # front of the q109 token-budget mix.
    from knowledgebase_processor_spark.operators.quota import (
        largest_remainder_quota)
    d = _t(spark, sf, "documents")
    return largest_remainder_quota(d, "source", budget=137).orderBy("group")


def _q135_oov_coverage(spark, sf):
    # Tokenizer-vocabulary coverage (operators/vocab.py): fix the top-500
    # corpus vocabulary (TakeOrdered, no global sort), then per-source
    # OOV word rate — which slices fragment into unknowns.  Exact BIGINT
    # counts on the single-sourced portable tokenizer.
    from knowledgebase_processor_spark.operators.vocab import (
        build_vocab, oov_by_source)
    d = _t(spark, sf, "documents")
    vocab = build_vocab(d, k=500)
    return oov_by_source(d, vocab).orderBy("source")


def _q136_node_clustering(spark, sf):
    # Per-node local clustering coefficient + global transitivity
    # (operators/triangles.py::node_clustering): degree-oriented
    # triangle counting (hub fan-out bounded O(sqrt m)) joined to the
    # degree table; summary node=-1 carries 3·T/wedges.  Same
    # triangle-rich {(i,i/2),(i,i/3),(i/2,i/3)} graph as q58; the
    # oracle recounts with the naive u<v<w join.
    from knowledgebase_processor_spark.operators.triangles import (
        node_clustering)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") >= 2)
    h2 = F.floor(F.col("doc_id") / 2).cast("long")
    h3 = F.floor(F.col("doc_id") / 3).cast("long")
    edges = (d.select(F.col("doc_id").alias("src"), h2.alias("dst"))
             .union(d.select(F.col("doc_id").alias("src"), h3.alias("dst")))
             .union(d.select(h2.alias("src"), h3.alias("dst"))))
    return node_clustering(edges).orderBy("node")


def _q137_label_rule_f1(spark, sf):
    # Multi-class classification report (operators/agreement.py::
    # classification_report): score a naive source->lang rule (the
    # majority guess 'en' except sources whose name hints otherwise —
    # deterministic from the row itself) against the true lang column.
    # Per-class exact-integer tp/fp/fn + ppm P/R/F1 (harmonic mean
    # collapsed to ONE integer division), micro row.
    from knowledgebase_processor_spark.operators.agreement import (
        classification_report)
    d = _t(spark, sf, "documents")
    pred = F.when(F.col("source").contains("blog"), F.lit("de")) \
        .otherwise(F.lit("en"))
    labeled = d.select(F.col("lang").alias("truth"), pred.alias("pred"))
    return (classification_report(labeled, "truth", "pred")
            .orderBy("class"))


def _q138_interarrival(spark, sf):
    # Per-user inter-arrival burstiness (operators/arrival.py): whole-
    # second gaps from ONE user-partitioned window, exact BIGINT moments,
    # Goh-Barabasi B = (sqrt(b_num)-sum)/(sqrt(b_num)+sum) — the sqrt
    # form keeps even the float bit-identical across engines.
    from knowledgebase_processor_spark.operators.arrival import (
        interarrival_stats)
    e = _t(spark, sf, "events")
    return (interarrival_stats(e, "user_id", "ts", "event_id")
            .orderBy("key"))


def _q139_k_anonymity(spark, sf):
    # Privacy release gate (operators/kanon.py): k-anonymity of the
    # (lang, source, n_chars DIV 1000) quasi-identifier at k=2/5/20 —
    # equivalence classes below k and the rows exposed in them.  Exact
    # counts; one groupBy over QI, report aggs over the class frame.
    from knowledgebase_processor_spark.operators.kanon import (
        k_anonymity_report)
    d = _t(spark, sf, "documents").select(
        "lang", "source",
        F.expr("n_chars DIV 1000").cast("long").alias("len_kb"))
    return (k_anonymity_report(d, ["lang", "source", "len_kb"],
                               ks=[2, 5, 20]).orderBy("k"))


def _q140_rdfs_closure(spark, sf):
    # RDFS entailment materialization (operators/rdfs.py): schema closed
    # by doubling joins on the tiny side, instance typed/lifted by ONE
    # broadcast pass.  Deterministic ontology: 16-class / 8-property
    # binary-tree hierarchies + domain/range assignments; instance
    # triples and rdf:type assertions derive from doc_id.  Per-predicate
    # profile with an md5 content digest value-checks the whole closure.
    from knowledgebase_processor_spark.operators.neighbors import _h60
    from knowledgebase_processor_spark.operators.rdfs import (
        RDF_TYPE, RDFS_DOMAIN, RDFS_RANGE, RDFS_SUBCLASS, RDFS_SUBPROP,
        rdfs_closure)

    def _name(prefix, col):
        return F.concat(F.lit(prefix), col.cast("long").cast("string"))

    c16 = spark.range(1, 16)
    sc = c16.select(_name("C", F.col("id")).alias("subj"),
                    F.lit(RDFS_SUBCLASS).alias("pred"),
                    _name("C", F.expr("id DIV 2")).alias("obj"))
    p8 = spark.range(1, 8)
    sp = p8.select(_name("p", F.col("id")).alias("subj"),
                   F.lit(RDFS_SUBPROP).alias("pred"),
                   _name("p", F.expr("id DIV 2")).alias("obj"))
    p0 = spark.range(0, 8)
    dom = p0.select(_name("p", F.col("id")).alias("subj"),
                    F.lit(RDFS_DOMAIN).alias("pred"),
                    _name("C", F.col("id")).alias("obj"))
    rng = p0.select(_name("p", F.col("id")).alias("subj"),
                    F.lit(RDFS_RANGE).alias("pred"),
                    _name("C", (F.col("id") + 5) % 16).alias("obj"))

    d = _t(spark, sf, "documents")
    props = d.select(_name("e", F.col("doc_id")).alias("subj"),
                     _name("p", F.col("doc_id") % 8).alias("pred"),
                     _name("e", F.expr("doc_id DIV 3")).alias("obj"))
    types = d.select(_name("e", F.col("doc_id")).alias("subj"),
                     F.lit(RDF_TYPE).alias("pred"),
                     _name("C", F.col("doc_id") % 16).alias("obj"))
    triples = sc.unionByName(sp).unionByName(dom).unionByName(rng) \
        .unionByName(props).unionByName(types)

    clo = rdfs_closure(triples)
    digest = F.sum(_h60(F.concat_ws("|", F.col("subj"), F.col("obj")))
                   % 1000003).cast("long")
    return (clo.groupBy("pred")
            .agg(F.count("*").alias("n_triples"),
                 F.countDistinct("subj").alias("n_subj"),
                 F.countDistinct("obj").alias("n_obj"),
                 digest.alias("digest"))
            .orderBy("pred"))


def _q141_sameas_canonical(spark, sf):
    # owl:sameAs canonicalization (operators/sameas.py): identity chains
    # of five (e_d sameAs e_{d-1} unless d%5==0) clustered by CC, then
    # the instance triple set rewritten through the min-member map and
    # set-deduplicated — the north rule's "canonicalization through
    # connected-components before materializing deduplicated tables" as
    # a standalone triple-level operator.  DuckDB replays the clustering
    # with a recursive reachability CTE and the rewrite with two joins.
    from knowledgebase_processor_spark.operators.sameas import (
        canonicalize_triples)

    def _e(col):
        return F.concat(F.lit("e"), col.cast("long").cast("string"))

    d = _t(spark, sf, "documents")
    edges = (d.filter(F.col("doc_id") % 5 != 0)
             .select(_e(F.col("doc_id")).alias("src"),
                     _e(F.col("doc_id") - 1).alias("dst")))
    triples = d.select(_e(F.col("doc_id")).alias("subj"),
                       F.lit("rel").alias("pred"),
                       _e(F.expr("doc_id DIV 7")).alias("obj"))
    return (canonicalize_triples(triples, edges)
            .orderBy("subj", "obj"))


def _q142_neighbor_sample(spark, sf):
    # GraphSAGE-style bounded-fan-out neighbor sampling
    # (operators/neighbors.py): hash-rank deterministic picks, fanout
    # (3,2) over the q111 parent graph (doc -> doc/2, doc/3); every rank
    # and pick is replayed by the DuckDB window oracle.
    from knowledgebase_processor_spark.operators.neighbors import (
        sample_neighbors)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") >= 2)
    edges = (d.select(F.expr("doc_id DIV 2").alias("src"),
                      F.col("doc_id").alias("dst"))
             .unionByName(d.select(F.expr("doc_id DIV 3").alias("src"),
                                   F.col("doc_id").alias("dst"))))
    seeds = _t(spark, sf, "documents") \
        .filter(F.col("doc_id").between(1, 40)).select("doc_id")
    return (sample_neighbors(edges, seeds, fanout=(3, 2))
            .orderBy("seed", "hop", "src", "dst"))


def _q143_transe_negatives(spark, sf):
    # TransE filtered negative sampling (operators/kgtrain.py):
    # hash-deterministic corrupt picks over the dense doc-id entity
    # vocabulary, degenerate picks dropped, true-triple corruptions
    # anti-joined out.  DuckDB replays every pick and both filters.
    from knowledgebase_processor_spark.operators.kgtrain import (
        transe_negatives)
    d = _t(spark, sf, "documents")

    def _name(prefix, col):
        return F.concat(F.lit(prefix), col.cast("long").cast("string"))

    triples = d.select(_name("e", F.col("doc_id")).alias("subj"),
                       _name("p", F.col("doc_id") % 4).alias("pred"),
                       _name("e", F.expr("doc_id DIV 2")).alias("obj"))
    ents = d.select(F.col("doc_id").alias("ent_idx"),
                    _name("e", F.col("doc_id")).alias("ent_id"))
    return (transe_negatives(triples, ents, k=2)
            .orderBy("subj", "pred", "obj", "sample"))


def _q144_predicate_profile(spark, sf):
    # KG predicate profile (operators/stats.py::predicate_profile):
    # functionality / inverse functionality / literal share in exact
    # integer ppm, worst per-subject fan-out, modal object datatype —
    # the schema-discovery report ER and entity linking block on.
    from knowledgebase_processor_spark.operators.stats import (
        predicate_profile)
    d = _t(spark, sf, "documents")
    lit_row = F.col("doc_id") % 3 == 0
    t = d.select(
        F.concat(F.lit("e"), F.col("doc_id").cast("string")).alias("subj"),
        F.concat(F.lit("p"), (F.col("doc_id") % 6).cast("string")).alias("pred"),
        F.when(lit_row, F.concat(F.lit("v"), (F.col("doc_id") % 7).cast("string")))
        .otherwise(F.concat(F.lit("e"), F.expr("doc_id DIV 2").cast("string")))
        .alias("obj"),
        (~lit_row).alias("obj_is_uri"),
        F.when(lit_row, F.when(F.col("doc_id") % 6 == 0, "xsd:string")
               .otherwise("xsd:integer")).alias("obj_datatype"))
    return predicate_profile(t).orderBy("pred")


def _q145_kg_snapshot(spark, sf):
    # Latest-assertion-wins KG snapshot merge
    # (operators/delta.py::latest_assertions): one partial-agg
    # max(struct) shuffle collapses the assertion log, tombstones drop
    # their key — the Iceberg MERGE INTO twin.  Every winner is replayed
    # by the DuckDB window oracle.
    from knowledgebase_processor_spark.operators.delta import (
        latest_assertions)
    e = _t(spark, sf, "events")
    a = e.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("subj"),
        F.col("event_type").alias("pred"),
        F.concat(F.lit("v"), F.col("event_id").cast("string")).alias("obj"),
        "ts",
        F.when(F.col("event_id") % 10 == 0, "delete").otherwise("upsert")
        .alias("op"))
    return latest_assertions(a).orderBy("subj", "pred")


def _q146_coverage_select(spark, sf):
    # Greedy coverage-based corpus selection (operators/select.py):
    # submodular facility-location greedy over 3-gram shingles, one
    # anti-join + partial-agg + TakeOrdered(1) per round; DuckDB replays
    # every pick with the unrolled-round oracle on the shared shingler.
    from knowledgebase_processor_spark.operators.select import (
        greedy_coverage_select)
    d = _t(spark, sf, "documents", spread=True).select("doc_id", "text")
    return greedy_coverage_select(d, k=6).orderBy("round")


def _q147_entity_disambiguation(spark, sf):
    # Entity disambiguation: Milne-Witten commonness prior + context
    # Jaccard in exact integer ppm (operators/linking.py), broadcast
    # candidate dictionary, top-1 per mention by partial-agg max(struct).
    # Candidate contexts use namespaced slot tokens so the oracle can
    # compute the intersection with two CASE matches instead of list ops.
    from knowledgebase_processor_spark.operators.linking import disambiguate
    d = _t(spark, sf, "documents")
    m = d.select(
        F.col("doc_id").alias("mention_id"),
        F.concat(F.lit("a"), (F.col("doc_id") % 20).cast("string"))
        .alias("alias"),
        F.array(F.concat(F.lit("x"), (F.col("doc_id") % 5).cast("string")),
                F.concat(F.lit("y"), (F.col("doc_id") % 7).cast("string")),
                F.concat(F.lit("z"), (F.col("doc_id") % 11).cast("string")))
        .alias("ctx"))
    c = spark.range(0, 60).select(
        F.concat(F.lit("a"), (F.col("id") % 20).cast("string")).alias("alias"),
        F.concat(F.lit("E"), F.col("id").cast("string")).alias("entity"),
        F.array(F.concat(F.lit("x"), (F.col("id") % 5).cast("string")),
                F.concat(F.lit("y"), (F.col("id") % 7).cast("string")))
        .alias("ctx"),
        ((F.col("id") * 37 % 100) * 10000).cast("long").alias("prior_ppm"))
    return disambiguate(m, c).orderBy("mention_id")


def _q148_anchor_profile(spark, sf):
    # Anchor-text aggregation per link target (operators/anchors.py):
    # two partial-agg groupBys + struct-max modal anchor — the web-IR
    # commonness statistics feeding the q147 prior.
    from knowledgebase_processor_spark.operators.anchors import (
        anchor_profile)
    d = _t(spark, sf, "documents")
    links = d.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src_doc"),
        F.concat(F.lit("d"), F.expr("doc_id DIV 3").cast("string"))
        .alias("target"),
        F.concat(F.lit("anchor-"), (F.col("doc_id") % 4).cast("string"))
        .alias("anchor"))
    return anchor_profile(links).orderBy("target")


def _q149_url_prefix_rollup(spark, sf):
    # Crawl-inventory rollup over the URL path hierarchy
    # (operators/urlrules.py::url_prefix_rollup): bounded posexplode of
    # <= max_depth prefixes per page + ONE partial-agg groupBy; the
    # every-page-hits-depth-1 skew is absorbed by map-side combine.
    from knowledgebase_processor_spark.operators.urlrules import (
        url_prefix_rollup)
    d = _t(spark, sf, "documents")
    paths = d.select(F.concat(
        F.lit("/s"), (F.col("doc_id") % 4).cast("string"),
        F.lit("/t"), (F.col("doc_id") % 10).cast("string"),
        F.lit("/p"), F.col("doc_id").cast("string")).alias("path"))
    return url_prefix_rollup(paths, "path", max_depth=3) \
        .orderBy("depth", "prefix")


def _q150_skew_report(spark, sf):
    # Key-distribution skew advisor (operators/skew.py::skew_report):
    # hot keys, table shares, and the salt factor replicated_join wants
    # — one partial-agg groupBy + TakeOrdered, no window/global sort.
    from knowledgebase_processor_spark.operators.skew import skew_report
    d = _t(spark, sf, "documents")
    return skew_report(d, "source", top_k=3,
                       target_rows_per_task=100).orderBy("key")


def _q151_margin_mine(spark, sf):
    # Margin-based bitext mining (operators/bitext.py, Artetxe-Schwenk):
    # micro-unit cosines (q17 float-reconciliation convention), exact
    # BIGINT neighborhood sums and margin ratio, best target per source
    # above margin>1.  Src/tgt = even/odd embedding ids.
    from knowledgebase_processor_spark.operators.bitext import margin_mine
    e = _t(spark, sf, "embeddings")
    src = e.filter(F.col("vec_id") % 2 == 0)
    tgt = e.filter(F.col("vec_id") % 2 == 1)
    return margin_mine(src, tgt, k=4, dim=64,
                       min_margin_ppm=1_000_000).orderBy("src_id")


def _q152_hubness(spark, sf):
    # k-occurrence hubness diagnostic (operators/bitext.py): per target,
    # how many sources rank it top-4 — anti-hubs kept at n_k = 0.
    from knowledgebase_processor_spark.operators.bitext import (
        hubness_report)
    e = _t(spark, sf, "embeddings")
    src = e.filter(F.col("vec_id") % 2 == 0)
    tgt = e.filter(F.col("vec_id") % 2 == 1)
    return hubness_report(src, tgt, k=4, dim=64).orderBy("tgt_id")


def _q153_mojibake(spark, sf):
    # Encoding-damage gate (operators/webclean.py::mojibake_report):
    # U+FFFD / latin-mojibake-bigram / C1-control counts + integer-ppm
    # keep flag, one projection.  Deterministic damage is appended to
    # the corpus text so every artifact class fires; DuckDB replays the
    # damage formula and the exact RE2-safe patterns.
    from knowledgebase_processor_spark.operators.webclean import (
        mojibake_report)
    d = _t(spark, sf, "documents")
    dmg = F.concat(
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" "),
                        F.repeat(F.lit("�"),
                                 (F.col("doc_id") % 4).cast("int"))))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.repeat(F.lit("Ã©"), 2)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit("\u0085"))
        .otherwise(F.lit("")))
    damaged = d.select("doc_id",
                       F.concat(F.col("text"), dmg).alias("text"))
    return mojibake_report(damaged).orderBy("doc_id")


def _q154_url_align(spark, sf):
    # URL-structure bitext alignment (operators/webclean.py::
    # url_align_pairs, the WMT document-alignment baseline): strip the
    # /lang/ segment, one equi-join of the language sides on the
    # neutral key.
    from knowledgebase_processor_spark.operators.webclean import (
        url_align_pairs)
    d = _t(spark, sf, "documents")
    lang = F.when(F.col("doc_id") % 3 == 0, "en") \
        .when(F.col("doc_id") % 3 == 1, "fr").otherwise("de")
    pages = d.select(
        "doc_id",
        F.concat(F.lit("http://h"),
                 (F.expr("doc_id DIV 3") % 5).cast("string"),
                 F.lit("/"), lang, F.lit("/p"),
                 F.expr("doc_id DIV 3").cast("string")).alias("url"))
    return url_align_pairs(pages).orderBy("en_id")


def _q155_robots_parse(spark, sf):
    # Distributed robots.txt parse (operators/webclean.py::parse_robots):
    # stateful group semantics as a window running count, rules frame
    # ready for urlrules.apply_url_rules.  One synthetic robots body per
    # host; the oracle replays the expected rule rows from the same
    # formulas (parse mechanics are unit-tested incl. stacked agents).
    from knowledgebase_processor_spark.operators.webclean import (
        parse_robots)
    d = _t(spark, sf, "documents")
    body = F.concat(
        F.lit("# generated\nUser-agent: *\nDisallow: /p"),
        (F.col("doc_id") % 4).cast("string"),
        F.lit("/\nAllow: /p"), (F.col("doc_id") % 4).cast("string"),
        F.lit("/ok\n"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("\nUser-agent: bot\nCrawl-delay: 2\nDisallow: /x/\n"))
        .otherwise(F.lit("")))
    robots = d.select(
        F.concat(F.lit("h"), F.col("doc_id").cast("string")).alias("host"),
        body.alias("robots_txt"))
    return parse_robots(robots).orderBy("host", "agent", "rule_idx")


def _q156_tag_density(spark, sf):
    # Markup-density pre-filter (operators/webclean.py::
    # tag_density_report): tag/anchor counts + visible-text ppm, one
    # projection with oracle-shared RE2 patterns.  Deterministic HTML
    # wrapper around the corpus text.
    from knowledgebase_processor_spark.operators.webclean import (
        tag_density_report)
    d = _t(spark, sf, "documents")
    html = F.concat(
        F.lit("<html><body><h1>T"), F.col("doc_id").cast("string"),
        F.lit("</h1>"),
        F.repeat(F.lit("<a href=/l>link</a>"),
                 (F.col("doc_id") % 5).cast("int")),
        F.lit("<p>"), F.col("text"), F.lit("</p></body></html>"))
    return tag_density_report(
        d.select("doc_id", html.alias("html"))).orderBy("doc_id")


def _q157_predicate_fill(spark, sf):
    # KG schema-completeness report (operators/kgquality.py::
    # predicate_fill_rate, ReCoIn-style): per (class, predicate), share
    # of instances asserting it — one membership⋈presence join + one
    # partial-agg groupBy, exact integer ppm.
    from knowledgebase_processor_spark.operators.kgquality import (
        predicate_fill_rate)
    from knowledgebase_processor_spark.operators.rdfs import RDF_TYPE
    d = _t(spark, sf, "documents")

    def _name(prefix, col):
        return F.concat(F.lit(prefix), col.cast("long").cast("string"))

    types = d.select(_name("e", F.col("doc_id")).alias("subj"),
                     F.lit(RDF_TYPE).alias("pred"),
                     _name("C", F.col("doc_id") % 6).alias("obj"))
    p1 = (d.filter(F.col("doc_id") % 3 != 0)
          .select(_name("e", F.col("doc_id")).alias("subj"),
                  _name("p", F.col("doc_id") % 4).alias("pred"),
                  F.lit("v").alias("obj")))
    p2 = (d.filter(F.col("doc_id") % 5 == 0)
          .select(_name("e", F.col("doc_id")).alias("subj"),
                  F.lit("q").alias("pred"), F.lit("v").alias("obj")))
    return (predicate_fill_rate(types.unionByName(p1).unionByName(p2))
            .orderBy("cls", "pred"))


def _q158_dangling_refs(spark, sf):
    # KG referential-integrity audit (operators/kgquality.py::
    # dangling_objects): per predicate, URI objects referenced but never
    # described — distinct projection + anti-join + partial-agg rollup.
    from knowledgebase_processor_spark.operators.kgquality import (
        dangling_objects)
    from knowledgebase_processor_spark.operators.rdfs import RDF_TYPE
    d = _t(spark, sf, "documents")

    def _name(prefix, col):
        return F.concat(F.lit(prefix), col.cast("long").cast("string"))

    types = d.select(_name("e", F.col("doc_id")).alias("subj"),
                     F.lit(RDF_TYPE).alias("pred"),
                     _name("C", F.col("doc_id") % 6).alias("obj"),
                     F.lit(True).alias("obj_is_uri"))
    lit_row = F.col("doc_id") % 7 == 0
    dang_row = F.col("doc_id") % 2 == 1
    props = d.select(
        _name("e", F.col("doc_id")).alias("subj"),
        _name("p", F.col("doc_id") % 4).alias("pred"),
        F.when(lit_row, F.lit("lit"))
        .when(dang_row, _name("x", F.col("doc_id")))
        .otherwise(_name("e", F.expr("doc_id DIV 2"))).alias("obj"),
        (~lit_row).alias("obj_is_uri"))
    return dangling_objects(types.unionByName(props)).orderBy("pred")


def _q159_domain_violations(spark, sf):
    # Domain-conformance audit (operators/kgquality.py::
    # domain_violations) — the validation twin of the q140 entailment:
    # per (pred, required domain class), asserting subjects missing the
    # type.  Broadcast schema, two distinct projections, one anti-join.
    from knowledgebase_processor_spark.operators.kgquality import (
        domain_violations)
    from knowledgebase_processor_spark.operators.rdfs import RDF_TYPE
    d = _t(spark, sf, "documents")

    def _name(prefix, col):
        return F.concat(F.lit(prefix), col.cast("long").cast("string"))

    types = d.select(_name("e", F.col("doc_id")).alias("subj"),
                     F.lit(RDF_TYPE).alias("pred"),
                     _name("C", F.col("doc_id") % 6).alias("obj"))
    props = d.select(_name("e", F.col("doc_id")).alias("subj"),
                     _name("p", F.col("doc_id") % 4).alias("pred"),
                     F.lit("v").alias("obj"))
    schema = spark.range(0, 4).select(
        _name("p", F.col("id")).alias("pred"),
        _name("C", F.col("id")).alias("domain_cls"))
    return (domain_violations(types.unionByName(props), schema)
            .orderBy("pred", "domain_cls"))


def _q160_class_counts(spark, sf):
    # Faceted-browse class hierarchy counts (operators/kgquality.py::
    # class_hierarchy_counts): direct vs subclass-inclusive instance
    # counts; subclass closure broadcast, countDistinct lift dedups
    # multi-typed instances.  Binary-tree 16-class ontology over doc_id.
    from knowledgebase_processor_spark.operators.kgquality import (
        class_hierarchy_counts)
    from knowledgebase_processor_spark.operators.rdfs import (
        RDF_TYPE, RDFS_SUBCLASS)
    d = _t(spark, sf, "documents")

    def _name(prefix, col):
        return F.concat(F.lit(prefix), col.cast("long").cast("string"))

    sc = spark.range(1, 16).select(
        _name("C", F.col("id")).alias("subj"),
        F.lit(RDFS_SUBCLASS).alias("pred"),
        _name("C", F.expr("id DIV 2")).alias("obj"))
    types = d.select(_name("e", F.col("doc_id")).alias("subj"),
                     F.lit(RDF_TYPE).alias("pred"),
                     _name("C", F.col("doc_id") % 16).alias("obj"))
    return class_hierarchy_counts(sc.unionByName(types)).orderBy("cls")


def _q161_ranking_eval(spark, sf):
    # Filtered KG link-prediction ranking (operators/kgtrain.py::
    # ranking_eval): OGB-style sampled candidates (hash mod 4 + the
    # true tail), filtered-setting anti-join, partial-agg rank count.
    # Truth graph is q143's deterministic (e_i, p_{i%4}, e_{i//2}).
    from knowledgebase_processor_spark.operators.kgtrain import (
        ranking_eval)
    d = _t(spark, sf, "documents")
    truth = d.select(
        F.concat(F.lit("e"), F.col("doc_id").cast("string")).alias("subj"),
        F.concat(F.lit("p"), (F.col("doc_id") % 4).cast("string"))
        .alias("pred"),
        F.concat(F.lit("e"), F.floor(F.col("doc_id") / 2).cast("long")
                 .cast("string")).alias("obj"))
    # test subset selected on the numeric id so both engines agree
    dsub = d.filter(F.col("doc_id") % 9 == 0)
    test = dsub.select(
        F.concat(F.lit("e"), F.col("doc_id").cast("string")).alias("subj"),
        F.concat(F.lit("p"), (F.col("doc_id") % 4).cast("string"))
        .alias("pred"),
        F.concat(F.lit("e"), F.floor(F.col("doc_id") / 2).cast("long")
                 .cast("string")).alias("obj"))
    ents = d.select(F.concat(F.lit("e"), F.col("doc_id").cast("string"))
                    .alias("ent_id"))
    return (ranking_eval(test, truth, ents, sample_mod=4)
            .orderBy("subj", "pred", "obj"))


def _q162_retrieval_metrics(spark, sf):
    # Ranked-retrieval eval (operators/rankeval.py): deterministic run
    # (5 synthetic queries, score = md5-hash of (query, doc), top-20 by
    # row_number) scored against graded qrels (rel = doc_id % 4 on the
    # doc_id % 3 == 0 stratum); P/R@k + micro-quantized nDCG@k.
    from knowledgebase_processor_spark.operators.rankeval import (
        retrieval_report)
    d = _t(spark, sf, "documents")
    scored = d.select(
        F.concat(F.lit("q"), (F.col("doc_id") % 5).cast("string"))
        .alias("query_id"),
        F.concat(F.lit("d"), F.col("doc_id").cast("string"))
        .alias("doc_id"),
        F.conv(F.substring(F.md5(F.concat_ws(
            "|", (F.col("doc_id") % 5).cast("string"),
            F.col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("double").alias("score"))
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                               F.col("doc_id"))
    run = (scored.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") <= 20).drop("rn"))
    qrels = (d.filter(F.col("doc_id") % 3 == 0)
             .select(F.concat(F.lit("q"), (F.col("doc_id") % 5)
                              .cast("string")).alias("query_id"),
                     F.concat(F.lit("d"), F.col("doc_id").cast("string"))
                     .alias("doc_id"),
                     (F.col("doc_id") % 4).cast("int").alias("rel")))
    return (retrieval_report(run, qrels, ks=(5, 10))
            .orderBy("query_id", "k"))


def _u(prefix: str, col) -> "F.Column":
    return F.concat(F.lit(prefix), col.cast("long").cast("string"))


def _q163_redirects(spark, sf):
    # Redirect-chain resolution (operators/redirects.py): pointer
    # doubling, rounds=4 (<=16-hop budget).  Synthetic map: inside each
    # block of 10 ids, u_i -> u_{i-1}; blocks at multiples of 100 close
    # into a 10-loop (u_100 -> u_109), so those stay unresolved.
    from knowledgebase_processor_spark.operators.redirects import (
        resolve_redirects)
    d = _t(spark, sf, "documents")
    chain = d.filter(F.col("doc_id") % 10 != 0).select(
        _u("u", F.col("doc_id")).alias("src"),
        _u("u", F.col("doc_id") - 1).alias("dst"))
    loops = d.filter(F.col("doc_id") % 100 == 0).select(
        _u("u", F.col("doc_id")).alias("src"),
        _u("u", F.col("doc_id") + 9).alias("dst"))
    return (resolve_redirects(chain.unionByName(loops), rounds=4)
            .orderBy("url"))


def _sitemap_frame(spark, sf):
    d = _t(spark, sf, "documents")
    block = F.concat(
        F.lit("<url><loc>https://h"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("/p"), F.col("doc_id").cast("string"), F.lit("</loc>"),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit("<lastmod>2026-01-"),
                        F.lpad(((F.col("doc_id") % 28) + 1)
                               .cast("string"), 2, "0"),
                        F.lit("</lastmod>"))).otherwise(F.lit("")),
        F.lit("</url>"))
    return (d.groupBy((F.col("doc_id") % 7).cast("string").alias("hn"))
            .agg(F.concat_ws("", F.sort_array(F.collect_list(block)))
                 .alias("sitemap_xml"))
            .select(F.concat(F.lit("h"), F.col("hn")).alias("host"),
                    "sitemap_xml"))


def _q164_sitemap_parse(spark, sf):
    # Distributed sitemap.xml parse (operators/webclean.py::
    # parse_sitemaps): </url> block split + shared RE2 loc/lastmod
    # extraction; odd ids omit <lastmod> (NULL), formats replayed by
    # the oracle on the identically-built xml bodies.
    from knowledgebase_processor_spark.operators.webclean import (
        parse_sitemaps)
    return parse_sitemaps(_sitemap_frame(spark, sf)).orderBy("host", "loc")


def _q165_sitemap_coverage(spark, sf):
    # Crawl-completeness report (operators/webclean.py::
    # sitemap_coverage): declared urls from the parsed q164 sitemaps,
    # crawl = every third page plus undeclared /extra urls on the
    # doc_id % 5 == 1 stratum (the orphan share).
    from knowledgebase_processor_spark.operators.webclean import (
        parse_sitemaps, sitemap_coverage)
    d = _t(spark, sf, "documents")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"))
    crawled = (d.filter(F.col("doc_id") % 3 == 0)
               .select(host.alias("host"),
                       F.concat(F.lit("https://h"),
                                (F.col("doc_id") % 7).cast("string"),
                                F.lit("/p"),
                                F.col("doc_id").cast("string"))
                       .alias("url"))
               .unionByName(
                   d.filter(F.col("doc_id") % 5 == 1)
                   .select(host.alias("host"),
                           F.concat(F.lit("https://h"),
                                    (F.col("doc_id") % 7).cast("string"),
                                    F.lit("/extra"),
                                    F.col("doc_id").cast("string"))
                           .alias("url"))))
    parsed = parse_sitemaps(_sitemap_frame(spark, sf))
    return sitemap_coverage(parsed, crawled).orderBy("host")


def _q166_politeness_schedule(spark, sf):
    # Crawl-frontier politeness dispatch (operators/frontier.py): one
    # row_number window per host (priority desc, url tie), per-host
    # Crawl-delay broadcast-joined (h0-h5 from policy, rest default).
    from knowledgebase_processor_spark.operators.frontier import (
        politeness_schedule)
    d = _t(spark, sf, "documents")
    f = d.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 11).cast("string"))
        .alias("host"),
        _u("u", F.col("doc_id")).alias("url"),
        (F.col("doc_id") % 17).cast("long").alias("priority"))
    delays = spark.range(6).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        ((F.col("id") + 1) * 250).cast("long").alias("delay_ms"))
    return (politeness_schedule(f, delays, default_delay_ms=1000)
            .orderBy("host", "slot"))


def _q167_entity_summaries(spark, sf):
    # Entity-card summarization (operators/kgquality.py::
    # entity_summaries): exact-ratio predicate informativeness, top-3
    # facts per subject via the capped window.  50 subjects x 20
    # predicates of varying rarity over the documents ids.
    from knowledgebase_processor_spark.operators.kgquality import (
        entity_summaries)
    d = _t(spark, sf, "documents")
    t = d.select(_u("e", F.col("doc_id") % 50).alias("subj"),
                 _u("p", F.col("doc_id") % 20).alias("pred"),
                 _u("o", F.col("doc_id")).alias("obj"))
    return entity_summaries(t, k=3).orderBy("subj", "rk")


def _q168_infer_types(spark, sf):
    # Predicate-domain type inference (operators/kgquality.py::
    # infer_types): untyped subjects vote via the broadcast
    # (pred, domain) schema, struct-max majority (votes, name desc).
    from knowledgebase_processor_spark.operators.kgquality import (
        infer_types)
    from knowledgebase_processor_spark.operators.rdfs import RDF_TYPE
    d = _t(spark, sf, "documents")
    usage = d.select(_u("e", F.col("doc_id") % 50).alias("subj"),
                     _u("p", F.col("doc_id") % 20).alias("pred"),
                     _u("o", F.col("doc_id")).alias("obj"))
    typed = (d.filter((F.col("doc_id") < 50)
                      & (F.col("doc_id") % 7 == 0))
             .select(_u("e", F.col("doc_id")).alias("subj"),
                     F.lit(RDF_TYPE).alias("pred"),
                     F.lit("Known").alias("obj")))
    schema = spark.range(20).select(
        _u("p", F.col("id")).alias("pred"),
        _u("C", F.col("id") % 5).alias("domain_cls"))
    return (infer_types(usage.unionByName(typed), schema)
            .orderBy("subj"))


def _q169_functional_conflicts(spark, sf):
    # Contradiction mining on near-functional predicates
    # (operators/kgquality.py::functional_conflicts): 'dob' is clean
    # except the doc_id % 40 == 1 stratum (double-asserted subjects);
    # 'tag' is wide fan-out and falls under the 0.9 functionality bar.
    from knowledgebase_processor_spark.operators.kgquality import (
        functional_conflicts)
    d = _t(spark, sf, "documents")
    dob = d.select(
        _u("e", F.floor(F.col("doc_id") / 2)).alias("subj"),
        F.lit("dob").alias("pred"),
        F.when(F.col("doc_id") % 40 == 1, _u("vX", F.col("doc_id")))
        .otherwise(_u("v", F.floor(F.col("doc_id") / 2))).alias("obj"))
    tag = d.select(_u("e", F.col("doc_id") % 25).alias("subj"),
                   F.lit("tag").alias("pred"),
                   _u("o", F.col("doc_id")).alias("obj"))
    return (functional_conflicts(dob.unionByName(tag))
            .orderBy("pred", "subj"))


def _q170_recrawl_schedule(spark, sf):
    # Cho/Garcia-Molina recrawl tiers (operators/recrawl.py): visit
    # history of 100 urls (visit k of url m changes its fingerprint
    # every (m%5)+1 visits), lag-window transition count, shared CASE
    # tier ladder.
    from knowledgebase_processor_spark.operators.recrawl import (
        change_rate_schedule)
    d = _t(spark, sf, "documents")
    snaps = d.selectExpr(
        "'u' || CAST(doc_id % 100 AS STRING) AS url",
        "CAST(doc_id AS BIGINT) AS warc_ts",
        "'f' || CAST((doc_id DIV 100) DIV ((doc_id % 5) + 1) AS STRING)"
        " AS fingerprint")
    return change_rate_schedule(snaps).orderBy("url")


def _q171_template_shingles(spark, sf):
    # Per-host template detection (operators/webclean.py::
    # host_template_shingles): planted per-source footer, 0.9 share
    # threshold keeps only the footer-internal shingles (natural
    # cross-page shingle share in the corpus maxes out at ~12%).
    from knowledgebase_processor_spark.operators.webclean import (
        host_template_shingles)
    d = _t(spark, sf, "documents")
    pages = d.selectExpr(
        "source AS host", "doc_id",
        "COALESCE(text, '') || ' kgp footer ' || source ||"
        " ' all rights reserved' AS text")
    return (host_template_shingles(pages, min_share_ppm=900_000)
            .orderBy("host", "shingle"))


def _q172_blocking_quality(spark, sf):
    # ER blocking-quality report (operators/blocking.py): two stacked
    # blocking passes (mod-40 key + div-20 key), gold pairs from the
    # +40 / +1 strata — the +1 pairs crossing a div-20 boundary are
    # the planted pair-completeness misses.
    from knowledgebase_processor_spark.operators.blocking import (
        blocking_quality)
    d = _t(spark, sf, "documents")
    blocks = d.selectExpr(
        "'b' || CAST(doc_id % 40 AS STRING) AS block_key",
        "'r' || CAST(doc_id AS STRING) AS record_id").unionByName(
        d.selectExpr(
            "'c' || CAST(doc_id DIV 20 AS STRING) AS block_key",
            "'r' || CAST(doc_id AS STRING) AS record_id"))
    ids = d.select("doc_id")
    other = ids.select(F.col("doc_id").alias("doc_id2"))
    g40 = (ids.filter(F.col("doc_id") % 3 == 0)
           .join(other, F.col("doc_id2") == F.col("doc_id") + 40)
           .selectExpr("'r' || CAST(doc_id AS STRING) AS rec_a",
                       "'r' || CAST(doc_id2 AS STRING) AS rec_b"))
    g1 = (ids.filter(F.col("doc_id") % 3 == 1)
          .join(other, F.col("doc_id2") == F.col("doc_id") + 1)
          .selectExpr("'r' || CAST(doc_id AS STRING) AS rec_a",
                      "'r' || CAST(doc_id2 AS STRING) AS rec_b"))
    return blocking_quality(blocks, g40.unionByName(g1))


def _q173_spearman(spark, sf):
    # Spearman rank agreement between two per-doc signals
    # (operators/corrstats.py): n_chars vs a deterministic pseudo-noise
    # signal, per source; row_number ranks (doc_id tie), exact d^2
    # sums, one shared-SQL rho rounding.
    from knowledgebase_processor_spark.operators.corrstats import (
        spearman_by_group)
    d = _t(spark, sf, "documents").selectExpr(
        "source", "doc_id",
        "CAST(n_chars AS DOUBLE) AS x",
        "CAST((doc_id * 37) % 101 AS DOUBLE) AS y")
    return (spearman_by_group(d, "source", "doc_id", "x", "y")
            .orderBy("source"))


def _q174_gini(spark, sf):
    # Gini concentration of the per-source character budget
    # (operators/corrstats.py::gini_by_group): sorted-index identity,
    # integer-exact end-to-end.
    from knowledgebase_processor_spark.operators.corrstats import (
        gini_by_group)
    d = _t(spark, sf, "documents")
    return gini_by_group(d, "source", "doc_id", "n_chars") \
        .orderBy("source")


def _q175_host_reciprocity(spark, sf):
    # Host-graph rollup + reciprocity (operators/hostgraph.py): page
    # links h_m -> h_{m^2 mod 13} (squaring map: non-invertible, so
    # only the 3<->9 orbit is mutual), rolled up then scored.
    from knowledgebase_processor_spark.operators.hostgraph import (
        host_link_graph, host_reciprocity)
    d = _t(spark, sf, "documents")
    links = d.selectExpr(
        "'h' || CAST(doc_id % 13 AS STRING) AS src_host",
        "'h' || CAST((doc_id * doc_id) % 13 AS STRING) AS dst_host",
        "'p' || CAST(doc_id % 50 AS STRING) AS src_page")
    return host_reciprocity(host_link_graph(links)).orderBy("host")


def _q176_shacl_cardinality(spark, sf):
    # SHACL-lite min/max-count validation (operators/shacl.py::
    # cardinality_report): 60 instances over 3 classes, 'name'
    # asserted on even ids (bounded 1..4), 'email' required on C0.
    from knowledgebase_processor_spark.operators.rdfs import RDF_TYPE
    from knowledgebase_processor_spark.operators.shacl import (
        cardinality_report)
    d = _t(spark, sf, "documents")
    types = d.select(_u("e", F.col("doc_id") % 60).alias("subj"),
                     F.lit(RDF_TYPE).alias("pred"),
                     _u("C", F.col("doc_id") % 60 % 3).alias("obj")) \
        .distinct()
    names = d.filter(F.col("doc_id") % 2 == 0).select(
        _u("e", F.col("doc_id") % 60).alias("subj"),
        F.lit("name").alias("pred"), _u("n", F.col("doc_id")).alias("obj"))
    emails = d.filter(F.col("doc_id") % 7 == 0).select(
        _u("e", F.col("doc_id") % 60).alias("subj"),
        F.lit("email").alias("pred"),
        _u("x", F.col("doc_id")).alias("obj"))
    shapes = spark.createDataFrame(
        [("C0", "name", 1, 4), ("C1", "name", 1, 4),
         ("C2", "name", 1, 4), ("C0", "email", 1, None)],
        "cls string, pred string, min_count int, max_count int")
    t = types.unionByName(names).unionByName(emails)
    return cardinality_report(t, shapes).orderBy("cls", "pred")


def _q177_fact_lifespan(spark, sf):
    # Temporal fact lifespan over crawl snapshots (operators/shacl.py::
    # fact_lifespan): 150 facts observed across DIV-25 snapshot waves;
    # is_current = seen in the corpus-max wave.
    from knowledgebase_processor_spark.operators.shacl import (
        fact_lifespan)
    d = _t(spark, sf, "documents")
    obs = d.select(_u("s", F.col("doc_id") % 25).alias("subj"),
                   _u("p", F.col("doc_id") % 2).alias("pred"),
                   _u("o", F.col("doc_id") % 75).alias("obj"),
                   F.floor(F.col("doc_id") / 25).cast("long")
                   .alias("warc_ts"))
    return fact_lifespan(obs).orderBy("subj", "pred", "obj")


def _q178_property_graph_nodes(spark, sf):
    # Property-graph node export (operators/shacl.py::
    # property_graph_nodes): literal props fold into the sorted
    # byte-stable props string, URI objects counted as out-edges.
    from knowledgebase_processor_spark.operators.shacl import (
        property_graph_nodes)
    d = _t(spark, sf, "documents")
    t = d.select(_u("e", F.col("doc_id") % 30).alias("subj"),
                 _u("p", F.col("doc_id") % 5).alias("pred"),
                 _u("v", F.col("doc_id")).alias("obj"),
                 (F.col("doc_id") % 3 == 0).alias("obj_is_uri"))
    return property_graph_nodes(t).orderBy("subj")


def _q179_crawl_traps(spark, sf):
    # URL-space trap detector (operators/crawlhealth.py::
    # crawl_trap_report): every third url is a query permutation of one
    # /cal path (the calendar-trap shape), the rest are real articles.
    from knowledgebase_processor_spark.operators.crawlhealth import (
        crawl_trap_report)
    d = _t(spark, sf, "documents")
    pages = d.selectExpr(
        "'h' || CAST(doc_id % 9 AS STRING) AS host",
        "CASE WHEN doc_id % 3 = 0 THEN"
        " 'https://h' || (doc_id % 9) || '/cal?d=' || doc_id"
        " ELSE 'https://h' || (doc_id % 9) || '/p' || doc_id END AS url")
    return crawl_trap_report(pages, min_urls=10).orderBy("host")


def _q180_soft404(spark, sf):
    # Soft-404 gate (operators/crawlhealth.py::soft404_report): the
    # doc_id % 11 == 0 stratum is replaced by a short error template,
    # % 11 == 1 gets the phrase PREPENDED to a real article (long ->
    # phrase without flag), shared regex + length bound.
    from knowledgebase_processor_spark.operators.crawlhealth import (
        soft404_report)
    d = _t(spark, sf, "documents")
    pages = d.selectExpr(
        "doc_id", "source AS host",
        "CASE WHEN doc_id % 11 = 0 THEN 'Sorry - page not found.'"
        " WHEN doc_id % 11 = 1 THEN '404 error ' || COALESCE(text, '')"
        " ELSE text END AS text")
    return soft404_report(pages).orderBy("doc_id")


def _q181_lang_mismatch(spark, sf):
    # Metadata-vs-content language audit (operators/crawlhealth.py::
    # lang_mismatch_report): declared `lang` column vs the shared
    # stopword-vote language ID, per source host.
    from knowledgebase_processor_spark.operators.crawlhealth import (
        lang_mismatch_report)
    d = _t(spark, sf, "documents")
    pages = d.select(F.col("source").alias("host"), "lang", "text")
    return lang_mismatch_report(pages).orderBy("host")


def _q182_ifp_candidates(spark, sf):
    # Inverse-functional-property ER candidates (operators/sameas.py::
    # ifp_sameas_candidates): adjacent ids share an email (all pairs)
    # and, on the doc_id % 4 < 2 stratum, a homepage too (n_evidence 2);
    # the all-shared 'tag' predicate fails the IFP bar.
    from knowledgebase_processor_spark.operators.sameas import (
        ifp_sameas_candidates)
    d = _t(spark, sf, "documents")
    email = d.select(_u("e", F.col("doc_id")).alias("subj"),
                     F.lit("email").alias("pred"),
                     _u("m", F.col("doc_id") - F.col("doc_id") % 2)
                     .alias("obj"))
    home = d.filter(F.col("doc_id") % 4 < 2).select(
        _u("e", F.col("doc_id")).alias("subj"),
        F.lit("homepage").alias("pred"),
        _u("h", F.col("doc_id") - F.col("doc_id") % 2).alias("obj"))
    tag = d.select(_u("e", F.col("doc_id")).alias("subj"),
                   F.lit("tag").alias("pred"), F.lit("news").alias("obj"))
    t = email.unionByName(home).unionByName(tag)
    return (ifp_sameas_candidates(t, min_inv_functionality_ppm=500_000)
            .orderBy("subj_a", "subj_b"))


def _q183_fuse_facts(spark, sf):
    # Weighted truth discovery (operators/fusion.py::fuse_facts): four
    # sources with trust 1..4 assert rotating objects; highest summed
    # trust wins, ties by recency then object.
    from knowledgebase_processor_spark.operators.fusion import fuse_facts
    d = _t(spark, sf, "documents")
    obs = d.select(_u("e", F.col("doc_id") % 50).alias("subj"),
                   _u("p", F.col("doc_id") % 2).alias("pred"),
                   _u("v", F.col("doc_id") % 3).alias("obj"),
                   _u("src", F.col("doc_id") % 4).alias("source"),
                   F.col("doc_id").cast("long").alias("warc_ts"))
    trust = spark.range(4).select(
        _u("src", F.col("id")).alias("source"),
        (F.col("id") + 1).cast("long").alias("weight"))
    return fuse_facts(obs, trust).orderBy("subj", "pred")


def _q184_robots_compliance(spark, sf):
    # Distributed robots compliance (operators/urlrules.py::
    # apply_robots): per-host rule frames with an allow carve-out
    # inside a disallowed subtree, longest-prefix-match-wins.
    from knowledgebase_processor_spark.operators.urlrules import (
        apply_robots)
    d = _t(spark, sf, "documents")
    crawl = d.selectExpr(
        "'h' || CAST(doc_id % 5 AS STRING) AS host",
        "'u' || CAST(doc_id AS STRING) AS url",
        "CASE doc_id % 4"
        " WHEN 0 THEN '/a/x' || doc_id"
        " WHEN 1 THEN '/a/pub/p' || doc_id"
        " WHEN 2 THEN '/b/q' || doc_id"
        " ELSE '/open/' || doc_id END AS path")
    rule_rows = []
    for h in range(5):
        rule_rows += [(f"h{h}", "*", False, "/a"),
                      (f"h{h}", "*", True, "/a/pub")]
        if h % 2 == 0:
            rule_rows.append((f"h{h}", "*", False, "/b"))
    rules = spark.createDataFrame(
        rule_rows, "host string, agent string, allow boolean, path string")
    return apply_robots(crawl, rules).orderBy("url")


def _q185_readability(spark, sf):
    # Flesch readability (operators/textstats.py): portable tokenizer,
    # vowel-run syllables, shared micro-quantized formula.
    from knowledgebase_processor_spark.operators.textstats import (
        readability_report)
    d = _t(spark, sf, "documents")
    return readability_report(d).orderBy("doc_id")


def _q186_edit_distance(spark, sf):
    # Levenshtein pair verification (operators/dedup.py::
    # edit_distance_pairs): each doc's 200-char prefix paired with a
    # planted twin (identical / ' edited' suffix / ' x' suffix by
    # stratum), exact distances + length-normalized ppm.
    from knowledgebase_processor_spark.operators.dedup import (
        edit_distance_pairs)
    d = _t(spark, sf, "documents")
    base = d.selectExpr(
        "doc_id", "substring(COALESCE(text, ''), 1, 200) AS text")
    twin = d.selectExpr(
        "doc_id + 1000000 AS doc_id",
        "substring(COALESCE(text, ''), 1, 200) ||"
        " CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN ' edited'"
        " ELSE ' x' END AS text")
    cands = d.selectExpr("doc_id AS doc_a",
                         "doc_id + 1000000 AS doc_b")
    return (edit_distance_pairs(base.unionByName(twin), cands,
                                max_dist=10)
            .orderBy("doc_a"))


def _q187_l_diversity(spark, sf):
    # l-diversity privacy audit (operators/kanon.py::
    # l_diversity_report): QI = (source, lang), sensitive = a 7-way
    # synthetic attribute; the k-anonymity companion gate.
    from knowledgebase_processor_spark.operators.kanon import (
        l_diversity_report)
    d = _t(spark, sf, "documents").selectExpr(
        "source", "lang", "'s' || CAST(doc_id % 7 AS STRING) AS diag")
    return (l_diversity_report(d, ["source", "lang"], "diag", ls=[3, 7])
            .orderBy("l"))


def _q188_welch_ttest(spark, sf):
    # Welch's unequal-variance t-test (operators/inference.py): does
    # the 'en' slice have a different mean page length?  One
    # conditional-agg pass; exact BIGINT moments, shared float formula.
    from knowledgebase_processor_spark.operators.inference import (
        welch_ttest)
    d = _t(spark, sf, "documents")
    return welch_ttest(d.withColumn("is_en", F.col("lang") == "en"),
                       "n_chars", "is_en")


def _q189_chi_square_drift(spark, sf):
    # Chi-square homogeneity of the language mix between two crawl
    # halves (doc_id parity as the snapshot key); per-lang nano-
    # quantized contributions sum to an order-proof BIGINT statistic.
    from knowledgebase_processor_spark.operators.inference import (
        chi_square_drift)
    d = _t(spark, sf, "documents")
    return (chi_square_drift(d.withColumn("half", F.expr("doc_id % 2")),
                             "lang", "half")
            .orderBy("cat"))


def _q190_poisson_bootstrap(spark, sf):
    # Poisson bootstrap of mean page length (operators/inference.py):
    # B=32 resamples in ONE scan via portable salted-md5 Poisson(1)
    # weights — the web-scale bootstrap; DuckDB replays every draw.
    from knowledgebase_processor_spark.operators.inference import (
        poisson_bootstrap_mean)
    d = _t(spark, sf, "documents")
    return (poisson_bootstrap_mean(d, "doc_id", "n_chars", 32)
            .orderBy("b"))


def _q191_auc(spark, sf):
    # Tie-aware rank-sum ROC AUC (operators/inference.py): does page
    # length separate English pages?  Distinct-score-bin reduction
    # first, ENTIRELY integer arithmetic end-to-end.
    from knowledgebase_processor_spark.operators.inference import (
        binned_auc)
    d = _t(spark, sf, "documents")
    return binned_auc(
        d.selectExpr("n_chars DIV 16 AS score_bin",
                     "lang = 'en' AS is_en"),
        "score_bin", "is_en")


_Q192_TRIPLES_SQL = """
    SELECT 'p' || CAST(doc_id AS {S}) AS subj, 'worksAt' AS pred,
           'o' || CAST(doc_id % 40 AS {S}) AS obj FROM documents
    UNION ALL
    SELECT 'o' || CAST(doc_id % 40 AS {S}), 'locatedIn',
           'c' || CAST((doc_id % 40) % 8 AS {S}) FROM documents
    UNION ALL
    SELECT 'p' || CAST(doc_id AS {S}), 'basedIn',
           'c' || CAST((doc_id % 40) % 8 AS {S}) FROM documents
    WHERE doc_id % 5 <> 0
    UNION ALL
    SELECT 'p' || CAST(doc_id AS {S}), 'livesIn',
           'c' || CAST((doc_id % 40) % 8 AS {S}) FROM documents
    WHERE doc_id % 3 <> 0
    UNION ALL
    SELECT 'c' || CAST((doc_id % 40) % 8 AS {S}), 'cityIn',
           'n' || CAST(((doc_id % 40) % 8) % 2 AS {S}) FROM documents
    UNION ALL
    SELECT 'p' || CAST(doc_id AS {S}), 'citizenOf',
           'n' || CAST(((doc_id % 40) % 8) % 2 AS {S}) FROM documents
    WHERE doc_id % 7 <> 0
    UNION ALL
    SELECT 'p' || CAST(doc_id AS {S}), 'cites',
           'p' || CAST(doc_id + 1 AS {S}) FROM documents"""


def _q192_rule_mining(spark, sf):
    # AMIE-lite path-rule mining (operators/rulemine.py) over a
    # synthetic org KG: worksAt ∧ locatedIn ⇒ basedIn holds at 80%
    # confidence by construction; cites is the noise predicate.
    from knowledgebase_processor_spark.operators.rulemine import (
        mine_path_rules)
    _t(spark, sf, "documents").createOrReplaceTempView("documents")
    t = spark.sql(_Q192_TRIPLES_SQL.format(S="STRING"))
    return (mine_path_rules(t, min_support=2, max_fanout=None)
            .orderBy("p1", "p2", "p3"))


def _q193_embedding_covariance(spark, sf):
    # Distributed PCA prep (operators/covariance.py): micro-quantized
    # upper-triangle second moments of the first 16 embedding dims —
    # one partial-agg pass, integer-exact until the shared float step.
    from knowledgebase_processor_spark.operators.covariance import (
        embedding_covariance)
    e = _t(spark, sf, "embeddings")
    return embedding_covariance(e, "embedding", dims=16).orderBy("i", "j")


def _q194_scc(spark, sf):
    # Redirect-ring detection via strongly connected components
    # (operators/scc.py, Orzan forward-coloring): synthetic host graph
    # of 5-node rings (even groups) and chains (odd groups) with
    # forward cross edges; rings resolve to their max member.
    from knowledgebase_processor_spark.operators.scc import (
        strongly_connected_components)
    nodes = (_t(spark, sf, "documents")
             .selectExpr("doc_id DIV 10 AS k").distinct())
    cand = nodes.selectExpr(
        "k AS src",
        "CASE WHEN (k DIV 5) % 2 = 0"
        " THEN (k DIV 5) * 5 + ((k % 5) + 1) % 5"
        " WHEN k % 5 < 4 THEN k + 1 ELSE NULL END AS dst")
    cross = nodes.filter("k % 5 = 4").selectExpr("k AS src",
                                                 "k + 1 AS dst")
    edges = (cand.unionByName(cross)
             .filter(F.col("dst").isNotNull())
             .join(nodes.selectExpr("k AS dst"), "dst", "left_semi"))
    return strongly_connected_components(edges).orderBy("node")


def _q195_hreflang_clusters(spark, sf):
    # hreflang translation clusters (operators/hreflang.py): CC over
    # a partial alternate-chain graph (groups of 4 language variants),
    # rolled up to per-cluster size + distinct-language profiles.
    from knowledgebase_processor_spark.operators.hreflang import (
        translation_clusters)
    d = _t(spark, sf, "documents")
    pages = d.selectExpr("'u' || CAST(doc_id AS STRING) AS url", "lang")
    edges = (d.alias("a").join(
        d.selectExpr("doc_id AS nxt").alias("b"),
        F.expr("b.nxt = a.doc_id + 1 AND"
               " a.doc_id DIV 4 = (a.doc_id + 1) DIV 4"))
        .selectExpr("'u' || CAST(a.doc_id AS STRING) AS src",
                    "'u' || CAST(a.doc_id + 1 AS STRING) AS dst"))
    return (translation_clusters(edges, pages)
            .orderBy("cluster"))


def _q196_token_fertility(spark, sf):
    # Tokenizer fertility by language (operators/textstats.py):
    # bytes/chars per subword token, exact integer ppm — the
    # multilingual data-card companion to q11/q135.
    from knowledgebase_processor_spark.operators.textstats import (
        token_fertility)
    return token_fertility(_t(spark, sf, "documents")).orderBy("lang")


def _q197_hilbert_layout(spark, sf):
    # Hilbert-curve layout index (operators/hilbert.py): the SAME
    # generated chained-CTE SQL text runs verbatim on Spark here and
    # on DuckDB as the oracle — bit-level parity by construction.
    from knowledgebase_processor_spark.operators.hilbert import (
        hilbert_sql)
    _t(spark, sf, "documents").createOrReplaceTempView("documents")
    return spark.sql(hilbert_sql("documents", "doc_id",
                                 "doc_id % 256", "(doc_id * 7) % 256"))


def _q198_ktruss(spark, sf):
    # 4-truss of a synthetic link graph (operators/ktruss.py): K5
    # cliques (even groups) survive, chains and cross links peel away.
    from knowledgebase_processor_spark.operators.ktruss import ktruss
    nodes = (_t(spark, sf, "documents")
             .selectExpr("doc_id DIV 20 AS k").distinct())
    clique = (nodes.alias("a").join(
        nodes.alias("b"),
        F.expr("a.k DIV 5 = b.k DIV 5 AND a.k < b.k"
               " AND (a.k DIV 5) % 2 = 0"))
        .selectExpr("a.k AS src", "b.k AS dst"))
    chain = nodes.filter("(k DIV 5) % 2 = 1 AND k % 5 < 4") \
        .selectExpr("k AS src", "k + 1 AS dst")
    cross = nodes.filter("k % 5 = 4").selectExpr("k AS src",
                                                 "k + 1 AS dst")
    edges = (clique.unionByName(chain).unionByName(cross)
             .join(nodes.selectExpr("k AS dst"), "dst", "left_semi"))
    return ktruss(edges, k=4).orderBy("a", "b")


def _q199_robust_outliers(spark, sf):
    # Median/MAD robust outlier report per source
    # (operators/robust.py): exact interpolated percentiles shared
    # with DuckDB's quantile_cont, integer micro deviations.
    from knowledgebase_processor_spark.operators.robust import (
        robust_outliers)
    d = _t(spark, sf, "documents")
    return robust_outliers(d, "source", "n_chars").orderBy("source")


def _q200_rule_inference(spark, sf):
    # AMIE prediction step (operators/rulemine.py::apply_rules): mine
    # rules at conf >= 0.6, emit body instantiations whose head is
    # not yet asserted — rule-based KB completion over the q192 KG.
    from knowledgebase_processor_spark.operators.rulemine import (
        apply_rules, mine_path_rules)
    _t(spark, sf, "documents").createOrReplaceTempView("documents")
    t = spark.sql(_Q192_TRIPLES_SQL.format(S="STRING"))
    rules = mine_path_rules(t, min_support=2, max_fanout=None)
    return (apply_rules(t, rules, min_conf_ppm=600000, max_fanout=None)
            .orderBy("subj", "pred", "obj", "p1", "p2"))


_Q201_EDGES_SQL = """
    SELECT 'd' || CAST(doc_id AS {S}) AS src,
           't' || CAST(doc_id % 37 AS {S}) AS dst FROM documents
    UNION ALL
    SELECT 'd' || CAST(doc_id AS {S}),
           't' || CAST((doc_id + 5) % 37 AS {S}) FROM documents
    UNION ALL
    SELECT 'd' || CAST(doc_id AS {S}),
           't' || CAST((doc_id * 3) % 37 AS {S}) FROM documents"""


def _q201_cocitation(spark, sf):
    # Co-citation pair counts (operators/cocite.py): targets cited
    # together by the same pages; the pre-PageRank structural
    # similarity signal, hub-capped like the rule-mining body join.
    from knowledgebase_processor_spark.operators.cocite import (
        cocitation_pairs)
    _t(spark, sf, "documents").createOrReplaceTempView("documents")
    e = spark.sql(_Q201_EDGES_SQL.format(S="STRING"))
    return cocitation_pairs(e, max_fanout=None).orderBy("a", "b")


def _q202_zonemap_pruning(spark, sf):
    # Zone-map pruning effectiveness (operators/zonemap.py): the
    # measured payoff of q197's Hilbert layout vs natural and
    # value-sorted orders, for a range predicate on v = doc_id % 256.
    from knowledgebase_processor_spark.operators.hilbert import (
        hilbert_index)
    from knowledgebase_processor_spark.operators.zonemap import (
        zonemap_pruning)
    d = _t(spark, sf, "documents").selectExpr(
        "doc_id", "doc_id % 256 AS v", "(doc_id DIV 256) % 256 AS y")
    h = hilbert_index(d, "v", "y")
    nat = zonemap_pruning(d, "a_natural", "doc_id", "doc_id", "v",
                          32, 63)
    val = zonemap_pruning(d, "b_value", "v", "doc_id", "v", 32, 63)
    hil = zonemap_pruning(h, "c_hilbert", "hilbert", "doc_id", "v",
                          32, 63)
    return nat.unionByName(val).unionByName(hil).orderBy("layout")


def _q203_conformal(spark, sf):
    # Split-conformal gate calibration (operators/conformal.py):
    # distribution-free 90% coverage threshold from the even-doc
    # calibration slice, empirical coverage on the odd-doc test slice.
    from knowledgebase_processor_spark.operators.conformal import (
        conformal_report)
    d = _t(spark, sf, "documents").selectExpr(
        "doc_id", "n_chars % 499 AS s")
    cal = d.filter("doc_id % 2 = 0")
    test = d.filter("doc_id % 2 = 1")
    return conformal_report(cal, test, "s", alpha_ppm=100000)


def _q204_dp_counts(spark, sf):
    # ε-DP noisy per-language counts (operators/dp.py): discrete
    # Laplace from portable salted-md5 geometrics — the release an
    # auditor can replay bit-exactly (oracle does).
    from knowledgebase_processor_spark.operators.dp import (
        dp_group_counts)
    d = _t(spark, sf, "documents")
    return dp_group_counts(d, "lang", epsilon_micro=500000).orderBy("lang")


def _q205_neyman_allocation(spark, sf):
    # Neyman labeling-budget allocation (operators/allocation.py):
    # B=100 labels across sources ∝ N_h·σ_h of page length, Hamilton
    # largest-remainder rounding summing to B exactly.
    from knowledgebase_processor_spark.operators.allocation import (
        neyman_allocation)
    d = _t(spark, sf, "documents")
    return (neyman_allocation(d, "source", "n_chars", budget=100)
            .orderBy("stratum"))


def _q206_wordpiece(spark, sf):
    # WordPiece greedy segmentation (operators/wordpiece.py): Arrow-
    # batched mapInPandas with broadcast vocab; per-language tokenizer
    # health report.  Oracle: VALUES pinned from the PURE-PYTHON
    # reference over the sf0.01 parquet (independent implementation).
    from knowledgebase_processor_spark.operators.wordpiece import (
        wordpiece_lang_report)
    d = _t(spark, sf, "documents")
    return wordpiece_lang_report(d).orderBy("lang")


_Q207_EDGES_SQL = """
    SELECT doc_id AS src, doc_id + 1 AS dst FROM documents
    WHERE doc_id + 1 IN (SELECT doc_id FROM documents)
    UNION ALL
    SELECT doc_id, doc_id + 7 FROM documents
    WHERE doc_id + 7 IN (SELECT doc_id FROM documents)
    UNION ALL
    SELECT doc_id, (doc_id * 13) % 256 FROM documents
    WHERE (doc_id * 13) % 256 IN (SELECT doc_id FROM documents)"""

# shared verbatim by Spark and DuckDB (|| stringifies ints identically)
_Q209_URL_SQL = """CASE doc_id % 4
    WHEN 0 THEN 'https://www.ex' || (doc_id % 7) || '.co.uk/p' || doc_id
    WHEN 1 THEN 'https://u' || (doc_id % 5) || '.github.io/x'
    WHEN 2 THEN 'https://blog.site' || (doc_id % 3) || '.com/a'
    ELSE CASE WHEN doc_id % 11 = 0 THEN 'https://com/x'
         ELSE 'https://news.portal' || (doc_id % 2) || '.de/y' END
    END"""


def _q207_lang_homophily(spark, sf):
    # Categorical assortativity of page language over a synthetic link
    # graph (operators/graphmetrics.py::categorical_homophily): does
    # the crawl link within languages?  Exact mixing-matrix integers.
    from knowledgebase_processor_spark.operators.graphmetrics import (
        categorical_homophily)
    _t(spark, sf, "documents").createOrReplaceTempView("documents")
    e = spark.sql(_Q207_EDGES_SQL)
    labels = spark.sql("SELECT doc_id AS node, lang AS cat"
                       " FROM documents")
    return categorical_homophily(e, labels)


def _q208_cms_heavy_change(spark, sf):
    # Heavy-change detection between crawl halves (operators/heavy.py
    # ::heavy_change): host mix shifts from mod-50 to mod-60 — CMS
    # grids built with the portable md5 family, DuckDB replays cells.
    from knowledgebase_processor_spark.operators.heavy import (
        heavy_change)
    d = _t(spark, sf, "documents")
    a = d.filter("doc_id % 2 = 0").selectExpr(
        "'h' || CAST(doc_id % 50 AS STRING) AS v")
    b = d.filter("doc_id % 2 = 1").selectExpr(
        "'h' || CAST(doc_id % 60 AS STRING) AS v")
    return heavy_change(a, b, "v", min_change=3).orderBy("v")


def _q209_sites(spark, sf):
    # Registrable-domain (eTLD+1) rollup (operators/psl.py): PSL
    # longest-match ladder — news.bbc.co.uk-style hosts fold to one
    # site, user{n}.github.io stay distinct, bare suffixes go NULL.
    from knowledgebase_processor_spark.operators.psl import site_rollup
    d = _t(spark, sf, "documents")
    pages = d.selectExpr(f"({_Q209_URL_SQL}) AS url")
    return site_rollup(pages).orderBy(F.col("site").asc_nulls_first())


# shared verbatim by Spark and DuckDB: per-pair boolean agreement
# flags for the Fellegi-Sunter EM — doc_id%3=0 rows are planted
# matches (flags mostly true), the rest non-matches (mostly false).
_Q212_PAIRS_SQL = """
    SELECT (CASE WHEN doc_id % 3 = 0 THEN doc_id % 17 <> 0
            ELSE doc_id % 13 = 0 END) AS g1,
           (CASE WHEN doc_id % 3 = 0 THEN doc_id % 5 <> 0
            ELSE doc_id % 11 = 0 END) AS g2,
           (CASE WHEN doc_id % 3 = 0 THEN doc_id % 7 <> 0
            ELSE doc_id % 19 = 0 END) AS g3
    FROM documents"""


def _q210_bowtie(spark, sf):
    # Broder bowtie decomposition (operators/bowtie.py): planted
    # 10-node bowties (IN chain -> 5-ring core -> OUT chain) per
    # group; the globally largest core (tie-broken min rep) labels
    # group 0, everything else is 'other'.
    from knowledgebase_processor_spark.operators.bowtie import bowtie
    nodes = (_t(spark, sf, "documents")
             .selectExpr("doc_id DIV 20 AS k").distinct())
    cand = nodes.selectExpr(
        "k AS src",
        "CASE WHEN k % 10 <= 6 OR k % 10 = 8 THEN k + 1"
        " WHEN k % 10 = 7 THEN k + 1 ELSE NULL END AS dst")
    close = nodes.filter("k % 10 = 7").selectExpr(
        "k AS src", "(k DIV 10) * 10 + 3 AS dst")
    edges = (cand.unionByName(close)
             .filter(F.col("dst").isNotNull())
             .join(nodes.selectExpr("k AS dst"), "dst", "left_semi"))
    return bowtie(edges).orderBy("node")


def _q211_keyness(spark, sf):
    # Monroe log-odds keyness (operators/keyness.py): which terms
    # characterize the English slice vs the rest, Dirichlet-shrunk.
    from knowledgebase_processor_spark.operators.keyness import keyness
    d = _t(spark, sf, "documents")
    return (keyness(d.filter("lang = 'en'"), d.filter("lang <> 'en'"),
                    min_count=5)
            .orderBy("term"))


def _q212_fs_em(spark, sf):
    # Fellegi-Sunter EM (operators/fs.py): unsupervised m/u/π over
    # agreement-pattern counts — the generated unrolled-EM SQL text
    # runs verbatim here and as the DuckDB oracle.
    from knowledgebase_processor_spark.operators.fs import fs_em_sql
    _t(spark, sf, "documents").createOrReplaceTempView("documents")
    return spark.sql(fs_em_sql(_Q212_PAIRS_SQL, k=3, iters=3))


_Q213_TX_SQL = """
    SELECT doc_id AS doc, 'a' || (doc_id % 5) AS item FROM documents
    UNION ALL SELECT doc_id, 'b' || (doc_id % 3) FROM documents
    UNION ALL SELECT doc_id, 'x' FROM documents WHERE doc_id % 2 = 0
    UNION ALL SELECT doc_id, 'y' FROM documents WHERE doc_id % 2 = 0
    UNION ALL SELECT doc_id, 'z' FROM documents WHERE doc_id % 4 = 0"""


def _q213_itemsets(spark, sf):
    # A-priori frequent triples (operators/itemsets.py): staged
    # L1/L2/C3 pruning — anti-monotonicity, not brute force.
    from knowledgebase_processor_spark.operators.itemsets import (
        frequent_triples)
    _t(spark, sf, "documents").createOrReplaceTempView("documents")
    tx = spark.sql(_Q213_TX_SQL)
    return (frequent_triples(tx, min_support=20, max_items=None)
            .orderBy("i1", "i2", "i3"))


def _q214_bowtie_full(spark, sf):
    # Complete Broder taxonomy (operators/bowtie.py::bowtie_full):
    # planted 15-position groups — IN chain, 5-ring core, OUT chain,
    # a tube bypassing the core, two tendrils, a disconnected islet;
    # only group 0 (minimal-rep largest core) gets non-disconnected
    # labels, every other group is seed-list gap by construction.
    from knowledgebase_processor_spark.operators.bowtie import (
        bowtie_full)
    nodes = (_t(spark, sf, "documents")
             .selectExpr("doc_id DIV 10 AS k").distinct())
    chain = nodes.filter(
        "k % 15 <= 8 OR k % 15 = 13").selectExpr("k AS src",
                                                 "k + 1 AS dst")
    extra = (nodes.filter("k % 15 = 7")
             .selectExpr("k AS src", "(k DIV 15) * 15 + 3 AS dst")
             .unionByName(nodes.filter("k % 15 = 1").selectExpr(
                 "k AS src", "(k DIV 15) * 15 + 10 AS dst"))
             .unionByName(nodes.filter("k % 15 = 10").selectExpr(
                 "k AS src", "(k DIV 15) * 15 + 8 AS dst"))
             .unionByName(nodes.filter("k % 15 = 2").selectExpr(
                 "k AS src", "(k DIV 15) * 15 + 11 AS dst"))
             .unionByName(nodes.filter("k % 15 = 12").selectExpr(
                 "k AS src", "(k DIV 15) * 15 + 8 AS dst")))
    edges = (chain.unionByName(extra)
             .join(nodes.selectExpr("k AS dst"), "dst", "left_semi"))
    return bowtie_full(edges).orderBy("node")


def _q215_kcenter(spark, sf):
    # Gonzalez k-center coreset (operators/kcenter.py): k=8 spread-
    # maximizing picks over the first 16 embedding dims; integer
    # milli-quantized distances, deterministic tie-breaks.  Oracle:
    # VALUES pinned from the pure-Python reference (sf0.01).
    from knowledgebase_processor_spark.operators.kcenter import (
        kcenter_select)
    e = _t(spark, sf, "embeddings")
    picked = kcenter_select(e, k=8, dims=16)
    return spark.createDataFrame(
        [(int(v), int(d)) for v, d in picked], "vid long, d long")


def _q216_ewma_drift(spark, sf):
    # Integer-stepped EWMA drift per user (operators/ewma.py): the
    # batch twin of a stateful-streaming detector; DuckDB replays the
    # recurrence with a recursive CTE — exact, no floats anywhere.
    from knowledgebase_processor_spark.operators.ewma import (
        ewma_drift_report)
    ev = _t(spark, sf, "events").selectExpr(
        "user_id", "ts", "event_id", "event_id % 1000 AS x")
    return (ewma_drift_report(ev, "user_id", "ts", "event_id", "x")
            .orderBy("user_id"))


_Q217_EDGES_SQL = """
    SELECT doc_id AS src, doc_id + 1 AS dst FROM documents
    WHERE doc_id % 10 < 9
      AND doc_id + 1 IN (SELECT doc_id FROM documents)
    UNION ALL
    SELECT doc_id, doc_id - 9 FROM documents WHERE doc_id % 20 = 9"""

_Q218_EDGES_SQL = """
    SELECT a.doc_id AS src, b.doc_id AS dst
    FROM documents a JOIN documents b
      ON a.doc_id < b.doc_id AND b.doc_id < 12
     AND ((a.doc_id < 6 AND b.doc_id < 6)
          OR (a.doc_id >= 6 AND b.doc_id >= 6))
    UNION ALL
    SELECT 5, 6 FROM documents WHERE doc_id = 0"""

_Q218_SCORES_SQL = ("SELECT doc_id AS node, -doc_id AS score"
                    " FROM documents WHERE doc_id < 12")


def _q217_wl_colors(spark, sf):
    # 1-WL color refinement (operators/wl.py): rings (even groups,
    # all-symmetric -> one color) vs open chains (color classes by
    # distance to the ends); portable sorted-multiset md5 colors.
    from knowledgebase_processor_spark.operators.wl import (
        wl_colors, wl_histogram)
    _t(spark, sf, "documents").createOrReplaceTempView("documents")
    e = spark.sql(_Q217_EDGES_SQL)
    return (wl_histogram(wl_colors(e, rounds=3, max_degree=None))
            .orderBy("color"))


def _q218_conductance_sweep(spark, sf):
    # ACL conductance sweep (operators/conductance.py): two 6-cliques
    # joined by one bridge; sweeping the node order finds the bridge
    # cut (phi = 1/31 at rank 6) — local community detection's
    # evaluation half.
    from knowledgebase_processor_spark.operators.conductance import (
        conductance_sweep)
    _t(spark, sf, "documents").createOrReplaceTempView("documents")
    e = spark.sql(_Q218_EDGES_SQL)
    s = spark.sql(_Q218_SCORES_SQL)
    return conductance_sweep(e, s).orderBy("rank")


def _q219_ucb_recrawl(spark, sf):
    # UCB1 crawl-probe priorities (operators/ucb.py): change-rate
    # mean + optimism bonus from a synthetic probe log (each doc = one
    # probe of host doc_id%25, changed when doc_id%3=0).
    from knowledgebase_processor_spark.operators.ucb import ucb_scores
    d = _t(spark, sf, "documents")
    probes = d.selectExpr("'h' || CAST(doc_id % 25 AS STRING) AS host",
                          "doc_id % 3 = 0 AS changed")
    return ucb_scores(probes).orderBy("host")


def _q220_incremental_cc(spark, sf):
    # Delta-maintained connected components (operators/components.py
    # ::incremental_components): yesterday's chain-of-4 assignment +
    # today's pair-joining edges resolve to chains of 8, touching
    # only the delta's components; equals a full re-run bit-for-bit.
    from knowledgebase_processor_spark.operators.components import (
        incremental_components)
    nodes = (_t(spark, sf, "documents")
             .selectExpr("doc_id DIV 25 AS k").distinct())
    old_edges = (nodes.filter("k % 4 < 3")
                 .selectExpr("k AS src", "k + 1 AS dst")
                 .join(nodes.selectExpr("k AS dst"), "dst", "left_semi"))
    assignment = nodes.selectExpr("k AS node",
                                  "(k DIV 4) * 4 AS component")
    new_edges = (nodes.filter("k % 8 = 3")
                 .selectExpr("k AS src", "k + 1 AS dst")
                 .join(nodes.selectExpr("k AS dst"), "dst", "left_semi"))
    return (incremental_components(assignment, old_edges, new_edges)
            .orderBy("node"))


def _q221_hac_blocks(spark, sf):
    # Within-block average-linkage HAC (operators/hac.py): the
    # chaining-proof ER clusterer; per-block summary pinned from the
    # pure-Python reference (sf0.01).
    from knowledgebase_processor_spark.operators.hac import hac_blocks
    d = _t(spark, sf, "documents")
    records = d.selectExpr(
        "'b' || CAST(doc_id % 25 AS STRING) AS block",
        "doc_id AS rec_id",
        "'r' || repeat(CAST(doc_id DIV 50 AS STRING), 4) ||"
        " CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN 'x'"
        " WHEN 2 THEN 'xy' ELSE 'qqqq' END AS key")
    out = hac_blocks(records, threshold_milli=2000, max_block=50)
    sizes = out.groupBy("block", "cluster").agg(
        F.count(F.lit(1)).alias("c"))
    return (sizes.groupBy("block")
            .agg(F.sum("c").cast("long").alias("n_records"),
                 F.count(F.lit(1)).cast("long").alias("n_clusters"),
                 F.max("c").cast("long").alias("max_cluster"))
            .orderBy("block"))


def _q222_script_mix(spark, sf):
    # Unicode script-block mix per language (operators/textstats.py):
    # the statistical mislabel/mojibake gate; literal char-class
    # ranges compile identically in Java regex and RE2.
    from knowledgebase_processor_spark.operators.textstats import (
        script_mix_report)
    return script_mix_report(_t(spark, sf, "documents")).orderBy("lang")


def _q223_good_turing(spark, sf):
    # Good-Turing frequency-of-frequencies + discounted counts
    # (operators/zipf.py): the unseen-mass estimator — all integer.
    from knowledgebase_processor_spark.operators.zipf import good_turing
    return good_turing(_t(spark, sf, "documents"), max_r=10) \
        .orderBy("r")


def _q224_zipf_slope(spark, sf):
    # Zipf rank-frequency log-log slope (operators/zipf.py):
    # milli-quantized log moments, exact integer sums, one shared
    # float step — the one-number corpus-health signal.
    from knowledgebase_processor_spark.operators.zipf import zipf_slope
    return zipf_slope(_t(spark, sf, "documents"), min_count=2)


def _q225_mann_kendall(spark, sf):
    # Mann-Kendall trend per user over its event sequence
    # (operators/trend.py): distribution-free monotone-drift test;
    # integer S and tie-corrected variance, shared-z oracle.
    from knowledgebase_processor_spark.operators.trend import (
        mann_kendall)
    ev = _t(spark, sf, "events").selectExpr(
        "user_id", "event_id", "(event_id * 7) % 100 + event_id"
        " DIV 100 AS x")
    return (mann_kendall(ev, "user_id", "event_id", "x")
            .orderBy("user_id"))


def _q226_jain_fairness(spark, sf):
    # Jain fairness of the per-host page allocation
    # (operators/trend.py): one scalar for the politeness budget.
    from knowledgebase_processor_spark.operators.trend import (
        jain_fairness)
    d = _t(spark, sf, "documents").selectExpr(
        "'h' || CAST(CASE WHEN doc_id % 7 = 0 THEN 0"
        " ELSE doc_id % 40 END AS STRING) AS host")
    return jain_fairness(d, "host")


def _q227_brier_decomposition(spark, sf):
    # Murphy decomposition of the Brier score (operators/agreement.py)
    # over a deterministic ppm score vs a correlated label — the
    # recalibrate-or-retrain triple beside q130's ECE.
    from knowledgebase_processor_spark.operators.agreement import (
        brier_decomposition)
    d = _t(spark, sf, "documents").selectExpr(
        "(doc_id * 37) % 1000001 AS p",
        "((doc_id * 37) % 1000001) * 2 + (doc_id % 500000)"
        " > 1000000 AS y")
    return brier_decomposition(d, "p", "y", n_bins=10)


def _q228_capture_recapture(spark, sf):
    # Chapman capture-recapture (operators/capture.py): two portable
    # md5 Bernoulli samples estimate the corpus size from overlap.
    from knowledgebase_processor_spark.operators.capture import (
        capture_recapture)
    return capture_recapture(_t(spark, sf, "documents"), "doc_id")


_Q229_INSTANCE_SQL = """
    SELECT 'u' || doc_id AS subj, 'partOf' AS pred,
           'u' || (doc_id + 1) AS obj FROM documents
    WHERE doc_id % 5 < 4
    UNION ALL
    SELECT 'u' || doc_id, 'adjacentTo', 'u' || (doc_id + 2)
    FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT 'u' || doc_id, 'contains', 'u' || ((doc_id * 3) % 50)
    FROM documents WHERE doc_id % 11 = 0"""


def _q229_owl_closure(spark, sf):
    # OWL-lite property-axiom materialization (operators/owl.py):
    # contains inverseOf partOf, adjacentTo symmetric, partOf
    # transitive — derived-only edge set, axioms composing.
    from knowledgebase_processor_spark.operators.owl import (
        OWL_INVERSE, OWL_SYMMETRIC, OWL_TRANSITIVE, RDF_TYPE,
        owl_property_closure)
    _t(spark, sf, "documents").createOrReplaceTempView("documents")
    inst = spark.sql(_Q229_INSTANCE_SQL)
    schema = spark.createDataFrame(
        [("contains", OWL_INVERSE, "partOf"),
         ("adjacentTo", RDF_TYPE, OWL_SYMMETRIC),
         ("partOf", RDF_TYPE, OWL_TRANSITIVE)],
        "subj string, pred string, obj string")
    return (owl_property_closure(inst, schema)
            .orderBy("subj", "pred", "obj"))


_Q230_DOCS_SQL = """
    SELECT doc_id AS doc, source AS src, doc_id AS ts,
           'p' || (doc_id - doc_id % 20) || ' q'
           || (doc_id - doc_id % 20)
           || ' w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 t' || doc_id AS text
    FROM documents"""


def _q230_quote_mining(spark, sf):
    # Cross-source quote attribution (operators/quotes.py): groups of
    # 20 docs share two group-marked 8-grams (attributable quotes);
    # the 10-word common span is template mass killed by the bucket
    # guard; per-doc tails never pair.
    from knowledgebase_processor_spark.operators.quotes import (
        quote_pairs)
    _t(spark, sf, "documents").createOrReplaceTempView("documents")
    d = spark.sql(_Q230_DOCS_SQL)
    return (quote_pairs(d, id_col="doc", text_col="text",
                        source_col="src", ts_col="ts",
                        max_bucket=200, min_shared=2)
            .orderBy("src_doc", "quoting_doc"))


_Q231_CRAWL_SQL = """
    SELECT 'h' || (doc_id % 3) AS host, 'u' || doc_id AS url,
           CASE doc_id % 5
             WHEN 0 THEN '/a/x' || doc_id || '/private'
             WHEN 1 THEN '/a/y/private/ok'
             WHEN 2 THEN '/doc' || doc_id || '.pdf'
             WHEN 3 THEN '/doc' || doc_id || '.pdfx'
             ELSE '/open/' || doc_id END AS path
    FROM documents"""

_Q231_RULES = [(f"h{h}", "*", allow, path)
               for h in range(3)
               for allow, path in ((False, "/a/*/private"),
                                   (True, "/a/*/private/ok$"),
                                   (False, "/*.pdf$"))]


def _q231_robots_wildcards(spark, sf):
    # Wildcard robots matching (operators/urlrules.py::
    # apply_robots_wildcards): '*' runs and '$' anchors per the
    # published Google matcher, longest-PATTERN-wins, allow on ties;
    # the regex compiler is a pure JVM expression.
    from knowledgebase_processor_spark.operators.urlrules import (
        apply_robots_wildcards)
    _t(spark, sf, "documents").createOrReplaceTempView("documents")
    crawl = spark.sql(_Q231_CRAWL_SQL)
    rules = spark.createDataFrame(
        _Q231_RULES, "host string, agent string, allow boolean,"
                     " path string")
    return apply_robots_wildcards(crawl, rules).orderBy("url")


def _q232_burn_rate(spark, sf):
    # Multi-window SLO burn-rate alerts (operators/slo.py): fetch
    # errors vs budget in 10-min and 1-h windows, alert only when
    # BOTH burn — the SRE-workbook recipe, float-free.
    from knowledgebase_processor_spark.operators.slo import (
        burn_rate_alerts)
    ev = _t(spark, sf, "events").selectExpr(
        "ts", "event_id % 13 = 0 AS is_err")
    return (burn_rate_alerts(ev, "ts", "is_err", short_s=600,
                             long_s=3600, budget_ppm=30000,
                             burn_factor_ppm=2000000)
            .orderBy("short_bucket"))


def _q233_bloom_zonemap(spark, sf):
    # Per-block Bloom equality pruning (operators/zonemap.py): the
    # point-lookup complement to q202's min/max zones, over a
    # high-cardinality scattered key.
    from knowledgebase_processor_spark.operators.zonemap import (
        bloom_zonemap_pruning)
    d = _t(spark, sf, "documents").selectExpr(
        "doc_id", "'k' || CAST(doc_id % 997 AS STRING) AS v")
    return bloom_zonemap_pruning(d, "doc_id", "doc_id", "v", "k13",
                                 block_rows=50)


_Q234_PAGES_SQL = """
    SELECT 'h' || (doc_id % 5) AS host,
           CASE doc_id % 3
             WHEN 0 THEN '/product/' || doc_id || '/view'
             WHEN 1 THEN '/s/' || substr(md5('x' || doc_id), 1, 12)
                         || '/p'
             ELSE '/about' END AS path
    FROM documents"""


def _q234_url_templates(spark, sf):
    # URL path-template census (operators/urlrules.py::url_templates):
    # digit runs -> <n>, long hex ids -> <x>; names the URL-space
    # generators the q179 trap gate only flags.
    from knowledgebase_processor_spark.operators.urlrules import (
        url_templates)
    _t(spark, sf, "documents").createOrReplaceTempView("documents")
    return (url_templates(spark.sql(_Q234_PAGES_SQL))
            .orderBy("host", "template"))


def _q235_kanon_ladder(spark, sf):
    # k-anonymity generalization ladder (operators/kanon.py): the
    # repair view — which generalization level first satisfies k, at
    # what suppression cost.
    from knowledgebase_processor_spark.operators.kanon import (
        kanon_generalization_ladder)
    d = _t(spark, sf, "documents").selectExpr(
        "source", "lang", "CAST(doc_id % 7 AS STRING) AS bucket")
    return (kanon_generalization_ladder(
        d, ["source", "lang", "bucket"], ks=[5, 50])
        .orderBy("level"))


def _q236_consistent_hashing(spark, sf):
    # Consistent-hash vs mod-hash migration cost (operators/
    # sharding.py): growing 8 -> 9 shards, the ring moves ~1/9 of
    # keys, mod-hash ~8/9 — the re-shard bill, measured.
    from knowledgebase_processor_spark.operators.sharding import (
        migration_cost)
    d = _t(spark, sf, "documents").selectExpr(
        "'h' || CAST(doc_id % 499 AS STRING) AS host")
    return migration_cost(d, "host", n_from=8, n_to=9, vnodes=16)


def _q237_salting_sim(spark, sf):
    # Salting payoff simulation (operators/sharding.py): the q226
    # hot-host distribution under 16 reducers, plain vs salt=8 —
    # the measured speedup kg_job's COREF_SALT buys.
    from knowledgebase_processor_spark.operators.sharding import (
        salting_simulation)
    d = _t(spark, sf, "documents").selectExpr(
        "doc_id",
        "'h' || CAST(CASE WHEN doc_id % 7 = 0 THEN 0"
        " ELSE doc_id % 40 END AS STRING) AS host")
    return salting_simulation(d, "host", "doc_id", n_reducers=16,
                              salt=8)


def _q238_char_entropy(spark, sf):
    # Character-entropy gibberish gate (operators/textstats.py): the
    # portable compression-ratio cousin — nano-quantized Shannon bits
    # per char, exactly replayable.
    from knowledgebase_processor_spark.operators.textstats import (
        char_entropy_report)
    return (char_entropy_report(_t(spark, sf, "documents"))
            .orderBy("doc_id"))


def _q239_theil(spark, sf):
    # Theil inequality decomposition (operators/corrstats.py): the
    # decomposable complement to q174's Gini — is the token-budget
    # imbalance BETWEEN sources or WITHIN them?
    from knowledgebase_processor_spark.operators.corrstats import (
        theil_decomposition)
    d = _t(spark, sf, "documents")
    return theil_decomposition(d, "source", "n_chars")


def _q240_video_container_meta(spark, sf):
    # Container-level video metadata as a first-class query
    # (operators/multimodal.py video_container_features): REAL RIFF-AVI
    # and ISO-BMFF moov header parses — duration/fps/frames/dimensions/
    # codec fourcc — with meta_kind='headers' proving the stub path was
    # never taken.  MJPEG AVIs come from media_from_documents; MP4 moov
    # trees are synthesized per doc with closed-form parameters
    # (fps/frames/dims derived from doc_id), so the oracle is plain SQL
    # over `documents` — no pinned VALUES.
    from knowledgebase_processor_spark.operators.multimodal import (
        MEDIA, encode_mp4_stub, media_from_documents,
        video_container_features)

    d = (_t(spark, sf, "documents").select("doc_id", "text")
         .orderBy("doc_id").limit(6))
    avi = media_from_documents(d).filter(F.col("kind") == "video")

    def gen_mp4(batches):
        import pandas as pd
        codecs = [b"avc1", b"hvc1", b"av01"]
        for batch in batches:
            out = []
            for rec in batch.itertuples(index=False):
                i = int(rec.doc_id)
                fps = [24, 25, 30][i % 3]
                n = 48 + (i % 5) * 12
                w, h = 320 + (i % 4) * 80, 180 + (i % 4) * 45
                out.append({"media_id": f"{i}#mp4", "kind": "video",
                            "payload": encode_mp4_stub(
                                w, h, float(fps), n, codecs[i % 3]),
                            "mime": "video/mp4", "meta_width": w,
                            "meta_height": h, "meta_duration_s": None})
            yield pd.DataFrame(out, columns=[f.name for f in MEDIA.fields])

    mp4 = d.mapInPandas(gen_mp4, schema=MEDIA)
    return (video_container_features(avi.unionByName(mp4))
            .orderBy("media_id"))


def _q241_backoff_lm(spark, sf):
    # Trained stupid-backoff trigram LM perplexity (operators/nglm.py):
    # the REAL CCNet-style filtering signal — train on the doc_id%5!=0
    # hash split, score the held-out split with the Brants et al. 2007
    # backoff ladder, per-token nano-quantized so the per-doc sum is an
    # exact integer on both engines.
    from knowledgebase_processor_spark.operators.nglm import (
        backoff_lm_report)
    return (backoff_lm_report(_t(spark, sf, "documents"))
            .orderBy("doc_id"))


def _q243_kneser_ney(spark, sf):
    # Bigram interpolated Kneser-Ney perplexity (operators/nglm.py
    # kneser_ney_n_report, n=2): the KenLM-standard smoother beside
    # q241's stupid backoff — fixed D=0.75, add-one-smoothed
    # continuation probabilities so OOV stays log-defined, per-token
    # nano quantization.  The oracle is the hand-written bigram replay
    # (kneser_ney_oracle_sql), so the generated ladder's base rung is
    # checked against an independent spec.
    from knowledgebase_processor_spark.operators.nglm import (
        kneser_ney_n_report)
    return (kneser_ney_n_report(_t(spark, sf, "documents"), n=2)
            .orderBy("doc_id"))


def _q244_kneser_ney3(spark, sf):
    # Trigram interpolated Kneser-Ney (operators/nglm.py
    # kneser_ney_n_report, n=3): the trigram rung interpolates into the
    # bigram rung's column (nglm.kn_rung_sqls), and each extra order
    # costs three more equi-joins against bounded count tables — the
    # join pyramid that scales to 5-gram.  Generated order-n DuckDB
    # replay oracle (kneser_ney_n_oracle_sql, n=3).
    from knowledgebase_processor_spark.operators.nglm import (
        kneser_ney_n_report)
    return (kneser_ney_n_report(_t(spark, sf, "documents"), n=3)
            .orderBy("doc_id"))


def _q247_kneser_ney4(spark, sf):
    # 4-gram interpolated Kneser-Ney from the order-n ladder builder
    # (operators/nglm.py kneser_ney_n_report) that also runs q243 (n=2)
    # and q244 (n=3): the rung SQL and the DuckDB CTE graph are
    # generated by the same loop at every order.  Generated replay
    # oracle (kneser_ney_n_oracle_sql, n=4).
    from knowledgebase_processor_spark.operators.nglm import (
        kneser_ney_n_report)
    return (kneser_ney_n_report(_t(spark, sf, "documents"), n=4)
            .orderBy("doc_id"))


def _q248_kneser_ney5(spark, sf):
    # 5-gram interpolated Kneser-Ney — KenLM's production order, the
    # model CCNet actually filters with.  Same generated ladder as
    # q243/q244/q247: each ladder level is projected ONCE and referenced
    # by column name (nglm.kn_rung_sqls), so the plan holds n-1 rung
    # expressions.  Generated replay oracle with the identical rung CTE
    # chain (kneser_ney_n_oracle_sql, n=5).
    from knowledgebase_processor_spark.operators.nglm import (
        kneser_ney_n_report)
    return (kneser_ney_n_report(_t(spark, sf, "documents"), n=5)
            .orderBy("doc_id"))


def _q249_kn5_ppl_assign(spark, sf):
    # CCNet bucket assignment under the PRODUCTION model: perplexity
    # from the order-5 interpolated Kneser-Ney (the published CCNet
    # pipeline buckets on a 5-gram KN KenLM; q245 keeps the cheap
    # stupid-backoff twin).  Train on the hash split, score EVERY doc,
    # per-language ntile on (avg_nll_micro, doc_id).  Full generated
    # replay oracle (score-all order-5 rung-CTE pyramid + NTILE).
    from knowledgebase_processor_spark.operators.nglm import (
        kn_ppl_bucket_assign)
    return (kn_ppl_bucket_assign(_t(spark, sf, "documents"), n=5,
                                 lang_col="lang")
            .orderBy("doc_id"))


def _q245_ppl_assign(spark, sf):
    # Per-document CCNet bucket assignment (operators/nglm.py
    # ppl_bucket_assign): the LM scores EVERY doc against the
    # split-trained model (the filter shape — CCNet scores the whole
    # corpus against its Wikipedia LM), per-language ntile on
    # (avg_nll_micro, doc_id).  Full DuckDB replay oracle; this is the
    # independently value-checked stage behind q246's composed filter.
    from knowledgebase_processor_spark.operators.nglm import (
        ppl_bucket_assign)
    return (ppl_bucket_assign(_t(spark, sf, "documents"), lang_col="lang")
            .orderBy("doc_id"))


def _q246_prepare_corpus_ccnet(spark, sf):
    # The q45 hygiene chain with the CCNet perplexity stage wired in
    # (prepare.py lm_head_buckets): after the Gopher rules, train the
    # in-corpus backoff LM, ntile the survivors and keep head+middle
    # (buckets 1-2), with the stage's lineage count in the stats frame
    # like every other stage.  The constituent scorer is value-checked
    # by q245/q241; the composed lineage is deterministic -> pinned
    # VALUES at sf0.01 (ORACLE_SF001_PINNED).
    from knowledgebase_processor_spark.operators.prepare import (
        prepare_corpus)
    out, stats = prepare_corpus(_q45_salted_docs(spark, sf),
                                portable_line_hash=True,
                                lm_head_buckets=2)
    chars = out.agg(F.lit("scrubbed_chars").alias("stage"),
                    F.coalesce(F.sum(F.length("text")), F.lit(0))
                    .cast("long").alias("n_docs"))
    return stats.unionByName(chars).orderBy("stage")


def _q242_ppl_buckets(spark, sf):
    # CCNet head/middle/tail perplexity split (operators/nglm.py
    # ppl_buckets): per-language ntiles of the trained backoff-LM
    # perplexity — bucket 1 is the slice CCNet keeps outright.  Exact
    # integers only; the oracle nests the full LM replay as a CTE.
    from knowledgebase_processor_spark.operators.nglm import ppl_buckets
    return (ppl_buckets(_t(spark, sf, "documents"))
            .orderBy("lang", "bucket"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": _q01_pricing_summary,
        "q02_top_customers": _q02_top_customers,
        "q03_orders_by_nation": _q03_orders_by_nation,
        "q04_region_nations": _q04_region_nations,
        "q05_search": _q05_search,
        "q06_find_by_tag": _q06_find_by_tag,
        "q07_find_by_topic": _q07_find_by_topic,
        "q08_related_by_shared_key": _q08_related_by_shared_key,
        "q09_completion_stats": _q09_completion_stats,
        "q10_content_stats": _q10_content_stats,
        "q11_token_counts": _q11_token_counts,
        "q12_lang_id": _q12_lang_id,
        "q13_quality_buckets": _q13_quality_buckets,
        "q14_fingerprints": _q14_fingerprints,
        "q15_exact_dup_groups": _q15_exact_dup_groups,
        "q16_hashtags": _q16_hashtags,
        "q17_ann_topk": _q17_ann_topk,
        "q18_embedding_near_dups": _q18_embedding_near_dups,
        "q19_event_windows": _q19_event_windows,
        "q20_minhash_lsh": _q20_minhash_lsh,
        "q21_simhash_near_dups": _q21_simhash_near_dups,
        "q22_triples_by_kind": _q22_triples_by_kind,
        "q23_related_documents": _q23_related_documents,
        "q24_todo_stats": _q24_todo_stats,
        "q25_content_stats": _q25_content_stats,
        "q26_openie_relations": _q26_openie_relations,
        "q27_pii_scrub": _q27_pii_scrub,
        "q28_canonical_urls": _q28_canonical_urls,
        "q29_minhash_portable": _q29_minhash_portable,
        "q30_ngram_jaccard": _q30_ngram_jaccard,
        "q31_simhash_portable": _q31_simhash_portable,
        "q32_ann_ivf": _q32_ann_ivf,
        "q33_dedup_corpus": _q33_dedup_corpus,
        "q34_minhash_lsh_portable": _q34_minhash_lsh_portable,
        "q35_winnowed_fingerprints": _q35_winnowed_fingerprints,
        "q36_winnow_overlap": _q36_winnow_overlap,
        "q37_media_features": _q37_media_features,
        "q38_dedup_incremental": _q38_dedup_incremental,
        "q39_repetition_stats": _q39_repetition_stats,
        "q40_gopher_quality": _q40_gopher_quality,
        "q41_domain_cap": _q41_domain_cap,
        "q42_domain_downsample": _q42_domain_downsample,
        "q43_c4_clean": _q43_c4_clean,
        "q44_line_dedup": _q44_line_dedup,
        "q45_prepare_corpus": _q45_prepare_corpus,
        "q46_pq_adc": _q46_pq_adc,
        "q47_property_path": _q47_property_path,
        "q48_pack_sequences": _q48_pack_sequences,
        "q49_pagerank": _q49_pagerank,
        "q50_sessionize": _q50_sessionize,
        "q51_tfidf_keywords": _q51_tfidf_keywords,
        "q52_term_cooccurrence": _q52_term_cooccurrence,
        "q53_asof_attribution": _q53_asof_attribution,
        "q54_interval_join": _q54_interval_join,
        "q55_hypertable_rollup": _q55_hypertable_rollup,
        "q56_hash_split": _q56_hash_split,
        "q57_length_quantiles": _q57_length_quantiles,
        "q58_triangle_counts": _q58_triangle_counts,
        "q59_bigram_coverage": _q59_bigram_coverage,
        "q60_snapshot_delta": _q60_snapshot_delta,
        "q61_rollup_report": _q61_rollup_report,
        "q62_video_frames": _q62_video_frames,
        "q63_decontamination": _q63_decontamination,
        "q64_dsir_weights": _q64_dsir_weights,
        "q65_warc_roundtrip": _q65_warc_roundtrip,
        "q66_bpe_merges": _q66_bpe_merges,
        "q67_bpe_encode": _q67_bpe_encode,
        "q68_span_dedup": _q68_span_dedup,
        "q69_kmeans": _q69_kmeans,
        "q70_prepare_corpus_v2": _q70_prepare_corpus_v2,
        "q71_semdedup": _q71_semdedup,
        "q72_distinct_sketches": _q72_distinct_sketches,
        "q73_cms_heavy_hitters": _q73_cms_heavy_hitters,
        "q74_weighted_sample": _q74_weighted_sample,
        "q75_lpa_communities": _q75_lpa_communities,
        "q76_bloom_semi_join": _q76_bloom_semi_join,
        "q77_setsim_join": _q77_setsim_join,
        "q78_kcore": _q78_kcore,
        "q79_stratified_sample": _q79_stratified_sample,
        "q80_stupid_backoff": _q80_stupid_backoff,
        "q81_histogram_quantiles": _q81_histogram_quantiles,
        "q82_hopping_windows": _q82_hopping_windows,
        "q83_sorted_neighborhood": _q83_sorted_neighborhood,
        "q84_rrf_fusion": _q84_rrf_fusion,
        "q85_json_props": _q85_json_props,
        "q86_url_rules": _q86_url_rules,
        "q87_incremental_kg": _q87_incremental_kg,
        "q88_kmv_overlap": _q88_kmv_overlap,
        "q89_lang_source_pivot": _q89_lang_source_pivot,
        "q90_skew_join": _q90_skew_join,
        "q91_funnel": _q91_funnel,
        "q92_retention": _q92_retention,
        "q93_chunk_documents": _q93_chunk_documents,
        "q94_linear_classifier": _q94_linear_classifier,
        "q95_bm25": _q95_bm25,
        "q96_phrase_search": _q96_phrase_search,
        "q97_table_profile": _q97_table_profile,
        "q98_zorder_layout": _q98_zorder_layout,
        "q99_record_merge": _q99_record_merge,
        "q100_corpus_datacard": _q100_corpus_datacard,
        "q101_link_prediction": _q101_link_prediction,
        "q102_jl_projection": _q102_jl_projection,
        "q103_int8_quantize": _q103_int8_quantize,
        "q104_scd2_history": _q104_scd2_history,
        "q105_er_scores": _q105_er_scores,
        "q106_anomaly_flags": _q106_anomaly_flags,
        "q107_shortest_paths": _q107_shortest_paths,
        "q108_chunk_dedup": _q108_chunk_dedup,
        "q109_token_budget_mix": _q109_token_budget_mix,
        "q110_hard_negatives": _q110_hard_negatives,
        "q111_random_walks": _q111_random_walks,
        "q112_quality_ensemble": _q112_quality_ensemble,
        "q113_padding_waste": _q113_padding_waste,
        "q114_source_overlap_matrix": _q114_source_overlap_matrix,
        "q115_leakage_safe_split": _q115_leakage_safe_split,
        "q116_hits": _q116_hits,
        "q117_personalized_pagerank": _q117_personalized_pagerank,
        "q118_kmv_rollup": _q118_kmv_rollup,
        "q119_psi_drift": _q119_psi_drift,
        "q120_hyperanf": _q120_hyperanf,
        "q121_gnn_feature_prop": _q121_gnn_feature_prop,
        "q122_regional_revenue": _q122_regional_revenue,
        "q123_hill_tail_index": _q123_hill_tail_index,
        "q124_compaction_plan": _q124_compaction_plan,
        "q125_posting_sizes": _q125_posting_sizes,
        "q126_novelty_rate": _q126_novelty_rate,
        "q127_source_entropy": _q127_source_entropy,
        "q128_shard_layout": _q128_shard_layout,
        "q129_rater_agreement": _q129_rater_agreement,
        "q130_calibration": _q130_calibration,
        "q131_modularity": _q131_modularity,
        "q132_assortativity": _q132_assortativity,
        "q133_fd_audit": _q133_fd_audit,
        "q134_source_quota": _q134_source_quota,
        "q135_oov_coverage": _q135_oov_coverage,
        "q136_node_clustering": _q136_node_clustering,
        "q137_label_rule_f1": _q137_label_rule_f1,
        "q138_interarrival": _q138_interarrival,
        "q139_k_anonymity": _q139_k_anonymity,
        "q140_rdfs_closure": _q140_rdfs_closure,
        "q141_sameas_canonical": _q141_sameas_canonical,
        "q142_neighbor_sample": _q142_neighbor_sample,
        "q143_transe_negatives": _q143_transe_negatives,
        "q144_predicate_profile": _q144_predicate_profile,
        "q145_kg_snapshot": _q145_kg_snapshot,
        "q146_coverage_select": _q146_coverage_select,
        "q147_entity_disambiguation": _q147_entity_disambiguation,
        "q148_anchor_profile": _q148_anchor_profile,
        "q149_url_prefix_rollup": _q149_url_prefix_rollup,
        "q150_skew_report": _q150_skew_report,
        "q151_margin_mine": _q151_margin_mine,
        "q152_hubness": _q152_hubness,
        "q153_mojibake": _q153_mojibake,
        "q154_url_align": _q154_url_align,
        "q155_robots_parse": _q155_robots_parse,
        "q156_tag_density": _q156_tag_density,
        "q157_predicate_fill": _q157_predicate_fill,
        "q158_dangling_refs": _q158_dangling_refs,
        "q159_domain_violations": _q159_domain_violations,
        "q160_class_counts": _q160_class_counts,
        "q161_ranking_eval": _q161_ranking_eval,
        "q162_retrieval_metrics": _q162_retrieval_metrics,
        "q163_redirects": _q163_redirects,
        "q164_sitemap_parse": _q164_sitemap_parse,
        "q165_sitemap_coverage": _q165_sitemap_coverage,
        "q166_politeness_schedule": _q166_politeness_schedule,
        "q167_entity_summaries": _q167_entity_summaries,
        "q168_infer_types": _q168_infer_types,
        "q169_functional_conflicts": _q169_functional_conflicts,
        "q170_recrawl_schedule": _q170_recrawl_schedule,
        "q171_template_shingles": _q171_template_shingles,
        "q172_blocking_quality": _q172_blocking_quality,
        "q173_spearman": _q173_spearman,
        "q174_gini": _q174_gini,
        "q175_host_reciprocity": _q175_host_reciprocity,
        "q176_shacl_cardinality": _q176_shacl_cardinality,
        "q177_fact_lifespan": _q177_fact_lifespan,
        "q178_property_graph_nodes": _q178_property_graph_nodes,
        "q179_crawl_traps": _q179_crawl_traps,
        "q180_soft404": _q180_soft404,
        "q181_lang_mismatch": _q181_lang_mismatch,
        "q182_ifp_candidates": _q182_ifp_candidates,
        "q183_fuse_facts": _q183_fuse_facts,
        "q184_robots_compliance": _q184_robots_compliance,
        "q185_readability": _q185_readability,
        "q186_edit_distance": _q186_edit_distance,
        "q187_l_diversity": _q187_l_diversity,
        "q188_welch_ttest": _q188_welch_ttest,
        "q189_chi_square_drift": _q189_chi_square_drift,
        "q190_poisson_bootstrap": _q190_poisson_bootstrap,
        "q191_auc": _q191_auc,
        "q192_rule_mining": _q192_rule_mining,
        "q193_embedding_covariance": _q193_embedding_covariance,
        "q194_scc": _q194_scc,
        "q195_hreflang_clusters": _q195_hreflang_clusters,
        "q196_token_fertility": _q196_token_fertility,
        "q197_hilbert_layout": _q197_hilbert_layout,
        "q198_ktruss": _q198_ktruss,
        "q199_robust_outliers": _q199_robust_outliers,
        "q200_rule_inference": _q200_rule_inference,
        "q201_cocitation": _q201_cocitation,
        "q202_zonemap_pruning": _q202_zonemap_pruning,
        "q203_conformal": _q203_conformal,
        "q204_dp_counts": _q204_dp_counts,
        "q205_neyman_allocation": _q205_neyman_allocation,
        "q206_wordpiece": _q206_wordpiece,
        "q207_lang_homophily": _q207_lang_homophily,
        "q208_cms_heavy_change": _q208_cms_heavy_change,
        "q209_sites": _q209_sites,
        "q210_bowtie": _q210_bowtie,
        "q211_keyness": _q211_keyness,
        "q212_fs_em": _q212_fs_em,
        "q213_itemsets": _q213_itemsets,
        "q214_bowtie_full": _q214_bowtie_full,
        "q215_kcenter": _q215_kcenter,
        "q216_ewma_drift": _q216_ewma_drift,
        "q217_wl_colors": _q217_wl_colors,
        "q218_conductance_sweep": _q218_conductance_sweep,
        "q219_ucb_recrawl": _q219_ucb_recrawl,
        "q220_incremental_cc": _q220_incremental_cc,
        "q221_hac_blocks": _q221_hac_blocks,
        "q222_script_mix": _q222_script_mix,
        "q223_good_turing": _q223_good_turing,
        "q224_zipf_slope": _q224_zipf_slope,
        "q225_mann_kendall": _q225_mann_kendall,
        "q226_jain_fairness": _q226_jain_fairness,
        "q227_brier_decomposition": _q227_brier_decomposition,
        "q228_capture_recapture": _q228_capture_recapture,
        "q229_owl_closure": _q229_owl_closure,
        "q230_quote_mining": _q230_quote_mining,
        "q231_robots_wildcards": _q231_robots_wildcards,
        "q232_burn_rate": _q232_burn_rate,
        "q233_bloom_zonemap": _q233_bloom_zonemap,
        "q234_url_templates": _q234_url_templates,
        "q235_kanon_ladder": _q235_kanon_ladder,
        "q236_consistent_hashing": _q236_consistent_hashing,
        "q237_salting_sim": _q237_salting_sim,
        "q238_char_entropy": _q238_char_entropy,
        "q239_theil": _q239_theil,
        "q240_video_container_meta": _q240_video_container_meta,
        "q241_backoff_lm": _q241_backoff_lm,
        "q242_ppl_buckets": _q242_ppl_buckets,
        "q243_kneser_ney": _q243_kneser_ney,
        "q244_kneser_ney3": _q244_kneser_ney3,
        "q245_ppl_assign": _q245_ppl_assign,
        "q246_prepare_corpus_ccnet": _q246_prepare_corpus_ccnet,
        "q247_kneser_ney4": _q247_kneser_ney4,
        "q248_kneser_ney5": _q248_kneser_ney5,
        "q249_kn5_ppl_assign": _q249_kn5_ppl_assign,
    }


_EN_SW = "['the','and','of','to','is','in','that','it','was','for']"
_ES_SW = "['el','la','de','que','y','en','un','por','con','los']"
_DE_SW = "['der','die','und','das','ist','von','nicht','mit','ein','zu']"
_FR_SW = "['le','la','et','les','des','est','pas','que','une','dans']"

_WORDS = r"string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')"
_WCOUNT = (r"case when trim(regexp_replace(text, '\s+', ' ', 'g')) = '' then 0 "
           r"else len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) end")
_FPRINT = r"sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))"
_QUALITY = (
    "0.4 * least(({w})::double / 100.0, 1.0)"
    " + 0.3 * (1.0 - length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::double"
    "              / greatest(length(text), 1)::double)"
    " + 0.3 * least((len(list_intersect({lw}, {sw}))::double"
    "              / greatest({w}, 1)::double) * 5.0, 1.0)"
).format(w=_WCOUNT, sw=_EN_SW,
         lw=r"string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')")



# q32's oracle needs the k-means-trained IVF centroids as literals (the
# iterative fixed-point Lloyd's trainer is not single-query-SQL-
# expressible, but it is bit-exact under any partitioning, so its OUTPUT
# on the fixed sf0.01 embeddings table is deterministic — extracted once
# via similarity.ivf_train(k_cells=8, iters=2) and pinned here; see
# ORACLE_SF001_PINNED).  DuckDB then replicates cell assignment, probe
# ranking, and rescoring with the same left-fold summation order as the
# Spark column expressions.
_Q32_CENTROID_VALUES = """\
              (0, [0.020034, -0.012505, 0.030319, -0.088118, 0.015348, -0.016212, -0.012288, 0.016444, 0.051428, -0.027683, -0.010419, -0.004767, -0.02982, -0.002681, -0.008232, -0.002268, 0.047997, 0.041824, 0.024358, 0.033886, -0.064721, 0.017317, -0.005148, -0.019169, 0.00716, 0.086027, 0.076044, -0.007555, -0.022195, 0.059923, -0.008636, 0.062609, 0.002798, -0.046513, 0.010859, -0.051308, -0.014586, 0.003809, 0.013636, 0.014613, 0.001253, 0.004359, -0.000798, 0.003126, 0.008097, 0.027144, 0.028815, -0.052631, 0.01733, -0.038185, -0.001296, 0.012909, 0.014783, -0.054684, 0.033718, 0.001266, -0.023479, 0.002556, -0.047703, -0.034368, -0.016287, 0.034105, 0.040763, -0.053431]::DOUBLE[]),
              (1, [-0.021759, -0.014104, 0.001762, -0.000394, 0.000365, 0.024051, -0.087696, -0.008771, 0.003008, 0.006248, -0.052996, 0.045472, 0.060256, -0.065653, 0.033051, 0.005196, -0.001382, -0.011468, 0.031385, -0.049573, 0.018922, 0.029583, 0.008976, -0.036235, 0.03423, 0.059074, -0.013399, -0.024728, -0.015094, 0.020859, -0.024648, 0.005744, -0.00756, -0.000764, 0.009148, 0.002356, -0.041991, 0.000663, 0.014971, -0.067814, -0.001742, -0.039907, 0.029788, 0.015642, 0.022429, 0.013163, -0.026876, -0.006343, -0.056859, -0.08588, -0.00944, 0.002373, -0.001856, 0.010647, -0.018756, 0.043531, 0.041629, 0.001077, 0.03578, 0.011965, -0.026882, -0.001344, -0.044506, -0.019927]),
              (2, [0.000219, 0.002168, -0.038384, 0.042969, 0.042501, -0.005611, -0.009015, 0.013802, -0.001651, -0.069981, -0.018202, -0.014762, -0.058061, 0.049804, 0.005493, 0.023158, -0.029096, 0.041495, -0.015207, -0.024984, 0.008489, -0.004902, 0.056891, -0.0095, 6.4e-05, -0.03667, -0.001679, 0.001313, 0.018793, 0.013237, -0.018869, -0.073114, 0.015737, 0.0038, 0.00985, 0.00272, 0.01722, 0.061235, 0.047691, 0.046298, -0.002966, -0.009394, 0.028815, 0.011214, -0.015215, -0.010762, -0.016182, -0.011064, 0.049502, 0.035253, 0.044866, -0.054551, -0.013383, -0.038746, 0.046948, 0.012687, 0.019532, -0.011915, 0.004926, 0.042465, 0.039467, 0.002814, 0.011356, 0.016241]),
              (3, [-0.030276, 0.040681, -0.008747, -0.005157, -0.007769, 0.021679, 0.025732, -5.6e-05, -0.037067, 0.004399, -0.006375, 0.032515, 0.011459, 0.092248, 0.01294, -0.004453, -0.042849, -0.048645, 0.015473, 0.033472, 0.006987, -0.002728, -0.022712, 0.018312, -0.015637, 0.025606, -0.01977, -0.021295, -0.057359, -0.038724, -0.00267, -0.010581, 0.075324, -0.006328, -0.002392, -0.017602, 0.00837, -0.027085, -0.026854, -0.028225, -0.001976, -0.029493, -0.067968, -0.026629, 0.002646, 0.005687, -0.017414, -0.035587, 0.063163, -0.046107, 0.00237, -0.012864, 0.01217, 0.024468, -0.041495, -0.037605, 0.014641, -0.00464, 0.02373, -0.040176, 0.027104, -0.001253, -0.002241, -0.05009]),
              (4, [0.022523, 0.002197, 0.059936, -0.020315, -0.041133, -0.073572, 0.0406, 0.003334, 0.011543, 0.014662, 0.020117, -0.052822, 0.026452, -0.051237, 0.022807, -0.026341, 0.040544, 0.018217, 0.007275, 0.02312, -0.010599, 0.031346, -0.02047, 0.017667, -0.028403, -0.002051, 0.028395, -0.00441, 0.031432, -0.05114, 0.028766, -0.025049, 0.018647, 0.01457, 0.024687, -0.057324, 0.010664, -0.07349, -0.02773, 0.003496, 0.029064, -0.000966, -0.013226, 0.005319, -0.024364, 0.003793, -0.040177, 0.06184, -0.043183, -0.006087, -0.011568, 0.000461, 0.019704, 0.011112, 0.084068, -0.01982, 0.00717, -0.027892, 0.023044, -0.010628, -0.054107, -0.002692, 0.038548, 0.008964]),
              (5, [-0.022949, -0.020157, 0.03337, -0.001097, 0.049725, -0.01478, -0.05114, 0.054957, -0.018196, 0.017715, 0.031382, -0.01674, 0.008507, 0.009781, -0.024206, -0.004257, 0.010213, -0.044086, -0.012552, 0.032849, 0.009756, -0.016353, 0.027351, -0.014392, 0.02804, 0.029504, -0.022458, 0.01758, 0.008238, 0.016799, 0.013971, -0.0349, 0.001156, 8.3e-05, 0.006014, 0.040898, 0.01159, 0.058802, -0.028194, 0.012188, -0.04921, 0.051529, 4e-05, 0.023052, -0.070248, -0.048274, 0.010604, -0.024436, -0.011674, 0.020033, 0.041827, 0.03738, 0.003963, 0.034524, -0.032677, -0.068116, 0.023637, -0.033629, 0.011283, 9.7e-05, -0.00184, 0.03761, -0.034118, 0.027092]),
              (6, [-0.023734, -0.034704, -0.003629, -0.022655, 0.028016, 0.071394, -0.025005, -0.050437, -3.2e-05, 0.054053, 0.05056, 0.011082, 0.01379, 0.038294, -0.015783, 0.037467, 0.023461, 0.04968, -0.047121, -0.040494, 0.004592, -0.021571, -0.010741, -0.048333, -0.042185, -0.013212, -0.007526, 0.048429, 0.031636, -0.043878, -0.00521, 0.005648, -0.009576, -0.035058, -0.018584, 0.047229, 0.018813, -0.010799, -0.004574, -0.004851, 0.045357, -0.046891, -0.002064, -0.018625, 0.00255, 0.013358, 0.031673, 0.044816, 0.003707, 0.0177, -0.031206, 0.008291, 0.039377, -0.012867, 0.018561, 0.032732, -0.054924, 0.047189, -0.025856, -0.026285, 0.01505, -0.008109, -0.003965, 0.019116]),
              (7, [0.089154, 0.006173, -0.035165, 0.044405, -0.024037, 0.032829, -0.009487, 0.045031, -0.01464, -0.018699, 0.026918, 0.017466, -0.060018, -0.071214, -0.019206, 0.010397, -0.012944, 0.012717, 0.005394, 0.009139, -0.018444, -0.000732, -0.006814, 0.036397, -0.001415, -0.038996, -0.030605, 0.065224, -0.006698, 0.030763, 0.06411, 0.032977, -0.026784, 0.017321, 0.00917, 0.011629, -0.057798, -0.045255, 0.008275, 0.018871, -0.025996, -0.025925, 0.028156, -0.017303, -0.009026, 0.038183, 0.016516, 0.072534, -0.05528, 0.010962, 0.035245, -0.012948, -0.013836, -0.018597, -0.027907, 0.012606, 0.010604, 0.0028, -0.067177, -0.014524, 0.0025, -0.022256, 0.005098, -0.067083])"""


# Shared CTE prefix for the Gopher quality/repetition oracles (q39/q40):
# lines/paragraphs/words + duplicate-unit stats + top-n-gram coverage,
# recomputed via unnest+groupBy (same semantics as the Spark sorted-array
# folds in operators/quality.py, different plan shape).  `doc_src` slots
# the document subset; `final` appends the query-specific tail.
_QUALITY_REP_SQL = r"""
            WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM {doc_src}),
            lu AS (
              SELECT doc_id,
                     regexp_replace(u, '^[ \t\r\f]+|[ \t\r\f]+$', '', 'g') AS u
              FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS u
                    FROM d)),
            l AS (SELECT doc_id, u FROM lu WHERE u <> ''),
            pu AS (
              SELECT doc_id,
                     regexp_replace(u, '^[ \t\r\f]+|[ \t\r\f]+$', '', 'g') AS u
              FROM (SELECT doc_id,
                           unnest(regexp_split_to_array(text, '\n[ \t]*\n')) AS u
                    FROM d)),
            p AS (SELECT doc_id, u FROM pu WHERE u <> ''),
            lstat AS (
              SELECT d.doc_id, count(l.u) AS n_lines,
                     coalesce(sum(len(l.u)), 0) AS line_chars
              FROM d LEFT JOIN l USING (doc_id) GROUP BY d.doc_id),
            pstat AS (
              SELECT d.doc_id, count(p.u) AS n_paras,
                     coalesce(sum(len(p.u)), 0) AS para_chars
              FROM d LEFT JOIN p USING (doc_id) GROUP BY d.doc_id),
            ldup AS (
              SELECT doc_id, sum(c - 1) AS ndup, sum((c - 1) * ln) AS ndupchars
              FROM (SELECT doc_id, u, count(*) AS c, min(len(u)) AS ln
                    FROM l GROUP BY doc_id, u)
              GROUP BY doc_id),
            pdup AS (
              SELECT doc_id, sum(c - 1) AS ndup, sum((c - 1) * ln) AS ndupchars
              FROM (SELECT doc_id, u, count(*) AS c, min(len(u)) AS ln
                    FROM p GROUP BY doc_id, u)
              GROUP BY doc_id),
            w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '[ \t\n\r\f]+'),
                                 x -> x <> '') AS ws
              FROM d),
            wstat AS (
              SELECT doc_id, len(ws) AS n_words,
                     coalesce(list_sum(list_transform(ws, x -> len(x))), 0)
                       AS word_chars
              FROM w),
            g2 AS (
              SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
                THEN list_transform(range(1, len(ws)),
                       i -> array_to_string(ws[i:i+1], ' '))
                ELSE [] END) AS gram FROM w),
            g3 AS (
              SELECT doc_id, unnest(CASE WHEN len(ws) >= 3
                THEN list_transform(range(1, len(ws) - 1),
                       i -> array_to_string(ws[i:i+2], ' '))
                ELSE [] END) AS gram FROM w),
            g4 AS (
              SELECT doc_id, unnest(CASE WHEN len(ws) >= 4
                THEN list_transform(range(1, len(ws) - 2),
                       i -> array_to_string(ws[i:i+3], ' '))
                ELSE [] END) AS gram FROM w),
            t2 AS (
              SELECT doc_id, c * (len(gram) - 1) AS cov FROM (
                SELECT doc_id, gram, count(*) AS c,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY count(*) DESC, gram ASC) AS rn
                FROM g2 GROUP BY doc_id, gram) WHERE rn = 1),
            t3 AS (
              SELECT doc_id, c * (len(gram) - 2) AS cov FROM (
                SELECT doc_id, gram, count(*) AS c,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY count(*) DESC, gram ASC) AS rn
                FROM g3 GROUP BY doc_id, gram) WHERE rn = 1),
            t4 AS (
              SELECT doc_id, c * (len(gram) - 3) AS cov FROM (
                SELECT doc_id, gram, count(*) AS c,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY count(*) DESC, gram ASC) AS rn
                FROM g4 GROUP BY doc_id, gram) WHERE rn = 1),
            rep AS (
              SELECT d.doc_id,
                round(coalesce(ldup.ndup, 0)::DOUBLE
                      / greatest(lstat.n_lines, 1)::DOUBLE, 6) AS dup_line_frac,
                round(coalesce(ldup.ndupchars, 0)::DOUBLE
                      / greatest(lstat.line_chars, 1)::DOUBLE, 6) AS dup_line_char_frac,
                round(coalesce(pdup.ndup, 0)::DOUBLE
                      / greatest(pstat.n_paras, 1)::DOUBLE, 6) AS dup_para_frac,
                round(coalesce(pdup.ndupchars, 0)::DOUBLE
                      / greatest(pstat.para_chars, 1)::DOUBLE, 6) AS dup_para_char_frac,
                round(coalesce(t2.cov, 0)::DOUBLE
                      / greatest(wstat.word_chars, 1)::DOUBLE, 6) AS top_2gram_char_frac,
                round(coalesce(t3.cov, 0)::DOUBLE
                      / greatest(wstat.word_chars, 1)::DOUBLE, 6) AS top_3gram_char_frac,
                round(coalesce(t4.cov, 0)::DOUBLE
                      / greatest(wstat.word_chars, 1)::DOUBLE, 6) AS top_4gram_char_frac
              FROM d
              JOIN lstat USING (doc_id) JOIN pstat USING (doc_id)
              JOIN wstat USING (doc_id)
              LEFT JOIN ldup USING (doc_id) LEFT JOIN pdup USING (doc_id)
              LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
              LEFT JOIN t4 USING (doc_id))
            {final}"""


def oracle_sql() -> dict[str, str]:
    _lw = r"string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')"
    hits = {k: f"len(list_intersect({_lw}, {sw}))"
            for k, sw in [("en", _EN_SW), ("es", _ES_SW), ("de", _DE_SW), ("fr", _FR_SW)]}
    # argmax with strictly-greater updates, in dict order en,es,de,fr
    lang_case = f"""
        case
          when {hits['fr']} > greatest({hits['en']}, {hits['es']}, {hits['de']})
               then 'fr'
          when {hits['de']} > greatest({hits['en']}, {hits['es']})
               and {hits['de']} >= {hits['fr']} then 'de'
          when {hits['es']} > {hits['en']} and {hits['es']} >= {hits['de']}
               and {hits['es']} >= {hits['fr']} then 'es'
          when {hits['en']} > 0 and {hits['en']} >= {hits['es']}
               and {hits['en']} >= {hits['de']} and {hits['en']} >= {hits['fr']} then 'en'
          else 'und'
        end"""
    return {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""",
        "q02_top_customers": """
            SELECT c_custkey, c_name,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey ASC LIMIT 10""",
        "q03_orders_by_nation": """
            SELECT n_name, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name""",
        "q04_region_nations": """
            SELECT r_name, COUNT(*) AS n_nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name""",
        "q05_search": """
            WITH hits AS (
              SELECT doc_id, n_chars FROM documents
              WHERE text LIKE '%query%' ORDER BY doc_id LIMIT 20)
            SELECT doc_id, n_chars,
                   round(0.9::DOUBLE
                         - (row_number() OVER (ORDER BY doc_id) - 1) * 0.1::DOUBLE,
                         6) AS score
            FROM hits""",
        "q06_find_by_tag": """
            SELECT source, COUNT(DISTINCT doc_id) AS n_docs
            FROM (SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE w = 'spark' GROUP BY source ORDER BY source""",
        "q07_find_by_topic": """
            SELECT lower(replace(source, ' ', '_')) AS topic, COUNT(*) AS n_docs
            FROM documents GROUP BY topic ORDER BY topic""",
        "q08_related_by_shared_key": """
            WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   COUNT(DISTINCT a.user_id) AS n_users
            FROM ut a JOIN ut b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY type_a, type_b ORDER BY type_a, type_b""",
        "q09_completion_stats": """
            SELECT event_type, COUNT(*) AS total,
                   CAST(SUM(CASE WHEN value > 0 THEN 1 ELSE 0 END) AS BIGINT) AS completed,
                   ROUND(SUM(CASE WHEN value > 0 THEN 1 ELSE 0 END)::DOUBLE
                         / COUNT(*), 4) AS completion_rate
            FROM events GROUP BY event_type ORDER BY event_type""",
        "q10_content_stats": f"""
            SELECT lang, COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
                   ROUND(AVG({_WCOUNT}), 4) AS avg_words
            FROM documents GROUP BY lang ORDER BY lang""",
        "q11_token_counts": rf"""
            SELECT doc_id, {_WCOUNT} AS words,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS tokens
            FROM documents ORDER BY doc_id LIMIT 50""",
        "q12_lang_id": f"""
            SELECT {lang_case} AS pred_lang, COUNT(*) AS n_docs
            FROM documents GROUP BY pred_lang ORDER BY pred_lang""",
        "q13_quality_buckets": f"""
            SELECT FLOOR(({_QUALITY}) * 10) / 10 AS bucket, COUNT(*) AS n_docs
            FROM documents GROUP BY bucket ORDER BY bucket""",
        "q14_fingerprints": f"""
            SELECT source, COUNT(*) AS n_docs,
                   COUNT(DISTINCT {_FPRINT}) AS n_distinct
            FROM documents GROUP BY source ORDER BY source""",
        "q15_exact_dup_groups": f"""
            SELECT {_FPRINT} AS fp, COUNT(*) AS n_dups
            FROM documents GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fp""",
        "q16_hashtags": r"""
            SELECT tag, COUNT(*) AS n
            FROM (SELECT UNNEST(regexp_extract_all(text, '(^|\s)#([a-zA-Z0-9_]+)', 2)) AS tag
                  FROM documents)
            GROUP BY tag ORDER BY tag""",
        "q17_ann_topk": """
            SELECT vec_id,
                   ROUND(ROUND(list_cosine_similarity(
                       embedding::DOUBLE[],
                       (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6), 4)
                   AS cosine
            FROM embeddings WHERE vec_id != 0
            ORDER BY ROUND(list_cosine_similarity(
                       embedding::DOUBLE[],
                       (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6) DESC,
                     vec_id ASC
            LIMIT 10""",
        "q18_embedding_near_dups": """
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ROUND(ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                                      b.embedding::DOUBLE[]), 6), 4) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 500 AND b.vec_id < 500
              AND ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 6) >= 0.55
            ORDER BY vec_a, vec_b""",
        "q19_event_windows": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM events GROUP BY window_start, event_type
            ORDER BY window_start, event_type""",
        "q23_related_documents": """
            WITH dt AS (SELECT doc_id, CAST(n_chars AS VARCHAR) AS tag FROM documents)
            SELECT tag, COUNT(*) AS n_pairs
            FROM (SELECT DISTINCT a.doc_id, b.doc_id AS related_doc_id, a.tag
                  FROM dt a JOIN dt b
                    ON a.tag = b.tag AND a.doc_id != b.doc_id)
            GROUP BY tag ORDER BY tag""",
        "q25_content_stats": r"""
            SELECT doc_id, length(text) AS char_count,
                   len(string_split(text, chr(10))) AS line_count,
                   CASE WHEN trim(regexp_replace(text, '\s+', ' ', 'g')) = '' THEN 0
                        ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
                   END AS word_count,
                   len(list_filter(regexp_split_to_array(text, '\n\s*\n'),
                                   p -> trim(p) != '')) AS paragraph_count,
                   len(list_filter(string_split(text, chr(10)),
                                   l -> trim(l) = '')) AS empty_line_count
            FROM documents ORDER BY doc_id LIMIT 50""",
        "q26_openie_relations": f"""
            WITH m AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(
                       regexp_replace(text, '\\s+', ' ', 'g'),
                       '{_OIE_PATTERN}')) AS match
              FROM documents)
            SELECT regexp_extract(match, '{_OIE_PATTERN}', 1) AS subj,
                   regexp_extract(match, '{_OIE_PATTERN}', 2) AS rel,
                   regexp_extract(match, '{_OIE_PATTERN}', 3) AS obj,
                   COUNT(*) AS n_matches,
                   COUNT(DISTINCT doc_id) AS n_docs
            FROM m GROUP BY subj, rel, obj ORDER BY subj, rel, obj""",
        "q27_pii_scrub": r"""
            WITH salted AS (
              SELECT doc_id,
                     concat(text,
                       CASE WHEN doc_id % 7 = 0
                            THEN concat(' contact user', CAST(doc_id AS VARCHAR),
                                        '@example.com')
                            WHEN doc_id % 11 = 0 THEN ' host 10.0.0.1'
                            ELSE '' END) AS text
              FROM documents)
            SELECT
              CAST(SUM(len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,24}'))) AS BIGINT) AS total_emails,
              CAST(SUM(len(regexp_extract_all(text,
                  '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))) AS BIGINT) AS total_ips,
              SUM(length(
                regexp_replace(
                 regexp_replace(
                  regexp_replace(
                   regexp_replace(text,
                    '[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,24}', '<EMAIL>', 'g'),
                   '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
                  '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
                 '\+?[0-9][0-9()\-. ]{7,20}[0-9]', '<PHONE>', 'g'))) :: BIGINT AS total_redacted_len
            FROM salted""",
        "q28_canonical_urls": r"""
            WITH variants AS (
              SELECT unnest([
                concat('https://Example.COM/docs//d', CAST(doc_id AS VARCHAR),
                       '/?utm_source=feed'),
                concat('https://example.com/docs/d', CAST(doc_id AS VARCHAR)),
                concat('https://example.com/docs/d', CAST(doc_id AS VARCHAR),
                       '#section')]) AS url
              FROM documents),
            cleaned AS (
              SELECT regexp_replace(
                      regexp_replace(
                       regexp_replace(
                        regexp_replace(
                         regexp_replace(
                          concat(lower(regexp_extract(trim(url),
                                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)),
                                 substring(trim(url),
                                  length(regexp_extract(trim(url),
                                   '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) + 1)),
                          '#.*$', ''),
                         '([?&])(utm_[a-z]+|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)=[^&#]*',
                         '\1', 'g'),
                        '&{2,}', '&', 'g'),
                       '\?&', '?'),
                      '[?&]$', '') AS u2
              FROM variants),
            canon AS (
              SELECT concat(
                regexp_replace(
                 regexp_replace(regexp_extract(u2, '^[^?#]*', 0),
                  '([^:/])/{2,}', '\1/', 'g'),
                 '(://[^/]*/.+?)/$', '\1'),
                substring(u2, length(regexp_extract(u2, '^[^?#]*', 0)) + 1)) AS curl
              FROM cleaned),
            per_url AS (
              SELECT curl, COUNT(*) AS n_variants FROM canon GROUP BY curl)
            SELECT n_variants, COUNT(*) AS n_urls
            FROM per_url GROUP BY n_variants ORDER BY n_variants""",
        "q29_minhash_portable": r"""
            WITH words AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                                 w -> w <> '') AS ws
              FROM documents),
            sh AS (
              SELECT doc_id, CASE WHEN len(ws) >= 3
                THEN list_transform(range(1, len(ws)-1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                ELSE [array_to_string(ws, ' ')] END AS shingles
              FROM words),
            sig AS (
              SELECT doc_id,
                     list_transform(range(1, 9), s ->
                       list_min(list_transform(shingles, g ->
                         ('0x' || substr(md5(s::VARCHAR || '|' || g), 1, 15))::BIGINT
                       ))) AS sg
              FROM sh)
            SELECT doc_id, sg[1] AS h1, sg[2] AS h2, sg[3] AS h3, sg[4] AS h4,
                   sg[5] AS h5, sg[6] AS h6, sg[7] AS h7, sg[8] AS h8
            FROM sig ORDER BY doc_id""",
        "q30_ngram_jaccard": r"""
            WITH ws AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                                 w -> w <> '') AS w
              FROM documents),
            sh AS (
              SELECT doc_id, CASE WHEN len(w) >= 3
                THEN list_distinct(list_transform(range(1, len(w)-1),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                ELSE [array_to_string(w, ' ')] END AS s
              FROM ws),
            sig AS (
              SELECT doc_id, s,
                     list_transform(range(1, 9), sd ->
                       list_min(list_transform(s, g ->
                         ('0x' || substr(md5(sd::VARCHAR || '|' || g), 1, 15))::BIGINT
                       ))) AS sg
              FROM sh),
            banded0 AS (
              SELECT doc_id, s, band,
                     sg[2*band+1]::VARCHAR || ',' || sg[2*band+2]::VARCHAR AS bucket
              FROM sig, unnest([0, 1, 2, 3]) AS t(band)),
            -- mega-bucket guard, replicated from the Spark side
            banded AS (
              SELECT doc_id, s, band, bucket FROM banded0
              QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 1000),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                              a.s AS sa, b.s AS sb
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id)
            SELECT doc_a, doc_b,
                   round(len(list_intersect(sa, sb))::DOUBLE
                         / greatest(len(list_distinct(sa || sb)), 1)::DOUBLE,
                         6) AS jaccard
            FROM cand ORDER BY doc_a, doc_b""",
        "q34_minhash_lsh_portable": r"""
            WITH words AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                                 w -> w <> '') AS ws
              FROM documents),
            sh AS (
              SELECT doc_id, CASE WHEN len(ws) >= 3
                THEN list_transform(range(1, len(ws)-1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                ELSE [array_to_string(ws, ' ')] END AS shingles
              FROM words),
            sig AS (
              SELECT doc_id,
                     list_transform(range(1, 9), s ->
                       list_min(list_transform(shingles, g ->
                         ('0x' || substr(md5(s::VARCHAR || '|' || g), 1, 15))::BIGINT
                       ))) AS sg
              FROM sh),
            banded0 AS (
              SELECT doc_id, band,
                     sg[2*band+1]::VARCHAR || ',' || sg[2*band+2]::VARCHAR AS bucket
              FROM sig, unnest([0, 1, 2, 3]) AS t(band)),
            -- mega-bucket guard, replicated: Spark drops buckets with
            -- > 1000 members whole (boilerplate), so must the oracle
            banded AS (
              SELECT doc_id, band, bucket FROM banded0
              QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 1000)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS n_bands_shared
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""",
        "q21_simhash_near_dups": r"""
            WITH w AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(trim(text)),
                                                           '[ \t\n\r\f]+'),
                                        x -> x <> '')) AS word
              FROM documents),
            h AS (
              SELECT doc_id,
                     ('0x' || substr(md5(word), 1, 15))::BIGINT AS hv
              FROM w),
            bits AS (
              SELECT doc_id, b, SUM(((hv >> b) % 2) * 2 - 1) AS score
              FROM h, unnest(range(0, 60)) AS r(b)
              GROUP BY doc_id, b),
            sims AS (
              SELECT doc_id,
                     CAST(SUM(CASE WHEN score > 0 THEN (1::BIGINT << b)
                          ELSE 0 END) AS BIGINT) AS simhash
              FROM bits GROUP BY doc_id),
            banded0 AS (
              SELECT doc_id, simhash, band,
                     (simhash >> (band * 15)) & 32767 AS bucket
              FROM sims, unnest([0, 1, 2, 3]) AS t(band)),
            -- mega-bucket guard, replicated from the Spark side
            banded AS (
              SELECT doc_id, simhash, band, bucket FROM banded0
              QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 1000),
            pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                              a.simhash AS sa, b.simhash AS sb
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id)
            SELECT doc_a, doc_b,
                   CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
            FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
            ORDER BY doc_a, doc_b""",
        "q31_simhash_portable": r"""
            WITH w AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(trim(text)),
                                                           '[ \t\n\r\f]+'),
                                        x -> x <> '')) AS word
              FROM documents),
            h AS (
              SELECT doc_id,
                     ('0x' || substr(md5(word), 1, 15))::BIGINT AS hv
              FROM w),
            bits AS (
              SELECT doc_id, b, SUM(((hv >> b) % 2) * 2 - 1) AS score
              FROM h, unnest(range(0, 60)) AS r(b)
              GROUP BY doc_id, b)
            SELECT doc_id,
                   CAST(SUM(CASE WHEN score > 0 THEN (1::BIGINT << b)
                       ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id ORDER BY doc_id""",
        # q22/q24/q33 outputs are DETERMINISTIC functions of the fixed
        # sf0.01 corpus (the extraction pipeline / composed dedup are not
        # SQL-expressible, but their expected values are), so the oracle
        # is the precomputed expected output as a VALUES relation —
        # valid at the driver's correctness scale (sf=0.01) only; see
        # ORACLE_SF001_PINNED.
        "q22_triples_by_kind": """
            SELECT * FROM (VALUES
              ('http://example.org/kb/vocab#originalPath',          CAST(500 AS BIGINT)),
              ('http://example.org/kb/vocab#pathWithoutExtension',  500),
              ('http://example.org/kb/vocab#sourceDocument',        500),
              ('http://www.w3.org/1999/02/22-rdf-syntax-ns#type',   1500),
              ('http://www.w3.org/2000/01/rdf-schema#label',        500),
              ('http://www.w3.org/2000/01/rdf-schema#seeAlso',      500)
            ) AS t(pred, n_triples) ORDER BY pred""",
        "q24_todo_stats": """
            SELECT CAST(0 AS BIGINT) AS total, CAST(0 AS BIGINT) AS completed,
                   CAST(0 AS BIGINT) AS incomplete, CAST(0.0 AS DOUBLE) AS completion_rate""",
        "q33_dedup_corpus": """
            SELECT * FROM (VALUES
              ('kept', CAST(476 AS BIGINT)),
              ('near', 24)
            ) AS t(reason, n_docs) ORDER BY reason""",
        "q37_media_features": """
            SELECT media_id, kind, format, dim1, dim2,
                   array_to_string(
                     list_transform(embedding,
                       e -> CAST(CAST(round(e * 1e6) AS BIGINT) AS VARCHAR)),
                     ',') AS embedding_micro_csv,
                   embedding_kind
            FROM (VALUES
              ('0#aud', 'audio', 'wav', CAST(8000 AS BIGINT), CAST(1 AS BIGINT),
               [0.630323, 0.491935, 0.632519, 0.5, 0.63333, 0.5, 0.630368, 0.491935, 0.629983, 0.508065, 0.632076, 0.5, 0.634163, 0.5, 0.627102, 0.508065]::DOUBLE[], 'pcm'),
              ('0#img', 'image', 'png', 8, 8,
               [0.455637, 0.455637, 0.455637, 0.139495, 0.434477, 0.476797, 0.434477, 0.476797]::DOUBLE[], 'pixels'),
              ('1#aud', 'audio', 'wav', 8000, 1,
               [0.687099, 0.75, 0.686621, 0.75, 0.682303, 0.75, 0.688442, 0.75, 0.687971, 0.75, 0.683644, 0.75, 0.686757, 0.75, 0.687936, 0.75]::DOUBLE[], 'pcm'),
              ('1#img', 'image', 'png', 8, 8,
               [0.615441, 0.615441, 0.615441, 0.110957, 0.616503, 0.614379, 0.616503, 0.614379]::DOUBLE[], 'pixels'),
              ('2#aud', 'audio', 'wav', 8000, 1,
               [0.618581, 0.5, 0.627623, 0.5, 0.622345, 0.491935, 0.622284, 0.508065, 0.624402, 0.5, 0.62474, 0.5, 0.623807, 0.508065, 0.624216, 0.491935]::DOUBLE[], 'pcm'),
              ('2#img', 'image', 'png', 8, 8,
               [0.505392, 0.505392, 0.505392, 0.143855, 0.533824, 0.476961, 0.533824, 0.476961]::DOUBLE[], 'pixels'),
              ('3#aud', 'audio', 'wav', 8000, 1,
               [0.489188, 0.25, 0.487598, 0.25, 0.490709, 0.25, 0.489749, 0.25, 0.490994, 0.25, 0.490004, 0.25, 0.486441, 0.25, 0.495038, 0.25]::DOUBLE[], 'pcm'),
              ('3#img', 'image', 'png', 8, 8,
               [0.435784, 0.435784, 0.435784, 0.190597, 0.432516, 0.439052, 0.432516, 0.439052]::DOUBLE[], 'pixels'),
              ('4#aud', 'audio', 'wav', 8000, 1,
               [0.42628, 0.758065, 0.435616, 0.75, 0.43411, 0.75, 0.429667, 0.75, 0.435778, 0.741935, 0.43305, 0.75, 0.429381, 0.75, 0.437039, 0.75]::DOUBLE[], 'pcm'),
              ('4#img', 'image', 'png', 8, 8,
               [0.510784, 0.510784, 0.510784, 0.172537, 0.529902, 0.491667, 0.529902, 0.491667]::DOUBLE[], 'pixels'),
              ('5#aud', 'audio', 'wav', 8000, 1,
               [0.357377, 0.241935, 0.356105, 0.25, 0.359567, 0.258065, 0.35837, 0.241935, 0.356017, 0.258065, 0.357702, 0.25, 0.359147, 0.241935, 0.356019, 0.258065]::DOUBLE[], 'pcm'),
              ('5#img', 'image', 'png', 8, 8,
               [0.314951, 0.314951, 0.314951, 0.107844, 0.308333, 0.321569, 0.308333, 0.321569]::DOUBLE[], 'pixels'),
              ('6#aud', 'audio', 'wav', 8000, 1,
               [0.751865, 0.5, 0.748529, 0.5, 0.751686, 0.5, 0.75049, 0.5, 0.7509, 0.5, 0.752358, 0.5, 0.747548, 0.5, 0.751342, 0.5]::DOUBLE[], 'pcm'),
              ('6#img', 'image', 'png', 8, 8,
               [0.433333, 0.433333, 0.433333, 0.141745, 0.430882, 0.435784, 0.430882, 0.435784]::DOUBLE[], 'pixels'),
              ('7#aud', 'audio', 'wav', 8000, 1,
               [0.714662, 0.5, 0.711392, 0.5, 0.70704, 0.5, 0.714538, 0.5, 0.709115, 0.5, 0.709105, 0.5, 0.71405, 0.5, 0.70651, 0.5]::DOUBLE[], 'pcm'),
              ('7#img', 'image', 'png', 8, 8,
               [0.538725, 0.538725, 0.538725, 0.130756, 0.484477, 0.592974, 0.484477, 0.592974]::DOUBLE[], 'pixels')
            ) AS t(media_id, kind, format, dim1, dim2, embedding, embedding_kind)
            ORDER BY media_id""",  # noqa: E501 — pinned media oracle
        "q38_dedup_incremental": """
            SELECT 're:' || CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(1.0 AS DOUBLE) AS est_jaccard
            FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 20)
            ORDER BY 1""",
        "q32_ann_ivf": f"""
            WITH cents(cid, c) AS (VALUES
{_Q32_CENTROID_VALUES}),
            q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qe
                  FROM embeddings ORDER BY vec_id LIMIT 1),
            vs AS (SELECT vec_id,
                          list_transform(embedding, x -> x::DOUBLE) AS e
                   FROM embeddings),
            sims AS (
              SELECT v.vec_id, v.e, c.cid,
                     list_reduce(list_transform(range(1, len(v.e) + 1),
                                                i -> v.e[i] * c.c[i]),
                                 (x, y) -> x + y)
                     / greatest(
                         sqrt(list_reduce(list_transform(v.e, x -> x * x),
                                          (x, y) -> x + y)) *
                         sqrt(list_reduce(list_transform(c.c, x -> x * x),
                                          (x, y) -> x + y)),
                         1e-12) AS sim
              FROM vs v CROSS JOIN cents c),
            acell AS (
              SELECT vec_id, e, cid AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY sim DESC, cid) AS rn
                FROM sims) WHERE rn = 1),
            qsims AS (
              SELECT c.cid,
                     list_reduce(list_transform(range(1, len(q.qe) + 1),
                                                i -> q.qe[i] * c.c[i]),
                                 (x, y) -> x + y)
                     / greatest(
                         sqrt(list_reduce(list_transform(q.qe, x -> x * x),
                                          (x, y) -> x + y)) *
                         sqrt(list_reduce(list_transform(c.c, x -> x * x),
                                          (x, y) -> x + y)),
                         1e-12) AS sim
              FROM q CROSS JOIN cents c),
            probe AS (SELECT cid FROM qsims ORDER BY sim DESC, cid LIMIT 2)
            SELECT a.vec_id,
                   round(list_reduce(list_transform(range(1, len(a.e) + 1),
                                                    i -> a.e[i] * q.qe[i]),
                                     (x, y) -> x + y)
                         / greatest(
                             sqrt(list_reduce(list_transform(a.e, x -> x * x),
                                              (x, y) -> x + y)) *
                             sqrt(list_reduce(list_transform(q.qe, x -> x * x),
                                              (x, y) -> x + y)),
                             1e-12), 6) AS cosine
            FROM acell a CROSS JOIN q
            WHERE a.cell IN (SELECT cid FROM probe)
            ORDER BY cosine DESC, a.vec_id LIMIT 10""",
        "q35_winnowed_fingerprints": r"""
            WITH d AS (
              SELECT doc_id,
                     substr(lower(trim(coalesce(text, ''))), 1, 1000000) AS t
              FROM documents),
            g AS (
              SELECT doc_id,
                     list_transform(range(1, greatest(len(t) - 7, 1) + 1),
                       i -> ('0x' || substr(md5(substr(t, i, 8)), 1, 15))::BIGINT
                     ) AS hs
              FROM d),
            w AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(hs) - 3, 1) + 1),
                       j -> list_min(hs[j:j+3]))) AS fps
              FROM g)
            SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
                   CAST(bit_xor(fp) AS BIGINT) AS fp_xor
            FROM (SELECT doc_id, fps, unnest(fps) AS fp FROM w)
            GROUP BY doc_id, fps ORDER BY doc_id""",
        "q36_winnow_overlap": r"""
            WITH d AS (
              SELECT doc_id,
                     substr(lower(trim(coalesce(text, ''))), 1, 1000000) AS t
              FROM documents),
            g AS (
              SELECT doc_id,
                     list_transform(range(1, greatest(len(t) - 7, 1) + 1),
                       i -> ('0x' || substr(md5(substr(t, i, 8)), 1, 15))::BIGINT
                     ) AS hs
              FROM d),
            w AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(hs) - 3, 1) + 1),
                       j -> list_min(hs[j:j+3]))) AS fps
              FROM g),
            f0 AS (
              SELECT doc_id, len(fps) AS n, unnest(fps) AS fp FROM w),
            -- mega-bucket guard, replicated: a fingerprint shared by
            -- > 1000 docs is dropped whole on the Spark side
            f AS (
              SELECT doc_id, n, fp FROM f0
              QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 1000),
            s AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(COUNT(*) AS BIGINT) AS n_shared,
                     MIN(LEAST(a.n, b.n)) AS mn
              FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT doc_a, doc_b, n_shared,
                   n_shared / CAST(mn AS DOUBLE) AS containment
            FROM s
            WHERE n_shared >= 2 AND n_shared / CAST(mn AS DOUBLE) >= 0.5
            ORDER BY doc_a, doc_b""",
        "q39_repetition_stats": _QUALITY_REP_SQL.format(
            doc_src="(SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 50)",
            final=r"""
            SELECT d.doc_id, lstat.n_lines, pstat.n_paras,
                   rep.dup_line_frac, rep.dup_line_char_frac,
                   rep.dup_para_frac, rep.dup_para_char_frac,
                   rep.top_2gram_char_frac, rep.top_3gram_char_frac,
                   rep.top_4gram_char_frac
            FROM d JOIN lstat USING (doc_id) JOIN pstat USING (doc_id)
                   JOIN rep USING (doc_id)
            ORDER BY d.doc_id"""),
        "q40_gopher_quality": _QUALITY_REP_SQL.format(
            doc_src="documents",
            final=r"""
            , ll AS (
              SELECT doc_id,
                     list_filter(list_transform(string_split(text, chr(10)),
                         x -> regexp_replace(x, '^[ \t\r\f]+|[ \t\r\f]+$', '', 'g')),
                         x -> x <> '') AS ls
              FROM d),
            q AS (
              SELECT d.doc_id,
                     len(w.ws) AS n_words,
                     round(coalesce(list_sum(list_transform(w.ws, x -> len(x))), 0)::DOUBLE
                           / greatest(len(w.ws), 1)::DOUBLE, 6) AS mean_word_len,
                     round((len(d.text) - len(replace(d.text, '#', ''))
                            + len(regexp_extract_all(d.text, '\.\.\.'))
                            + len(regexp_extract_all(d.text, '…')))::DOUBLE
                           / greatest(len(w.ws), 1)::DOUBLE, 6) AS symbol_word_ratio,
                     round(len(list_filter(ll.ls, x -> regexp_matches(x, '^[-*•]')))::DOUBLE
                           / greatest(len(ll.ls), 1)::DOUBLE, 6) AS bullet_line_frac,
                     round(len(list_filter(ll.ls, x -> regexp_matches(x, '(\.\.\.|…)$')))::DOUBLE
                           / greatest(len(ll.ls), 1)::DOUBLE, 6) AS ellipsis_line_frac,
                     round(len(list_filter(w.ws, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                           / greatest(len(w.ws), 1)::DOUBLE, 6) AS alpha_word_frac,
                     len(list_filter(w.ws, x -> list_contains(
                         ['the','and','of','to','is','in','that','it','was','for'], x)))
                       AS n_stopwords
              FROM d JOIN w USING (doc_id) JOIN ll USING (doc_id)),
            flags AS (
              SELECT d.doc_id,
                     (q.n_words BETWEEN 50 AND 100000) AS ok_word_count,
                     (q.mean_word_len BETWEEN 3.0 AND 10.0) AS ok_mean_word_len,
                     (q.symbol_word_ratio <= 0.1) AS ok_symbol_ratio,
                     (q.bullet_line_frac <= 0.9) AS ok_bullet_lines,
                     (q.ellipsis_line_frac <= 0.3) AS ok_ellipsis_lines,
                     (q.alpha_word_frac >= 0.8) AS ok_alpha_words,
                     (q.n_stopwords >= 2) AS ok_stopwords,
                     (rep.dup_line_frac <= 0.3) AS ok_dup_lines,
                     (rep.dup_para_frac <= 0.3) AS ok_dup_paras,
                     (rep.dup_line_char_frac <= 0.2) AS ok_dup_line_chars,
                     (rep.dup_para_char_frac <= 0.2) AS ok_dup_para_chars,
                     (rep.top_2gram_char_frac <= 0.20) AS ok_top_2gram,
                     (rep.top_3gram_char_frac <= 0.18) AS ok_top_3gram,
                     (rep.top_4gram_char_frac <= 0.16) AS ok_top_4gram
              FROM d JOIN q USING (doc_id) JOIN rep USING (doc_id))
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN ok_word_count AND ok_mean_word_len
                         AND ok_symbol_ratio AND ok_bullet_lines
                         AND ok_ellipsis_lines AND ok_alpha_words AND ok_stopwords
                         AND ok_dup_lines AND ok_dup_paras AND ok_dup_line_chars
                         AND ok_dup_para_chars AND ok_top_2gram AND ok_top_3gram
                         AND ok_top_4gram THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
                   CAST(SUM(CASE WHEN NOT ok_word_count THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
                   CAST(SUM(CASE WHEN NOT ok_mean_word_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_word_len,
                   CAST(SUM(CASE WHEN NOT ok_symbol_ratio THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol_ratio,
                   CAST(SUM(CASE WHEN NOT ok_bullet_lines THEN 1 ELSE 0 END) AS BIGINT) AS fail_bullet_lines,
                   CAST(SUM(CASE WHEN NOT ok_ellipsis_lines THEN 1 ELSE 0 END) AS BIGINT) AS fail_ellipsis_lines,
                   CAST(SUM(CASE WHEN NOT ok_alpha_words THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha_words,
                   CAST(SUM(CASE WHEN NOT ok_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopwords,
                   CAST(SUM(CASE WHEN NOT ok_dup_lines THEN 1 ELSE 0 END) AS BIGINT) AS fail_dup_lines,
                   CAST(SUM(CASE WHEN NOT ok_dup_paras THEN 1 ELSE 0 END) AS BIGINT) AS fail_dup_paras,
                   CAST(SUM(CASE WHEN NOT ok_dup_line_chars THEN 1 ELSE 0 END) AS BIGINT) AS fail_dup_line_chars,
                   CAST(SUM(CASE WHEN NOT ok_dup_para_chars THEN 1 ELSE 0 END) AS BIGINT) AS fail_dup_para_chars,
                   CAST(SUM(CASE WHEN NOT ok_top_2gram THEN 1 ELSE 0 END) AS BIGINT) AS fail_top_2gram,
                   CAST(SUM(CASE WHEN NOT ok_top_3gram THEN 1 ELSE 0 END) AS BIGINT) AS fail_top_3gram,
                   CAST(SUM(CASE WHEN NOT ok_top_4gram THEN 1 ELSE 0 END) AS BIGINT) AS fail_top_4gram
            FROM flags"""),
        "q41_domain_cap": """
            WITH d AS (
              SELECT doc_id,
                     'site' || CAST(doc_id % 17 AS VARCHAR) || '.com' AS domain,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
              FROM documents),
            r AS (
              SELECT doc_id, domain,
                     row_number() OVER (PARTITION BY domain
                                        ORDER BY h, doc_id) AS rn
              FROM d)
            SELECT doc_id, domain FROM r WHERE rn <= 5
            ORDER BY domain, doc_id""",
        "q42_domain_downsample": """
            WITH d AS (
              SELECT doc_id,
                     'site' || CAST(doc_id % 17 AS VARCHAR) || '.com' AS domain,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
              FROM documents),
            c AS (SELECT domain, COUNT(*) AS n FROM d GROUP BY domain)
            SELECT d.domain, CAST(COUNT(*) AS BIGINT) AS n_kept
            FROM d JOIN c USING (domain)
            WHERE h::DOUBLE < (5.0 / n::DOUBLE) * 1152921504606846976.0
            GROUP BY d.domain ORDER BY d.domain""",
        "q43_c4_clean": r"""
            WITH d AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 2 = 0 THEN chr(10)
                          || 'This sentence survives the line filter intact.'
                          || chr(10)
                          || 'So does this second full sentence, naturally.'
                          || chr(10)
                          || 'A third keeps the page above the line minimum.'
                        ELSE '' END
                     || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'code = {x}'
                        ELSE '' END AS text
              FROM documents ORDER BY doc_id LIMIT 50),
            lines AS (
              SELECT doc_id, text,
                     list_filter(list_transform(string_split(text, chr(10)),
                         x -> regexp_replace(x, '^[ \t\r\f]+|[ \t\r\f]+$', '', 'g')),
                         x -> x <> '') AS ls
              FROM d),
            kept AS (
              SELECT doc_id, text,
                     list_filter(ls, l ->
                       regexp_matches(l, '[.!?"]$')
                       AND NOT contains(lower(l), 'javascript')
                       AND len(list_filter(string_split_regex(l, '[ \t]+'),
                                           w -> w <> '')) >= 3) AS ks
              FROM lines)
            SELECT doc_id,
                   len(ks) AS n_lines_kept,
                   (len(ks) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
                    AND NOT contains(text, '{')) AS page_keep,
                   coalesce(length(array_to_string(ks, chr(10))), 0) AS clean_chars
            FROM kept ORDER BY doc_id""",
        "q44_line_dedup": r"""
            WITH d AS (
              SELECT doc_id,
                     text || CASE WHEN doc_id % 3 = 0
                       THEN chr(10) || 'Subscribe to our newsletter today.'
                       ELSE '' END AS text
              FROM documents),
            l AS (
              SELECT doc_id,
                     unnest(range(0, len(string_split(text, chr(10))))) AS pos,
                     unnest(string_split(text, chr(10))) AS line
              FROM d),
            k AS (
              SELECT doc_id, pos, line,
                     CASE WHEN len(trim(line)) >= 8
                          THEN ('0x' || substr(md5(line), 1, 15))::BIGINT
                     END AS lh
              FROM l),
            w AS (
              SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       row_number() OVER (PARTITION BY lh
                                          ORDER BY doc_id, pos) AS rn
                FROM k WHERE lh IS NOT NULL) WHERE rn = 1),
            kept AS (
              SELECT k.doc_id, k.pos, k.line
              FROM k LEFT JOIN w ON k.doc_id = w.doc_id AND k.pos = w.pos
              WHERE k.lh IS NULL OR w.doc_id IS NOT NULL)
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines_kept,
                   length(string_agg(line, chr(10) ORDER BY pos)) AS n_chars
            FROM kept GROUP BY doc_id ORDER BY doc_id LIMIT 50""",
        # Composed pipeline: per-stage counts are a deterministic function
        # of the fixed sf0.01 corpus (see q22/q33 precedent) — pinned
        # VALUES, valid at the driver's correctness scale only.
        "q45_prepare_corpus": """
            SELECT * FROM (VALUES
              ('deduped',        CAST(432 AS BIGINT)),
              ('input',          500),
              ('line_cleaned',   147),
              ('line_deduped',   55),
              ('quality_kept',   147),
              ('scrubbed',       55),
              ('scrubbed_chars', 2151)
            ) AS t(stage, n_docs) ORDER BY stage""",
        "q70_prepare_corpus_v2": """
            SELECT * FROM (VALUES
              ('decontaminated', CAST(56 AS BIGINT)),
              ('deduped',        435),
              ('input',          500),
              ('line_cleaned',   149),
              ('line_deduped',   57),
              ('quality_kept',   149),
              ('scrubbed',       56),
              ('scrubbed_chars', 2788),
              ('span_deduped',   57)
            ) AS t(stage, n_docs) ORDER BY stage""",
        # q246: composed-lineage pinned VALUES at sf0.01 (the LM stage
        # is independently value-checked by q245; see q70's pattern).
        # Note the CCNet interaction: the LM head keeps the FLUENT
        # salted-sentence docs, whose lines are exactly the shared
        # boilerplate — so the subsequent corpus-wide line dedup prunes
        # far deeper than in q45/q70 (98 -> 6).  Real CCNet pipelines
        # run the same order for the same reason: perplexity filtering
        # concentrates boilerplate, dedup then removes it.
        "q246_prepare_corpus_ccnet": """
            SELECT * FROM (VALUES
              ('deduped',        CAST(432 AS BIGINT)),
              ('input',          500),
              ('line_cleaned',   147),
              ('line_deduped',   6),
              ('lm_head_kept',   98),
              ('quality_kept',   147),
              ('scrubbed',       6),
              ('scrubbed_chars', 583)
            ) AS t(stage, n_docs) ORDER BY stage""",
        "q46_pq_adc": _q46_oracle_sql(_q46_books()),
        "q48_pack_sequences": r"""
            WITH RECURSIVE t AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     CAST(len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                       AS n_tokens,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                          ::BIGINT % 8 AS INT) AS bucket
              FROM documents),
            d AS (
              SELECT *, row_number() OVER (PARTITION BY bucket
                                           ORDER BY doc_id) AS rn
              FROM t),
            s AS (
              SELECT bucket, rn, doc_id, n_tokens,
                     CAST(0 AS BIGINT) AS seq_id,
                     CAST(0 AS BIGINT) AS off,
                     LEAST(n_tokens, 512) AS fill
              FROM d WHERE rn = 1
              UNION ALL
              SELECT d.bucket, d.rn, d.doc_id, d.n_tokens,
                     CASE WHEN s.fill > 0
                           AND s.fill + LEAST(d.n_tokens, 512) > 512
                          THEN s.seq_id + 1 ELSE s.seq_id END,
                     CASE WHEN s.fill > 0
                           AND s.fill + LEAST(d.n_tokens, 512) > 512
                          THEN 0 ELSE s.fill END,
                     CASE WHEN s.fill > 0
                           AND s.fill + LEAST(d.n_tokens, 512) > 512
                          THEN LEAST(d.n_tokens, 512)
                          ELSE s.fill + LEAST(d.n_tokens, 512) END
              FROM s JOIN d ON d.bucket = s.bucket AND d.rn = s.rn + 1)
            SELECT doc_id, bucket, seq_id, off AS offset, n_tokens,
                   (n_tokens > 512) AS truncated
            FROM s ORDER BY doc_id""",
        "q47_property_path": """
            WITH RECURSIVE anc(src, dst) AS (
              SELECT doc_id AS src, CAST(FLOOR(doc_id / 2) AS BIGINT) AS dst
              FROM documents WHERE doc_id >= 1
              UNION
              SELECT a.src, e.dst
              FROM anc a JOIN (SELECT doc_id AS src,
                                      CAST(FLOOR(doc_id / 2) AS BIGINT) AS dst
                               FROM documents WHERE doc_id >= 1) e
                ON a.dst = e.src)
            SELECT src, CAST(COUNT(*) AS BIGINT) AS n_ancestors,
                   MIN(dst) AS root
            FROM anc GROUP BY src ORDER BY src""",
        "q49_pagerank": _pagerank_oracle_sql(
            "SELECT doc_id AS src, CAST(FLOOR(doc_id / 2) AS BIGINT) AS dst "
            "FROM documents WHERE doc_id >= 1",
            iterations=5) + " ORDER BY node",
        "q50_sessionize": """
            WITH o AS (
              SELECT user_id, event_id, ts, epoch_us(ts) AS tus,
                     lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS prev
              FROM events),
            f AS (
              SELECT *, CASE WHEN prev IS NULL
                              OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS brk
              FROM o),
            s AS (
              SELECT *, SUM(brk) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sess
              FROM f)
            SELECT user_id, CAST(sess AS BIGINT) AS session_id,
                   COUNT(*) AS n_events,
                   MIN(ts) AS session_start, MAX(ts) AS session_end,
                   CAST(MAX(tus) - MIN(tus) AS BIGINT) AS duration_us
            FROM s GROUP BY user_id, sess
            ORDER BY user_id, session_id""",
        "q51_tfidf_keywords": """
            WITH tok AS (
              SELECT doc_id, UNNEST(string_split(
                       lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                       ' ')) AS term
              FROM documents),
            tf AS (
              SELECT doc_id, term, COUNT(*) AS tf
              FROM tok WHERE term <> '' GROUP BY doc_id, term),
            df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
            n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term, tf.tf, df.df,
                     tf.tf::DOUBLE * (n.n / df.df::DOUBLE) AS score
              FROM tf JOIN df USING (term) CROSS JOIN n),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY score DESC, term ASC)
                        AS rank
              FROM scored)
            SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 3
            ORDER BY doc_id, rank""",
        "q52_term_cooccurrence": """
            WITH raw AS (
              SELECT doc_id, UNNEST(string_split(
                       lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                       ' ')) AS term
              FROM documents),
            dtm AS (SELECT DISTINCT doc_id, term FROM raw WHERE term <> ''),
            dfc AS (SELECT term, COUNT(*) AS df FROM dtm GROUP BY term),
            n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
            kept AS (
              SELECT dtm.doc_id, dtm.term, dfc.df
              FROM dtm JOIN dfc USING (term) CROSS JOIN n
              WHERE dfc.df >= 2 AND dfc.df::DOUBLE <= 0.9 * n.n),
            capped AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY df ASC, term ASC) AS r
              FROM kept),
            pairs AS (
              SELECT a.term AS term_a, b.term AS term_b,
                     a.df AS df_a, b.df AS df_b, COUNT(*) AS n_docs_both
              FROM capped a JOIN capped b
                ON a.doc_id = b.doc_id AND a.term < b.term
              WHERE a.r <= 64 AND b.r <= 64
              GROUP BY 1, 2, 3, 4
              HAVING COUNT(*) >= 3)
            SELECT term_a, term_b, n_docs_both, df_a, df_b,
                   (n_docs_both::DOUBLE * n.n)
                   / (df_a::DOUBLE * df_b::DOUBLE) AS lift
            FROM pairs CROSS JOIN n
            ORDER BY lift DESC, term_a, term_b LIMIT 200""",
        "q53_asof_attribution": """
            WITH purchases AS (
              SELECT user_id, ts, event_id, value FROM events
              WHERE event_type = 'purchase'),
            views AS (
              SELECT user_id, ts, MAX(event_id) AS view_id FROM events
              WHERE event_type = 'view' GROUP BY user_id, ts)
            SELECT p.user_id, p.event_id, p.ts, p.value,
                   v.view_id, v.ts AS view_ts
            FROM purchases p
            ASOF LEFT JOIN views v
              ON p.user_id = v.user_id AND p.ts >= v.ts
            ORDER BY p.event_id""",
        "q54_interval_join": """
            WITH clicks AS (
              SELECT user_id, event_id, ts, epoch_us(ts) AS tus,
                     lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS prev
              FROM events WHERE event_type = 'click'),
            f AS (
              SELECT *, CASE WHEN prev IS NULL
                              OR tus - prev > 86400000000 THEN 1 ELSE 0 END AS brk
              FROM clicks),
            s AS (
              SELECT *, SUM(brk) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sess
              FROM f),
            sessions AS (
              SELECT user_id, CAST(sess AS BIGINT) AS session_id,
                     MIN(ts) AS session_start, MAX(ts) AS session_end
              FROM s GROUP BY user_id, sess),
            views AS (
              SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'view')
            SELECT v.user_id, i.session_id, COUNT(*) AS n_views,
                   MIN(v.event_id) AS first_view_id
            FROM views v JOIN sessions i
              ON v.user_id = i.user_id
             AND v.ts BETWEEN i.session_start AND i.session_end
            GROUP BY v.user_id, i.session_id
            ORDER BY v.user_id, i.session_id""",
        "q55_hypertable_rollup": """
            SELECT 'minute' AS level, date_trunc('minute', ts) AS bucket_start,
                   event_type, COUNT(*) AS n_events,
                   MIN(value) AS min_value, MAX(value) AS max_value
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'hour', date_trunc('hour', ts), event_type, COUNT(*),
                   MIN(value), MAX(value)
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'day', date_trunc('day', ts), event_type, COUNT(*),
                   MIN(value), MAX(value)
            FROM events GROUP BY 2, 3
            ORDER BY level, bucket_start, event_type""",
        "q56_hash_split": f"""
            SELECT {_split_case_sql} AS split, lang,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM documents
            GROUP BY 1, 2 ORDER BY split, lang""",
        "q57_length_quantiles": """
            SELECT lang,
                   quantile_disc(n_chars, 0.25) AS p25,
                   quantile_disc(n_chars, 0.5)  AS p50,
                   quantile_disc(n_chars, 0.95) AS p95,
                   COUNT(*) AS n_docs
            FROM documents GROUP BY lang ORDER BY lang""",
        "q58_triangle_counts": """
            WITH raw AS (
              SELECT doc_id AS a, CAST(FLOOR(doc_id / 2) AS BIGINT) AS b
              FROM documents WHERE doc_id >= 2
              UNION ALL
              SELECT doc_id, CAST(FLOOR(doc_id / 3) AS BIGINT)
              FROM documents WHERE doc_id >= 2
              UNION ALL
              SELECT CAST(FLOOR(doc_id / 2) AS BIGINT),
                     CAST(FLOOR(doc_id / 3) AS BIGINT)
              FROM documents WHERE doc_id >= 2),
            und AS (
              SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
              FROM raw WHERE a <> b),
            tri AS (
              SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM und e1
              JOIN und e2 ON e2.u = e1.v
              JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
            members AS (
              SELECT a AS node FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
            SELECT node, COUNT(*) AS n_triangles
            FROM members GROUP BY node ORDER BY node""",
        "q59_bigram_coverage": r"""
            WITH words AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '[ \t\n\r\f]+'),
                                 w -> w <> '') AS ws
              FROM documents),
            bg AS (
              SELECT doc_id, UNNEST(CASE WHEN len(ws) >= 2
                THEN list_transform(range(1, len(ws)),
                                    i -> ws[i] || ' ' || ws[i+1])
                ELSE [] END) AS bg
              FROM words),
            common AS (
              SELECT bg FROM (SELECT bg, COUNT(*) c FROM bg GROUP BY bg)
              WHERE c >= 3),
            totals AS (SELECT doc_id, COUNT(*) AS n_bigrams FROM bg GROUP BY doc_id),
            hits AS (
              SELECT bg.doc_id, COUNT(*) AS n_common
              FROM bg JOIN common USING (bg) GROUP BY bg.doc_id)
            SELECT d.doc_id,
                   COALESCE(t.n_bigrams, 0) AS n_bigrams,
                   COALESCE(h.n_common, 0) AS n_common,
                   CASE WHEN COALESCE(t.n_bigrams, 0) = 0 THEN NULL
                        ELSE COALESCE(h.n_common, 0)::DOUBLE
                             / t.n_bigrams::DOUBLE END AS coverage
            FROM documents d
            LEFT JOIN totals t USING (doc_id) LEFT JOIN hits h USING (doc_id)
            ORDER BY d.doc_id""",
        "q60_snapshot_delta": f"""
            WITH old AS (
              SELECT doc_id, {_FPRINT} AS fp FROM documents
              WHERE doc_id % 97 <> 0),
            new_t AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 31 = 0 THEN text || ' rewritten'
                          WHEN doc_id % 41 = 0 THEN text || '   '
                          ELSE text END AS text
              FROM documents),
            new_fp AS (SELECT doc_id, {_FPRINT} AS fp FROM new_t),
            delta AS (
              SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                     CASE WHEN o.fp IS NULL THEN 'added'
                          WHEN n.fp IS NULL THEN 'removed'
                          WHEN o.fp = n.fp THEN 'unchanged'
                          ELSE 'changed' END AS status
              FROM old o FULL OUTER JOIN new_fp n ON o.doc_id = n.doc_id)
            SELECT status, COUNT(*) AS n_docs
            FROM delta GROUP BY status ORDER BY status""",
        "q61_rollup_report": """
            SELECT lang, source, COUNT(*) AS n_docs,
                   CAST(GROUPING(lang) AS INT) AS g_lang,
                   CAST(GROUPING(source) AS INT) AS g_source
            FROM documents
            GROUP BY ROLLUP (lang, source)
            ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""",
        "q62_video_frames": """
            SELECT * FROM (VALUES
              ('0#vid', CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), 'pixels', 'f53d35f60765c5279a4c008f387ef68d'),
              ('0#vid', 1, 1.0, 'pixels', '266ebd289869de7ee735b95953ba3d0d'),
              ('0#vid', 2, 2.0, 'pixels', '365697802776bbcee6111187158a6271'),
              ('1#vid', 0, 0.0, 'pixels', '523132c0a12439f7a0b118245bd1c6b6'),
              ('1#vid', 1, 1.0, 'pixels', 'ca78fd00ccc6938f59de7e2c60f2f125'),
              ('1#vid', 2, 2.0, 'pixels', '00cbbd0e13901fc68ddd7515d55e49bc'),
              ('2#vid', 0, 0.0, 'pixels', '603677a244d29055806ab581c2733841'),
              ('2#vid', 1, 1.0, 'pixels', '847ff1e54f9d47c04648cee5f8088201'),
              ('2#vid', 2, 2.0, 'pixels', 'dd7253cbadbf6b2746d4781e9da35d5d')
            ) AS t(media_id, frame_idx, frame_ts_s, frame_kind, frame_md5)
            ORDER BY media_id, frame_idx""",
        "q63_decontamination": r"""
            WITH words AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '[ \t\n\r\f]+'),
                                 w -> w <> '') AS ws
              FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(ws) < 8 THEN []::VARCHAR[]
                          ELSE list_distinct(list_transform(
                                 range(1, len(ws) - 6),
                                 i -> ws[i] || ' ' || ws[i+1] || ' '
                                   || ws[i+2] || ' ' || ws[i+3] || ' '
                                   || ws[i+4] || ' ' || ws[i+5] || ' '
                                   || ws[i+6] || ' ' || ws[i+7]))
                     END AS grams
              FROM words),
            bench AS (
              SELECT DISTINCT
                     ('0x' || substr(md5(unnest(grams)), 1, 15))::BIGINT AS gh
              FROM g
              WHERE doc_id IN (SELECT CAST(doc_id AS VARCHAR)
                               FROM documents ORDER BY doc_id LIMIT 3)),
            corpus AS (
              SELECT doc_id,
                     ('0x' || substr(md5(unnest(grams)), 1, 15))::BIGINT AS gh
              FROM g),
            hits AS (
              SELECT doc_id, COUNT(*) AS n_hits
              FROM corpus JOIN bench USING (gh)
              GROUP BY doc_id)
            SELECT g.doc_id,
                   CAST(len(grams) AS INT) AS n_grams,
                   CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
                   CASE WHEN len(grams) = 0 THEN NULL
                        ELSE coalesce(n_hits, 0)::DOUBLE
                             / len(grams)::DOUBLE END AS frac
            FROM g LEFT JOIN hits USING (doc_id)
            WHERE coalesce(n_hits, 0) > 0
            ORDER BY g.doc_id""",
        "q64_dsir_weights": r"""
            WITH words AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '[ \t\n\r\f]+'),
                                 w -> w <> '') AS ws
              FROM documents),
            raw AS (
              SELECT doc_id,
                     ('0x' || substr(md5(unnest(
                        CASE WHEN len(ws) < 2 THEN []::VARCHAR[]
                             ELSE list_transform(range(1, len(ws)),
                                    i -> ws[i] || ' ' || ws[i+1]) END
                     )), 1, 15))::BIGINT % 64 AS b
              FROM words),
            tgt AS (
              SELECT ('0x' || substr(md5(unnest(
                        CASE WHEN len(ws) < 2 THEN []::VARCHAR[]
                             ELSE list_transform(range(1, len(ws)),
                                    i -> ws[i] || ' ' || ws[i+1]) END
                     )), 1, 15))::BIGINT % 64 AS b
              FROM (SELECT list_filter(
                             string_split_regex(lower(trim(text)),
                                                '[ \t\n\r\f]+'),
                             w -> w <> '') AS ws
                    FROM (SELECT text FROM documents
                          ORDER BY n_chars, doc_id LIMIT 20))),
            ct_r AS (SELECT b, COUNT(*) AS c_r FROM raw GROUP BY b),
            ct_t AS (SELECT b, COUNT(*) AS c_t FROM tgt GROUP BY b),
            ratio AS (
              SELECT t.b,
                     CAST(round((ln((coalesce(c_t, 0) + 1)::DOUBLE
                                    / (tot_t + 64)::DOUBLE)
                                 - ln((coalesce(c_r, 0) + 1)::DOUBLE
                                      / (tot_r + 64)::DOUBLE)) * 1e6)
                          AS BIGINT) AS r_micro
              FROM range(0, 64) AS t(b)
              LEFT JOIN ct_r ON ct_r.b = t.b
              LEFT JOIN ct_t ON ct_t.b = t.b
              CROSS JOIN (SELECT COUNT(*) AS tot_r FROM raw)
              CROSS JOIN (SELECT COUNT(*) AS tot_t FROM tgt)),
            scored AS (
              SELECT doc_id, COUNT(*) AS n_bigrams,
                     CAST(SUM(r_micro) AS BIGINT) AS weight_micro
              FROM raw JOIN ratio USING (b)
              GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   CAST(coalesce(weight_micro, 0) AS BIGINT) AS weight_micro
            FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id
                  FROM documents) d
            LEFT JOIN scored USING (doc_id)
            ORDER BY d.doc_id""",
        "q65_warc_roundtrip": """
            SELECT 'https://corpus.example.org/doc/' || doc_id AS url,
                   TIMESTAMP '2024-11-07 12:00:00'
                     + INTERVAL (doc_id) SECOND AS warc_ts,
                   CAST(200 AS BIGINT) AS http_status,
                   'text/html' AS mime,
                   CAST(length(text) AS INT) AS n_chars,
                   md5(text) AS text_md5
            FROM (SELECT doc_id, text FROM documents
                  ORDER BY doc_id LIMIT 20)
            ORDER BY url""",
        # Pinned from an INDEPENDENT path: DuckDB computes the word
        # histogram; the published BPE algorithm (Sennrich 2016, ties ->
        # lexicographic min) turns it into merges.  Checks the Spark
        # histogram shuffle AND the distributed encode end-to-end.
        "q66_bpe_merges": """
            SELECT * FROM (VALUES
              (0, 'e', 'r'), (1, 'e', '</w>'), (2, 'n', '</w>'),
              (3, 'er', '</w>'), (4, 'o', 'w'), (5, 'ow', '</w>'),
              (6, 'o', 'r'), (7, 's', 't'), (8, 'h', '</w>'),
              (9, 'a', 't'), (10, 'l', 'u'), (11, 'i', 'n'),
              (12, 'a', '</w>'), (13, 'g', '</w>'), (14, 'y', '</w>'),
              (15, 'a', 'r'), (16, 'p', 'ar'), (17, 't', '</w>'),
              (18, 'i', 'n</w>'), (19, 'j', 'o'), (20, 'jo', 'in</w>'),
              (21, 'a', 's'), (22, 'as', 'h</w>'), (23, 'h', 'ash</w>'),
              (24, 'r', 'ow</w>'), (25, 'at', 'c'), (26, 'atc', 'h</w>'),
              (27, 'b', 'atch</w>'), (28, 'a', 'n</w>'),
              (29, 'c', 'an</w>'), (30, 's', 'can</w>'), (31, 'c', 'o'),
              (32, 'c', 'u'), (33, 'co', 'lu'), (34, 'colu', 'm'),
              (35, 'colum', 'n</w>'), (36, 'cu', 'st'),
              (37, 'cust', 'o'), (38, 'custo', 'm'),
              (39, 'custom', 'er</w>')
            ) AS t(rank, m_left, m_right) ORDER BY rank""",
        "q67_bpe_encode": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(n_tokens AS INT) AS n_tokens, tokens_md5
            FROM (VALUES
              (0, 96, 'd8cdd81f8dd7c0663468accde610504c'),
              (1, 231, '509076020cfc632833381a27354520e3'),
              (2, 153, 'e4f075b17806d844c6c9f5f626912bc9'),
              (3, 92, '2eea3342ceddc4ff2a7ec008a96eb2e2'),
              (4, 147, '1f7a4ac00bb647bc4dedb151b545c0d8'),
              (5, 189, '663089ae065803eb534c4eed3cfd3516'),
              (6, 45, '31fa4f88268455f06aaa56157247a2cc'),
              (7, 204, '02bd5fabea9474567f81823b56f75b28'),
              (8, 268, '78f26cfd907f920503d231e02ada19e3'),
              (9, 217, 'f2794198732afbe44711180079d2df37'),
              (10, 132, 'a209dc1f3f65d6c7548d6827e402fbd1'),
              (11, 193, '11dd2ae5492f268f42c88938b5e3e383')
            ) AS t(doc_id, n_tokens, tokens_md5) ORDER BY doc_id""",
        "q68_span_dedup": r"""
            WITH words AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '[ \t\n\r\f]+'),
                                 w -> w <> '') AS ws
              FROM documents),
            wins AS (
              SELECT doc_id, i - 1 AS pos,
                     ('0x' || substr(md5(array_to_string(ws[i:i+7], ' ')),
                              1, 15))::BIGINT AS wh
              FROM words, unnest(range(1, len(ws) - 6)) AS t(i)),
            dups AS (SELECT wh FROM wins GROUP BY wh HAVING COUNT(*) >= 2),
            flagged AS (SELECT doc_id, pos FROM wins JOIN dups USING (wh)),
            removed AS (
              SELECT DISTINCT doc_id, j
              FROM flagged, unnest(range(pos, pos + 8)) AS r(j)),
            wordrows AS (
              SELECT doc_id, i - 1 AS j, ws[i] AS w
              FROM words, unnest(range(1, len(ws) + 1)) AS t(i)),
            kept AS (
              SELECT wr.doc_id, wr.j, wr.w
              FROM wordrows wr ANTI JOIN removed r
                ON wr.doc_id = r.doc_id AND wr.j = r.j),
            clean AS (
              SELECT doc_id,
                     coalesce(string_agg(w, ' ' ORDER BY j), '') AS text_clean
              FROM kept GROUP BY doc_id),
            stats AS (
              SELECT w.doc_id, CAST(len(w.ws) AS INT) AS n_words,
                     CAST(coalesce(rm.n, 0) AS INT) AS n_removed
              FROM words w
              LEFT JOIN (SELECT doc_id, COUNT(*) AS n
                         FROM removed GROUP BY doc_id) rm
                ON w.doc_id = rm.doc_id)
            SELECT s.doc_id, s.n_words, s.n_removed,
                   md5(coalesce(c.text_clean, '')) AS clean_md5
            FROM stats s LEFT JOIN clean c ON s.doc_id = c.doc_id
            WHERE s.n_removed > 0
            ORDER BY s.doc_id""",
        "q69_kmeans": r"""
            WITH q AS (
              SELECT vec_id,
                     list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))
                       AS qv
              FROM embeddings),
            c0 AS (
              SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                       AS c, qv AS cv
              FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 4)),
            a1 AS (
              SELECT vec_id, qv, c FROM (
                SELECT vec_id, qv, c,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, c) AS rn
                FROM (SELECT q.vec_id, q.qv, c0.c,
                             list_sum(list_transform(range(1, 65),
                               i -> (q.qv[i] - c0.cv[i])
                                  * (q.qv[i] - c0.cv[i]))) AS dist
                      FROM q CROSS JOIN c0))
              WHERE rn = 1),
            u1 AS (
              SELECT a.c, t.d,
                     CAST(FLOOR(CAST(SUM(a.qv[t.d]) AS DOUBLE) / COUNT(*))
                          AS BIGINT) AS v
              FROM a1 a, unnest(range(1, 65)) AS t(d)
              GROUP BY a.c, t.d),
            c1 AS (
              SELECT p.c, coalesce(n.cv, p.cv) AS cv
              FROM c0 p LEFT JOIN (SELECT c, list(v ORDER BY d) AS cv
                                   FROM u1 GROUP BY c) n ON p.c = n.c),
            a2 AS (
              SELECT vec_id, qv, c FROM (
                SELECT vec_id, qv, c,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, c) AS rn
                FROM (SELECT q.vec_id, q.qv, c1.c,
                             list_sum(list_transform(range(1, 65),
                               i -> (q.qv[i] - c1.cv[i])
                                  * (q.qv[i] - c1.cv[i]))) AS dist
                      FROM q CROSS JOIN c1))
              WHERE rn = 1),
            u2 AS (
              SELECT a.c, t.d,
                     CAST(FLOOR(CAST(SUM(a.qv[t.d]) AS DOUBLE) / COUNT(*))
                          AS BIGINT) AS v
              FROM a2 a, unnest(range(1, 65)) AS t(d)
              GROUP BY a.c, t.d),
            c2 AS (
              SELECT p.c, coalesce(n.cv, p.cv) AS cv
              FROM c1 p LEFT JOIN (SELECT c, list(v ORDER BY d) AS cv
                                   FROM u2 GROUP BY c) n ON p.c = n.c),
            a3 AS (
              SELECT vec_id, qv, c FROM (
                SELECT vec_id, qv, c,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, c) AS rn
                FROM (SELECT q.vec_id, q.qv, c2.c,
                             list_sum(list_transform(range(1, 65),
                               i -> (q.qv[i] - c2.cv[i])
                                  * (q.qv[i] - c2.cv[i]))) AS dist
                      FROM q CROSS JOIN c2))
              WHERE rn = 1),
            u3 AS (
              SELECT a.c, t.d,
                     CAST(FLOOR(CAST(SUM(a.qv[t.d]) AS DOUBLE) / COUNT(*))
                          AS BIGINT) AS v
              FROM a3 a, unnest(range(1, 65)) AS t(d)
              GROUP BY a.c, t.d),
            c3 AS (
              SELECT p.c, coalesce(n.cv, p.cv) AS cv
              FROM c2 p LEFT JOIN (SELECT c, list(v ORDER BY d) AS cv
                                   FROM u3 GROUP BY c) n ON p.c = n.c),
            afinal AS (
              SELECT vec_id, c FROM (
                SELECT vec_id, c,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, c) AS rn
                FROM (SELECT q.vec_id, c3.c,
                             list_sum(list_transform(range(1, 65),
                               i -> (q.qv[i] - c3.cv[i])
                                  * (q.qv[i] - c3.cv[i]))) AS dist
                      FROM q CROSS JOIN c3))
              WHERE rn = 1)
            SELECT c3.c AS cluster,
                   CAST(coalesce(n.n, 0) AS BIGINT) AS n_vecs,
                   CAST(list_sum(list_transform(c3.cv, v -> abs(v)))
                        AS BIGINT) AS centroid_l1
            FROM c3 LEFT JOIN (SELECT c, COUNT(*) AS n
                               FROM afinal GROUP BY c) n ON c3.c = n.c
            ORDER BY cluster""",
        # q71: the q69 trajectory on the salted input, with qv kept in the
        # final assignment, then the exact-integer-dot / fixed-order
        # IEEE-double SemDeDup threshold replayed literally.
        "q71_semdedup": r"""
            WITH q AS (
              SELECT vec_id,
                     list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))
                       AS qv
              FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                    FROM embeddings
                    UNION ALL
                    SELECT vec_id + 100000,
                           CAST(embedding AS DOUBLE[])
                    FROM embeddings WHERE vec_id < 5
                    UNION ALL
                    SELECT vec_id + 200000,
                           list_transform(embedding,
                                          x -> CAST(x AS DOUBLE) * 2)
                    FROM embeddings WHERE vec_id >= 5 AND vec_id < 10)),
            c0 AS (
              SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                       AS c, qv AS cv
              FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 4)),
            a1 AS (
              SELECT vec_id, qv, c FROM (
                SELECT vec_id, qv, c,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, c) AS rn
                FROM (SELECT q.vec_id, q.qv, c0.c,
                             list_sum(list_transform(range(1, 65),
                               i -> (q.qv[i] - c0.cv[i])
                                  * (q.qv[i] - c0.cv[i]))) AS dist
                      FROM q CROSS JOIN c0))
              WHERE rn = 1),
            u1 AS (
              SELECT a.c, t.d,
                     CAST(FLOOR(CAST(SUM(a.qv[t.d]) AS DOUBLE) / COUNT(*))
                          AS BIGINT) AS v
              FROM a1 a, unnest(range(1, 65)) AS t(d)
              GROUP BY a.c, t.d),
            c1 AS (
              SELECT p.c, coalesce(n.cv, p.cv) AS cv
              FROM c0 p LEFT JOIN (SELECT c, list(v ORDER BY d) AS cv
                                   FROM u1 GROUP BY c) n ON p.c = n.c),
            a2 AS (
              SELECT vec_id, qv, c FROM (
                SELECT vec_id, qv, c,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, c) AS rn
                FROM (SELECT q.vec_id, q.qv, c1.c,
                             list_sum(list_transform(range(1, 65),
                               i -> (q.qv[i] - c1.cv[i])
                                  * (q.qv[i] - c1.cv[i]))) AS dist
                      FROM q CROSS JOIN c1))
              WHERE rn = 1),
            u2 AS (
              SELECT a.c, t.d,
                     CAST(FLOOR(CAST(SUM(a.qv[t.d]) AS DOUBLE) / COUNT(*))
                          AS BIGINT) AS v
              FROM a2 a, unnest(range(1, 65)) AS t(d)
              GROUP BY a.c, t.d),
            c2 AS (
              SELECT p.c, coalesce(n.cv, p.cv) AS cv
              FROM c1 p LEFT JOIN (SELECT c, list(v ORDER BY d) AS cv
                                   FROM u2 GROUP BY c) n ON p.c = n.c),
            a3 AS (
              SELECT vec_id, qv, c FROM (
                SELECT vec_id, qv, c,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, c) AS rn
                FROM (SELECT q.vec_id, q.qv, c2.c,
                             list_sum(list_transform(range(1, 65),
                               i -> (q.qv[i] - c2.cv[i])
                                  * (q.qv[i] - c2.cv[i]))) AS dist
                      FROM q CROSS JOIN c2))
              WHERE rn = 1),
            u3 AS (
              SELECT a.c, t.d,
                     CAST(FLOOR(CAST(SUM(a.qv[t.d]) AS DOUBLE) / COUNT(*))
                          AS BIGINT) AS v
              FROM a3 a, unnest(range(1, 65)) AS t(d)
              GROUP BY a.c, t.d),
            c3 AS (
              SELECT p.c, coalesce(n.cv, p.cv) AS cv
              FROM c2 p LEFT JOIN (SELECT c, list(v ORDER BY d) AS cv
                                   FROM u3 GROUP BY c) n ON p.c = n.c),
            m AS (
              SELECT vec_id, qv, c,
                     list_sum(list_transform(range(1, 65),
                                             i -> qv[i] * qv[i])) AS nrm
              FROM (
                SELECT vec_id, qv, c FROM (
                  SELECT vec_id, qv, c,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY dist, c) AS rn
                  FROM (SELECT q.vec_id, q.qv, c3.c,
                               list_sum(list_transform(range(1, 65),
                                 i -> (q.qv[i] - c3.cv[i])
                                    * (q.qv[i] - c3.cv[i]))) AS dist
                        FROM q CROSS JOIN c3))
                WHERE rn = 1)),
            p AS (
              SELECT b.vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> a.qv[i] * b.qv[i])) AS dot,
                     a.nrm AS na, b.nrm AS nb
              FROM m a JOIN m b ON a.c = b.c AND a.vec_id < b.vec_id),
            dropped AS (
              SELECT DISTINCT vec_id FROM p
              WHERE dot > 0
                AND CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)
                    >= (CAST(0.9025 AS DOUBLE) * CAST(na AS DOUBLE))
                       * CAST(nb AS DOUBLE))
            SELECT m.vec_id, m.c AS cluster,
                   (d.vec_id IS NULL) AS keep
            FROM m LEFT JOIN dropped d ON m.vec_id = d.vec_id
            ORDER BY m.vec_id""",
        # q72: HLL registers from the shared rho SQL (same string the
        # Spark plan compiles), exact BIGINT fixed-point harmonic sums,
        # KMV k-th minimum + estimates — every intermediate replayed.
        "q72_distinct_sketches": fr"""
            WITH words AS (
              SELECT lang,
                     doc_id::VARCHAR || ':' ||
                     unnest(list_filter(
                       string_split_regex(lower(trim(text)),
                                          '[ \t\n\r\f]+'),
                       w -> w <> '')) AS w
              FROM documents),
            hxs AS (
              SELECT lang, w, substr(md5('hll|' || w), 1, 15) AS hx
              FROM words),
            regs AS (
              SELECT lang, ('0x' || substr(hx, 1, 2))::INT AS bucket,
                     MAX({_HLL_RHO_SQL}) AS rho
              FROM hxs GROUP BY 1, 2),
            hll0 AS (
              SELECT lang,
                     (SUM((1::BIGINT << (53 - rho)))::BIGINT
                      + (256 - COUNT(*)) * (1::BIGINT << 53))::BIGINT
                       AS hll_sum_fixed,
                     (256 - COUNT(*))::BIGINT AS hll_zero_registers
              FROM regs GROUP BY 1),
            hll AS (
              SELECT lang, hll_sum_fixed, hll_zero_registers,
                     round(CASE WHEN {_HLL_RAW_NUM} / hll_sum_fixed::DOUBLE
                                     <= 640.0
                                 AND hll_zero_registers > 0
                           THEN 256.0 * ln(256.0
                                           / hll_zero_registers::DOUBLE)
                           ELSE {_HLL_RAW_NUM} / hll_sum_fixed::DOUBLE
                           END, 4) AS hll_estimate
              FROM hll0),
            kh AS (
              SELECT DISTINCT lang,
                     ('0x' || substr(md5('kmv|' || w), 1, 15))::BIGINT AS hv
              FROM words),
            rk AS (
              SELECT lang, hv,
                     row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
              FROM kh),
            kmv AS (
              SELECT lang,
                     coalesce(MAX(CASE WHEN rn = 64 THEN hv END), -1)
                       AS kmv_kth,
                     COUNT(*)::BIGINT AS n_kept
              FROM rk WHERE rn <= 64 GROUP BY 1),
            kmv2 AS (
              SELECT lang, kmv_kth,
                     round(CASE WHEN kmv_kth > 0
                           THEN 63.0 * 1152921504606846976.0
                                / kmv_kth::DOUBLE
                           ELSE n_kept::DOUBLE END, 4) AS kmv_estimate
              FROM kmv),
            ex AS (
              SELECT lang, COUNT(DISTINCT w)::BIGINT AS n_exact
              FROM words GROUP BY 1)
            SELECT ex.lang, n_exact, hll_sum_fixed, hll_zero_registers,
                   hll_estimate, kmv_kth, kmv_estimate
            FROM ex JOIN hll USING (lang) JOIN kmv2 USING (lang)
            ORDER BY ex.lang""",
        "q73_cms_heavy_hitters": (
            r"""
            WITH w0 AS (
              SELECT unnest(list_filter(
                       string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                       w -> w <> '')) AS tok
              FROM documents),
            tot AS (SELECT COUNT(*) // 200 AS thr FROM w0),
            cells AS ("""
            + "\n              UNION ALL ".join(
                f"SELECT {r} AS rw, {_cms_pos_sql('tok', r, 1024)} AS pos "
                "FROM w0" for r in range(4))
            + r"""),
            grid AS (
              SELECT rw, pos, COUNT(*)::BIGINT AS cnt
              FROM cells GROUP BY 1, 2),
            keys AS (
              SELECT tok, COUNT(*)::BIGINT AS exact_count
              FROM w0 GROUP BY 1),
            probes AS ("""
            + "\n              UNION ALL ".join(
                f"SELECT tok, {r} AS rw, {_cms_pos_sql('tok', r, 1024)} AS pos "
                "FROM keys" for r in range(4))
            + r"""),
            est AS (
              SELECT p.tok,
                     MIN(COALESCE(g.cnt, 0))::BIGINT AS cms_estimate
              FROM probes p
              LEFT JOIN grid g ON p.rw = g.rw AND p.pos = g.pos
              GROUP BY p.tok)
            SELECT k.tok, k.exact_count, e.cms_estimate
            FROM keys k JOIN est e USING (tok), tot
            WHERE e.cms_estimate >= tot.thr
            ORDER BY k.exact_count DESC, k.tok"""),
        "q74_weighted_sample": r"""
            WITH w AS (
              SELECT doc_id,
                     least(greatest(coalesce(
                       CAST(1 + floor(length(text) / 500) AS INT), 1), 1), 10)
                       AS weight_used
              FROM documents),
            rep AS (
              SELECT doc_id, weight_used, t.r
              FROM w CROSS JOIN range(1, 11) t(r)
              WHERE t.r <= weight_used),
            keyed AS (
              SELECT doc_id, MIN(weight_used) AS weight_used,
                     MAX(('0x' || substr(md5('ws|' || doc_id::VARCHAR
                                             || '|' || r::VARCHAR),
                                         1, 15))::BIGINT) AS sample_key
              FROM rep GROUP BY doc_id)
            SELECT doc_id, weight_used, sample_key
            FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 25""",
        "q75_lpa_communities": _lpa_oracle_sql(
            "SELECT doc_id AS src, CAST(FLOOR(doc_id / 10) * 10 AS BIGINT)"
            " AS dst FROM documents WHERE doc_id >= 1"
            " UNION ALL SELECT doc_id AS src,"
            " CAST(FLOOR(doc_id / 2) AS BIGINT) AS dst"
            " FROM documents WHERE doc_id >= 1",
            iterations=4) + " ORDER BY node",
        "q76_bloom_semi_join": r"""
            WITH bk AS (
              SELECT DISTINCT o_orderkey AS k FROM orders
              WHERE o_totalprice > 480000),
            bpos AS (
              SELECT k, t.r,
                     CAST(('0x' || substr(md5('bf' || r::VARCHAR || '|'
                                              || k::VARCHAR), 1, 15))::BIGINT
                          % 65536 AS INT) AS pos
              FROM bk, range(0, 3) t(r)),
            words AS (
              SELECT pos // 32 AS word_idx,
                     bit_or(1::BIGINT << (pos % 32)) AS word
              FROM bpos GROUP BY 1),
            pk AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
            ppos AS (
              SELECT k, t.r,
                     CAST(('0x' || substr(md5('bf' || r::VARCHAR || '|'
                                              || k::VARCHAR), 1, 15))::BIGINT
                          % 65536 AS INT) AS pos
              FROM pk, range(0, 3) t(r)),
            memb AS (
              SELECT p.k,
                     bool_and((COALESCE(w.word, 0)
                               & (1::BIGINT << (p.pos % 32))) <> 0) AS member
              FROM ppos p
              LEFT JOIN words w ON p.pos // 32 = w.word_idx
              GROUP BY p.k),
            pre AS (
              SELECT COUNT(*)::BIGINT AS n_prefilter
              FROM lineitem l JOIN memb m ON l.l_orderkey = m.k
              WHERE m.member),
            ex AS (
              SELECT COUNT(*)::BIGINT AS n_exact
              FROM lineitem l JOIN memb m ON l.l_orderkey = m.k
              WHERE m.member AND l.l_orderkey IN (SELECT k FROM bk)),
            nb AS (SELECT COUNT(*)::BIGINT AS n_build_keys FROM bk)
            SELECT n_build_keys, n_prefilter, n_exact,
                   n_prefilter - n_exact AS n_false_pos
            FROM nb, pre, ex""",
        "q77_setsim_join": r"""
            WITH words AS (
              SELECT doc_id AS sid,
                     list_filter(
                       string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                       w -> w <> '') AS ws
              FROM documents),
            t0 AS (
              SELECT sid, unnest(CASE WHEN len(ws) >= 3
                THEN list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                ELSE [array_to_string(ws, ' ')] END) AS tok
              FROM words),
            toks AS (SELECT DISTINCT sid, tok FROM t0),
            sizes AS (SELECT sid, COUNT(*)::BIGINT AS n
                      FROM toks GROUP BY 1),
            i0 AS (
              SELECT a.sid AS id_a, b.sid AS id_b, COUNT(*)::BIGINT AS inter
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.sid < b.sid
              GROUP BY 1, 2),
            res AS (
              SELECT id_a, id_b, inter,
                     (na.n + nb.n - inter)::BIGINT AS union_sz,
                     round(inter::DOUBLE
                           / (na.n + nb.n - inter)::DOUBLE, 6) AS jaccard
              FROM i0
              JOIN sizes na ON i0.id_a = na.sid
              JOIN sizes nb ON i0.id_b = nb.sid)
            SELECT id_a, id_b, inter, union_sz, jaccard
            FROM res WHERE jaccard >= 0.35
            ORDER BY id_a, id_b""",
        "q78_kcore": _kcore_oracle_sql(
            "SELECT doc_id AS src,"
            " CAST((2 * doc_id + 1) % t.n AS BIGINT) AS dst"
            " FROM documents CROSS JOIN"
            " (SELECT COUNT(*) AS n FROM documents) t"
            " UNION ALL SELECT doc_id AS src,"
            " CAST((3 * doc_id + 7) % t.n AS BIGINT) AS dst"
            " FROM documents CROSS JOIN"
            " (SELECT COUNT(*) AS n FROM documents) t",
            k=3, rounds=6) + " ORDER BY node",
        "q79_stratified_sample": r"""
            WITH w AS (
              SELECT lang, doc_id,
                     least(greatest(coalesce(
                       CAST(1 + floor(length(text) / 500) AS INT), 1), 1), 10)
                       AS weight_used
              FROM documents),
            rep AS (
              SELECT lang, doc_id, weight_used, t.r
              FROM w CROSS JOIN range(1, 11) t(r)
              WHERE t.r <= weight_used),
            keyed AS (
              SELECT lang, doc_id, MIN(weight_used) AS weight_used,
                     MAX(('0x' || substr(md5('ws|' || doc_id::VARCHAR
                                             || '|' || r::VARCHAR),
                                         1, 15))::BIGINT) AS sample_key
              FROM rep GROUP BY lang, doc_id),
            ranked AS (
              SELECT lang, doc_id, weight_used, sample_key,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY sample_key DESC, doc_id) AS INT) AS rnk
              FROM keyed)
            SELECT lang, doc_id, weight_used, sample_key, rnk
            FROM ranked WHERE rnk <= 5
            ORDER BY lang, rnk""",
        "q80_stupid_backoff": r"""
            WITH model AS (
              SELECT * FROM documents WHERE doc_id % 2 = 0),
            target AS (
              SELECT * FROM documents WHERE doc_id % 2 = 1),
            mwords AS (
              SELECT unnest(list_filter(
                       string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                       w -> w <> '')) AS w
              FROM model),
            uni AS (SELECT w, COUNT(*)::BIGINT AS c1 FROM mwords GROUP BY 1),
            nuni AS (SELECT COUNT(*)::BIGINT AS n FROM mwords),
            mbg0 AS (
              SELECT list_filter(
                       string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                       w -> w <> '') AS ws
              FROM model),
            mbg AS (
              SELECT unnest(CASE WHEN len(ws) >= 2
                THEN list_transform(range(1, len(ws)),
                       i -> ws[i] || ' ' || ws[i+1])
                ELSE [] END) AS bg
              FROM mbg0),
            big AS (SELECT bg, COUNT(*)::BIGINT AS c12 FROM mbg GROUP BY 1),
            tws AS (
              SELECT doc_id,
                     list_filter(
                       string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                       w -> w <> '') AS ws
              FROM target),
            tbg AS (
              SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
                THEN list_transform(range(1, len(ws)),
                       i -> ws[i] || ' ' || ws[i+1])
                ELSE [] END) AS bg
              FROM tws),
            scored AS (
              SELECT t.doc_id,
                     CASE WHEN b.c12 IS NOT NULL
                          THEN 1000000::BIGINT * b.c12 // u1.c1
                          WHEN u2.c1 IS NOT NULL
                          THEN 400000::BIGINT * u2.c1 // nuni.n
                          ELSE 0::BIGINT END AS score_ppm
              FROM tbg t
              LEFT JOIN big b ON t.bg = b.bg
              LEFT JOIN uni u1 ON split_part(t.bg, ' ', 1) = u1.w
              LEFT JOIN uni u2 ON split_part(t.bg, ' ', 2) = u2.w
              CROSS JOIN nuni),
            per_doc AS (
              SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
                     SUM(score_ppm)::BIGINT AS sum_score_ppm
              FROM scored GROUP BY 1)
            SELECT t.doc_id,
                   COALESCE(p.n_bigrams, 0)::BIGINT AS n_bigrams,
                   COALESCE(p.sum_score_ppm, 0)::BIGINT AS sum_score_ppm,
                   (CASE WHEN COALESCE(p.n_bigrams, 0) > 0
                         THEN COALESCE(p.sum_score_ppm, 0)
                              // p.n_bigrams
                         ELSE 0 END)::BIGINT AS avg_score_ppm
            FROM target t LEFT JOIN per_doc p USING (doc_id)
            ORDER BY t.doc_id""",
        "q81_histogram_quantiles": r"""
            WITH h AS (
              SELECT lang,
                     CAST(least(greatest((n_chars - 0) // 200, 0), 99)
                          AS INT) AS bucket,
                     COUNT(*)::BIGINT AS cnt
              FROM documents GROUP BY 1, 2),
            c AS (
              SELECT lang, bucket, cnt,
                     SUM(cnt) OVER (PARTITION BY lang
                                    ORDER BY bucket) AS cum,
                     SUM(cnt) OVER (PARTITION BY lang) AS n
              FROM h)
            SELECT lang, MAX(n)::BIGINT AS n,
                   MIN(CASE WHEN cum >= (n * 500000 + 999999) // 1000000
                       THEN 0 + bucket::BIGINT * 200 END)::BIGINT
                     AS q500000_lo,
                   MIN(CASE WHEN cum >= (n * 900000 + 999999) // 1000000
                       THEN 0 + bucket::BIGINT * 200 END)::BIGINT
                     AS q900000_lo,
                   MIN(CASE WHEN cum >= (n * 990000 + 999999) // 1000000
                       THEN 0 + bucket::BIGINT * 200 END)::BIGINT
                     AS q990000_lo
            FROM c GROUP BY lang
            ORDER BY lang""",
        "q82_hopping_windows": r"""
            WITH cells AS (
              SELECT make_timestamp((epoch_us(ts) // 1800000000)
                                    * 1800000000) AS ws0,
                     event_type, value
              FROM events),
            ex AS (
              SELECT ws0 AS window_start, event_type, value FROM cells
              UNION ALL
              SELECT ws0 - INTERVAL 30 MINUTE, event_type, value
              FROM cells)
            SELECT window_start,
                   window_start + INTERVAL 60 MINUTE AS window_end,
                   event_type, COUNT(*)::BIGINT AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                     AS sum_value
            FROM ex GROUP BY 1, 2, 3
            ORDER BY window_start, event_type""",
        "q83_sorted_neighborhood": r"""
            WITH r AS (
              SELECT doc_id,
                     ROW_NUMBER() OVER (ORDER BY n_chars, doc_id)
                       AS rank
              FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.rank::BIGINT AS rank_a, b.rank::BIGINT AS rank_b
            FROM r a JOIN r b
              ON b.rank > a.rank AND b.rank - a.rank <= 3
            ORDER BY rank_a, rank_b""",
        "q84_rrf_fusion": f"""
            WITH r1 AS (
              SELECT doc_id,
                     ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id)
                       AS rank
              FROM documents),
            r2 AS (
              SELECT doc_id,
                     ROW_NUMBER() OVER (
                       ORDER BY ({_QUALITY}) DESC, doc_id) AS rank
              FROM documents),
            un AS (
              SELECT doc_id, 1.0::DOUBLE / (60.0::DOUBLE + rank) AS s
              FROM r1
              UNION ALL
              SELECT doc_id, 1.0::DOUBLE / (60.0::DOUBLE + rank) FROM r2)
            SELECT doc_id, SUM(s) AS rrf_score,
                   COUNT(*)::BIGINT AS n_lists
            FROM un GROUP BY doc_id
            ORDER BY rrf_score DESC, doc_id LIMIT 20""",
        "q85_json_props": r"""
            SELECT event_type, COUNT(*)::BIGINT AS n,
                   CAST(SUM(json_extract(props, '$.k')::INT) AS BIGINT)
                     AS sum_k,
                   CAST(MIN(json_extract(props, '$.k')::INT) AS INT)
                     AS min_k,
                   CAST(MAX(json_extract(props, '$.k')::INT) AS INT)
                     AS max_k,
                   COUNT(DISTINCT user_id)::BIGINT AS n_users
            FROM events GROUP BY event_type
            ORDER BY event_type""",
        "q86_url_rules": (
            lambda _o: f"""
            WITH base AS (
              SELECT source,
                     '/' || source || '/doc' || doc_id::VARCHAR AS path
              FROM documents),
            dec AS ({_o})
            SELECT b.source,
                   SUM(CASE WHEN d.allowed THEN 1 ELSE 0 END)::BIGINT
                     AS n_allowed,
                   SUM(CASE WHEN d.allowed THEN 0 ELSE 1 END)::BIGINT
                     AS n_blocked
            FROM base b JOIN dec d ON b.path = d.path
            GROUP BY b.source ORDER BY b.source"""
        )(_url_rules_oracle_sql("SELECT path FROM base",
                                _URL_RULES)),
        # q87: extraction is not SQL-expressible; pinned VALUES at the
        # driver's sf0.01 (delta logic value-checked unpinned by q60,
        # triple extraction differentially by the golden/live suite).
        "q87_incremental_kg": """
            SELECT * FROM (VALUES
              ('assert', 'http://example.org/kb/vocab#originalPath', 100::BIGINT),
              ('assert', 'http://example.org/kb/vocab#pathWithoutExtension', 100::BIGINT),
              ('assert', 'http://example.org/kb/vocab#sourceDocument', 100::BIGINT),
              ('assert', 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 300::BIGINT),
              ('assert', 'http://www.w3.org/2000/01/rdf-schema#label', 100::BIGINT),
              ('assert', 'http://www.w3.org/2000/01/rdf-schema#seeAlso', 100::BIGINT),
              ('retract', 'http://example.org/kb/vocab#originalPath', 100::BIGINT),
              ('retract', 'http://example.org/kb/vocab#pathWithoutExtension', 100::BIGINT),
              ('retract', 'http://example.org/kb/vocab#sourceDocument', 100::BIGINT),
              ('retract', 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 300::BIGINT),
              ('retract', 'http://www.w3.org/2000/01/rdf-schema#label', 100::BIGINT),
              ('retract', 'http://www.w3.org/2000/01/rdf-schema#seeAlso', 100::BIGINT)
            ) AS t(action, pred, n_triples)
            ORDER BY action, pred""",
        "q88_kmv_overlap": r"""
            WITH words AS (
              SELECT doc_id AS sid,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '[ \t\n\r\f]+'),
                                 w -> w <> '') AS ws
              FROM documents),
            sh AS (
              SELECT sid, unnest(CASE WHEN len(ws) >= 3
                THEN list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                ELSE [array_to_string(ws, ' ')] END) AS tok
              FROM words),
            ha AS (
              SELECT DISTINCT ('0x' || substr(md5('kmv|' || tok), 1, 15))
                       ::BIGINT AS hv
              FROM sh WHERE sid % 2 = 0),
            hb AS (
              SELECT DISTINCT ('0x' || substr(md5('kmv|' || tok), 1, 15))
                       ::BIGINT AS hv
              FROM sh WHERE sid % 2 = 1),
            ka AS (SELECT hv FROM (
                     SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) rn FROM ha)
                   WHERE rn <= 128),
            kb AS (SELECT hv FROM (
                     SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) rn FROM hb)
                   WHERE rn <= 128),
            merged AS (
              SELECT hv, COUNT(*) AS sides FROM (
                SELECT hv FROM ka UNION ALL SELECT hv FROM kb)
              GROUP BY hv),
            ranked AS (
              SELECT hv, sides, ROW_NUMBER() OVER (ORDER BY hv) AS rn
              FROM merged),
            agg AS (
              SELECT MAX(CASE WHEN rn = 128 THEN hv END) AS union_kth,
                     COUNT(*)::BIGINT AS n_union_kept,
                     SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END)::BIGINT
                       AS n_shared
              FROM ranked WHERE rn <= 128)
            SELECT COALESCE(union_kth, -1) AS union_kth, n_union_kept,
                   n_shared,
                   round(CASE WHEN union_kth IS NOT NULL
                         THEN 127.0::DOUBLE * 1152921504606846976.0::DOUBLE
                              / union_kth::DOUBLE
                         ELSE n_union_kept::DOUBLE END, 4)
                     AS union_estimate,
                   round(n_shared::DOUBLE
                         / least(n_union_kept, 128)::DOUBLE, 6)
                     AS jaccard_estimate,
                   round((n_shared::DOUBLE
                          / least(n_union_kept, 128)::DOUBLE)
                         * (CASE WHEN union_kth IS NOT NULL
                            THEN 127.0::DOUBLE
                                 * 1152921504606846976.0::DOUBLE
                                 / union_kth::DOUBLE
                            ELSE n_union_kept::DOUBLE END), 4)
                     AS intersection_estimate
            FROM agg""",
        "q89_lang_source_pivot": (
            "SELECT lang, "
            + ", ".join(
                f"SUM(CASE WHEN source = 'src{i}' THEN 1 ELSE 0 END)"
                f"::BIGINT AS src{i}" for i in range(20))
            + " FROM documents GROUP BY lang ORDER BY lang"),
        "q90_skew_join": r"""
            WITH fact AS (
              SELECT doc_id, lang,
                     CASE WHEN doc_id % 10 < 7 THEN 0
                          ELSE doc_id % 100 END AS hot_key
              FROM documents),
            dim AS (
              SELECT r AS hot_key, substr(md5(r::VARCHAR), 1, 6) AS dim_attr
              FROM range(0, 100) t(r))
            SELECT d.dim_attr, f.lang, COUNT(*)::BIGINT AS n_docs
            FROM fact f JOIN dim d ON f.hot_key = d.hot_key
            GROUP BY d.dim_attr, f.lang
            ORDER BY d.dim_attr, f.lang""",
        "q91_funnel": r"""
            WITH s1 AS (
              SELECT user_id AS u, MIN(ts) AS t1 FROM events
              WHERE event_type = 'signup' GROUP BY 1),
            s2 AS (
              SELECT s1.u, MIN(e.ts) AS t2
              FROM s1 JOIN events e ON e.user_id = s1.u
              WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY 1),
            s3 AS (
              SELECT s2.u, MIN(e.ts) AS t3
              FROM s2 JOIN events e ON e.user_id = s2.u
              WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY 1),
            s4 AS (
              SELECT s3.u, MIN(e.ts) AS t4
              FROM s3 JOIN events e ON e.user_id = s3.u
              WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY 1)
            SELECT 1 AS step, 'signup' AS step_name,
                   (SELECT COUNT(*) FROM s1)::BIGINT AS n_users
            UNION ALL SELECT 2, 'view', (SELECT COUNT(*) FROM s2)::BIGINT
            UNION ALL SELECT 3, 'click', (SELECT COUNT(*) FROM s3)::BIGINT
            UNION ALL SELECT 4, 'purchase',
                      (SELECT COUNT(*) FROM s4)::BIGINT""",
        "q92_retention": r"""
            WITH e AS (
              -- ::TIMESTAMP: DuckDB's week-trunc yields DATE, Spark's
              -- yields TIMESTAMP; the driver hashes serialized values
              SELECT user_id AS u, date_trunc('week', ts)::TIMESTAMP AS wk
              FROM events),
            first AS (SELECT u, MIN(wk) AS cohort_week FROM e GROUP BY 1),
            active AS (SELECT DISTINCT u, wk FROM e)
            SELECT f.cohort_week,
                   ((epoch(a.wk)::BIGINT - epoch(f.cohort_week)::BIGINT)
                    // 604800)::BIGINT AS offset_weeks,
                   COUNT(DISTINCT a.u)::BIGINT AS n_users
            FROM active a JOIN first f ON a.u = f.u
            GROUP BY 1, 2 ORDER BY 1, 2""",
        "q93_chunk_documents": r"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '[ \t\n\r\f]+'),
                                 w -> w <> '') AS ws
              FROM documents),
            st AS (
              SELECT doc_id, ws, len(ws) AS n FROM base WHERE len(ws) >= 1),
            cand AS (
              SELECT st.doc_id, st.ws, st.n, t.s::INT AS s
              FROM st CROSS JOIN range(1, 100000, 48) t(s)
              WHERE t.s <= st.n),
            starts AS (
              SELECT doc_id, ws, n, s,
                     (ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s)
                      - 1)::INT AS chunk_idx
              FROM cand WHERE s = 1 OR s + 16 <= n)
            SELECT doc_id, chunk_idx, (s - 1)::INT AS word_offset,
                   len(list_slice(ws, s, least(s + 63, n)))::INT
                     AS n_words,
                   array_to_string(list_slice(ws, s, least(s + 63, n)), ' ')
                     AS chunk_text
            FROM starts
            ORDER BY doc_id, chunk_idx""",
        "q94_linear_classifier": r"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '[ \t\n\r\f]+'),
                                 w -> w <> '') AS ws
              FROM documents),
            tok AS (SELECT doc_id, unnest(ws) AS w FROM base),
            feat AS (
              SELECT doc_id,
                     (('0x' || substr(md5('w|' ||
                        ((('0x' || substr(md5('f|' || w), 1, 15))::BIGINT
                          % 1024))::VARCHAR), 1, 15))::BIGINT % 2001 - 1000)
                       AS wgt
              FROM tok),
            m AS (
              SELECT doc_id, SUM(wgt)::BIGINT AS margin
              FROM feat GROUP BY doc_id)
            SELECT b.doc_id, COALESCE(len(b.ws), 0)::BIGINT AS n_tokens,
                   COALESCE(m.margin, 0)::BIGINT AS margin
            FROM base b LEFT JOIN m USING (doc_id)
            ORDER BY margin DESC, doc_id LIMIT 50""",
        "q95_bm25": r"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '[ \t\n\r\f]+'),
                                 w -> w <> '') AS ws
              FROM documents),
            dl AS (SELECT doc_id, len(ws)::BIGINT AS dl FROM base),
            stats AS (
              SELECT COUNT(*)::BIGINT AS n_docs,
                     (SUM(dl) * 1000 // COUNT(*))::BIGINT AS avgdl_milli
              FROM dl),
            tok AS (SELECT doc_id, unnest(ws) AS t FROM base),
            qt AS (SELECT doc_id, t FROM tok
                   WHERE t IN ('the','and','of','la','der','le')),
            tf AS (SELECT doc_id, t, COUNT(*)::BIGINT AS tf
                   FROM qt GROUP BY 1, 2),
            dft AS (SELECT t, COUNT(DISTINCT doc_id)::BIGINT AS df
                    FROM qt GROUP BY 1),
            scored AS (
              SELECT tf.doc_id,
                     round(1e6 * ln(1.0 + (s.n_docs - dft.df + 0.5)
                                          / (dft.df + 0.5)))::BIGINT
                       AS idf_micro,
                     tf.tf, d.dl, s.avgdl_milli
              FROM tf JOIN dft USING (t)
              JOIN dl d ON tf.doc_id = d.doc_id
              CROSS JOIN stats s),
            sc2 AS (
              SELECT doc_id,
                     idf_micro * (tf * (1200 + 1000))
                     // (tf * 1000 + (1200 * ((1000 - 750)
                          + (750 * dl * 1000) // avgdl_milli)) // 1000)
                       AS score_micro
              FROM scored),
            per_doc AS (
              SELECT doc_id, SUM(score_micro)::BIGINT AS score_micro
              FROM sc2 GROUP BY 1)
            SELECT p.doc_id, d.dl, p.score_micro
            FROM per_doc p JOIN dl d USING (doc_id)
            ORDER BY p.score_micro DESC, p.doc_id LIMIT 20""",
        "q96_phrase_search": r"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '[ \t\n\r\f]+'),
                                 w -> w <> '') AS ws
              FROM documents),
            pos AS (
              SELECT doc_id, unnest(ws) AS w,
                     unnest(range(1, len(ws) + 1)) AS p
              FROM base),
            a AS (SELECT doc_id, p AS start FROM pos WHERE w = 'slow'),
            b AS (SELECT doc_id, p - 1 AS start FROM pos WHERE w = 'hash'),
            c AS (SELECT doc_id, p - 2 AS start FROM pos
                  WHERE w = 'batch'),
            hits AS (
              SELECT a.doc_id, a.start FROM a
              JOIN b USING (doc_id, start)
              JOIN c USING (doc_id, start))
            SELECT doc_id, COUNT(*)::BIGINT AS n_hits
            FROM hits GROUP BY doc_id
            ORDER BY n_hits DESC, doc_id LIMIT 50""",
        "q97_table_profile": "\nUNION ALL\n".join(
            f"""SELECT '{c}' AS "column", COUNT(*)::BIGINT AS n,
                   SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT
                     AS n_nulls,
                   COUNT(DISTINCT {c})::BIGINT AS n_distinct,
                   MIN({c})::VARCHAR AS min_s, MAX({c})::VARCHAR AS max_s
                FROM lineitem"""
            for c in ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                      "l_returnflag", "l_shipdate"]) + " ORDER BY \"column\"",
        "q98_zorder_layout": (
            lambda _z: f"""
            WITH rows_z AS (
              SELECT l_orderkey AS x, l_partkey AS y, {_z} AS z
              FROM lineitem)
            SELECT (z >> {2 * 16 - 10})::BIGINT AS file_id,
                   COUNT(*)::BIGINT AS n_rows,
                   MIN(x)::BIGINT AS x_min, MAX(x)::BIGINT AS x_max,
                   MIN(y)::BIGINT AS y_min, MAX(y)::BIGINT AS y_max
            FROM rows_z GROUP BY 1 ORDER BY file_id"""
        )(_z_value_sql("l_orderkey", "l_partkey", 16)),
        "q99_record_merge": r"""
            WITH a AS (
              SELECT doc_id, lang, n_chars FROM documents
              WHERE doc_id % 3 <> 0),
            b AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END
                       AS lang,
                     n_chars + 1000 AS n_chars
              FROM documents WHERE doc_id % 4 <> 0)
            SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
                   COALESCE(a.lang, b.lang) AS lang,
                   CASE WHEN a.lang IS NOT NULL THEN 'crawl'
                        WHEN b.lang IS NOT NULL THEN 'archive' END
                     AS lang__src,
                   COALESCE(a.n_chars, b.n_chars) AS n_chars,
                   CASE WHEN a.n_chars IS NOT NULL THEN 'crawl'
                        WHEN b.n_chars IS NOT NULL THEN 'archive' END
                     AS n_chars__src,
                   concat_ws(',',
                     CASE WHEN a.doc_id IS NOT NULL THEN 'crawl' END,
                     CASE WHEN b.doc_id IS NOT NULL THEN 'archive' END)
                     AS present_in
            FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
            ORDER BY doc_id""",
        "q100_corpus_datacard": f"""
            SELECT n_docs, n_langs, total_chars, total_tokens,
                   n_distinct_fp,
                   round(1.0 - n_distinct_fp / (n_docs::DOUBLE), 6)
                     AS dup_rate
            FROM (SELECT COUNT(*)::BIGINT AS n_docs,
                         COUNT(DISTINCT lang)::BIGINT AS n_langs,
                         SUM(n_chars)::BIGINT AS total_chars,
                         SUM({_WCOUNT})::BIGINT AS total_tokens
                  FROM documents)
            CROSS JOIN (SELECT COUNT(DISTINCT {_FPRINT})::BIGINT
                          AS n_distinct_fp FROM documents)""",
        "q101_link_prediction": r"""
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id >= 2),
            e0 AS (
              SELECT doc_id AS a, CAST(FLOOR(doc_id / 2) AS BIGINT) AS b
              FROM d
              UNION ALL
              SELECT doc_id, CAST(FLOOR(doc_id / 3) AS BIGINT) FROM d),
            und AS (
              SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
              FROM e0 WHERE a <> b AND a IS NOT NULL AND b IS NOT NULL),
            adj AS (SELECT u AS n, v AS nbr FROM und
                    UNION ALL SELECT v, u FROM und),
            deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
                    FROM adj GROUP BY n),
            via AS (
              SELECT adj.nbr AS w, adj.n AS side,
                     dn.deg AS deg_side, dw.deg AS deg_w
              FROM adj JOIN deg dn ON adj.n = dn.n
                       JOIN deg dw ON adj.nbr = dw.n
              WHERE dw.deg <= 1000),
            wed AS (
              SELECT l.w, l.side AS u, r.side AS v,
                     l.deg_side AS du, r.deg_side AS dv, l.deg_w
              FROM via l JOIN via r ON l.w = r.w AND l.side < r.side),
            sc AS (
              SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common_neighbors,
                     CAST(SUM(1000000 // deg_w) AS BIGINT) AS ra_micro,
                     MAX(du) AS du, MAX(dv) AS dv
              FROM wed GROUP BY u, v
              HAVING COUNT(*) >= 2)
            SELECT u, v, common_neighbors, ra_micro,
                   common_neighbors
                     / CAST(du + dv - common_neighbors AS DOUBLE) AS jaccard
            FROM sc ANTI JOIN und USING (u, v)
            ORDER BY u, v""",
        "q102_jl_projection": _q102_oracle_sql(),
        "q103_int8_quantize": r"""
            WITH v AS (
              SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
              FROM embeddings),
            s AS (
              SELECT vec_id, e,
                     CASE WHEN list_max(list_transform(e, x -> abs(x))) > 0
                          THEN list_max(list_transform(e, x -> abs(x)))
                               / 127.0 END AS scale
              FROM v),
            c AS (
              SELECT vec_id, e, scale,
                     list_transform(e, x ->
                       CASE WHEN scale IS NULL THEN 0
                            ELSE GREATEST(-127, LEAST(127,
                                 CAST(FLOOR(x / scale) AS INT))) END) AS codes
              FROM s)
            SELECT vec_id, CAST(len(e) AS INT) AS n_dims, scale,
                   array_to_string(
                     list_transform(codes, c -> CAST(c AS VARCHAR)),
                     ',') AS codes_csv,
                   CAST(list_sum(codes) AS BIGINT) AS sum_codes,
                   CASE WHEN len(e) = 0 THEN 0.0
                        ELSE list_reduce(
                          list_transform(range(1, len(e) + 1), i ->
                            (e[i] - codes[i] * coalesce(scale, 0.0))
                            * (e[i] - codes[i] * coalesce(scale, 0.0))),
                          (a, b) -> a + b) END AS sse
            FROM c ORDER BY vec_id""",
        "q104_scd2_history": r"""
            WITH f AS (
              SELECT user_id AS key, ts, event_type AS value,
                     event_id AS tb,
                     CASE WHEN lag(event_type) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id)
                          IS NOT DISTINCT FROM event_type
                          THEN 0 ELSE 1 END AS chg
              FROM events),
            r AS (
              SELECT *, SUM(chg) OVER (PARTITION BY key ORDER BY ts, tb
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
              FROM f),
            h AS (
              SELECT key, run, MAX(value) AS value,
                     MIN(ts) AS effective_from,
                     CAST(COUNT(*) AS BIGINT) AS n_obs
              FROM r GROUP BY key, run),
            o AS (
              SELECT key, value, effective_from,
                     lead(effective_from) OVER
                       (PARTITION BY key
                        ORDER BY effective_from, run) AS effective_to,
                     n_obs
              FROM h)
            SELECT key, value, effective_from, effective_to,
                   (effective_to IS NULL) AS is_current, n_obs
            FROM o ORDER BY key, effective_from, value""",
        "q105_er_scores": r"""
            WITH d AS (
              SELECT doc_id,
                     trim(substr(trim(regexp_replace(regexp_replace(
                       lower(text), '[^a-z0-9 ]', '', 'g'),
                       ' +', ' ', 'g')), 1, 32)) AS k
              FROM documents),
            r AS (
              SELECT doc_id AS rid, k,
                     row_number() OVER (ORDER BY k, doc_id) AS rank
              FROM d),
            p AS (
              SELECT a.rid AS id_a, b.rid AS id_b,
                     a.k AS key_a, b.k AS key_b
              FROM r a JOIN r b
                ON b.rank > a.rank AND b.rank - a.rank <= 3),
            s AS (
              SELECT id_a, id_b, key_a, key_b,
                     CAST(levenshtein(key_a, key_b) AS BIGINT) AS lev,
                     GREATEST(len(key_a), len(key_b)) AS maxlen,
                     list_distinct(list_filter(string_split(key_a, ' '),
                                               x -> x <> '')) AS ta,
                     list_distinct(list_filter(string_split(key_b, ' '),
                                               x -> x <> '')) AS tb
              FROM p),
            t AS (
              SELECT id_a, id_b, key_a, key_b, lev,
                     CASE WHEN maxlen = 0 THEN 1.0
                          ELSE 1.0 - lev / CAST(maxlen AS DOUBLE)
                     END AS lev_sim,
                     len(list_intersect(ta, tb)) AS inter,
                     len(ta) + len(tb) - len(list_intersect(ta, tb)) AS un
              FROM s)
            SELECT id_a, id_b, key_a, key_b, lev, lev_sim,
                   CASE WHEN un = 0 THEN 1.0
                        ELSE inter / CAST(un AS DOUBLE) END AS tok_jaccard,
                   (lev_sim >= 0.8 OR
                    CASE WHEN un = 0 THEN 1.0
                         ELSE inter / CAST(un AS DOUBLE) END >= 0.8)
                     AS is_match
            FROM t ORDER BY id_a, id_b""",
        "q106_anomaly_flags": r"""
            WITH b AS (
              SELECT user_id AS key, ts, event_id AS tb,
                     CAST(ROUND(value * 100) AS BIGINT) AS cents
              FROM events),
            s AS (
              SELECT key, ts, tb, cents,
                     CAST(COUNT(cents) OVER w AS BIGINT) AS n_prior,
                     CAST(COALESCE(SUM(cents) OVER w, 0) AS BIGINT)
                       AS sum_prior,
                     CAST(COALESCE(SUM(cents * cents) OVER w, 0) AS BIGINT)
                       AS ss_prior
              FROM b
              WINDOW w AS (PARTITION BY key ORDER BY ts, tb
                           ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
            SELECT key, ts, tb, cents, n_prior, sum_prior, ss_prior,
                   CASE WHEN n_prior >= 4 THEN
                     (cents * n_prior - sum_prior)
                       * (cents * n_prior - sum_prior)
                     > 9 * (n_prior * ss_prior - sum_prior * sum_prior)
                   END AS is_anomaly
            FROM s ORDER BY key, ts, tb""",
        "q107_shortest_paths": r"""
            WITH RECURSIVE d AS (
              SELECT doc_id FROM documents WHERE doc_id >= 2),
            e AS (
              SELECT CAST(FLOOR(doc_id / 2) AS BIGINT) AS es,
                     doc_id AS ed,
                     CAST(doc_id % 7 + 1 AS BIGINT) AS ew
              FROM d
              UNION ALL
              SELECT CAST(FLOOR(doc_id / 3) AS BIGINT), doc_id,
                     CAST(doc_id % 7 + 1 AS BIGINT)
              FROM d),
            walk(node, dist, r) AS (
              SELECT node, CAST(0 AS BIGINT), 0
              FROM (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
                           (CAST(3 AS BIGINT))) s(node)
              UNION ALL
              SELECT e.ed, walk.dist + e.ew, walk.r + 1
              FROM walk JOIN e ON e.es = walk.node
              WHERE walk.r < 12)
            SELECT node, MIN(dist) AS dist
            FROM walk GROUP BY node ORDER BY node""",
        "q108_chunk_dedup": r"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '[ \t\n\r\f]+'),
                                 w -> w <> '') AS ws
              FROM documents),
            st AS (
              SELECT doc_id, ws, len(ws) AS n FROM base WHERE len(ws) >= 1),
            cand AS (
              SELECT st.doc_id, st.ws, st.n, t.s::INT AS s
              FROM st CROSS JOIN range(1, 100000, 48) t(s)
              WHERE t.s <= st.n),
            starts AS (
              SELECT doc_id, ws, n, s,
                     (ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s)
                      - 1)::INT AS chunk_idx
              FROM cand WHERE s = 1 OR s + 16 <= n),
            ch AS (
              SELECT doc_id, chunk_idx, (s - 1)::INT AS word_offset,
                     len(list_slice(ws, s, least(s + 63, n)))::INT
                       AS n_words,
                     array_to_string(list_slice(ws, s, least(s + 63, n)),
                                     ' ') AS chunk_text
              FROM starts),
            fp AS (
              SELECT *, ('0x' || substr(md5(chunk_text), 1, 15))::BIGINT
                          AS f,
                     CAST(COUNT(*) OVER (PARTITION BY
                       ('0x' || substr(md5(chunk_text), 1, 15))::BIGINT)
                       AS BIGINT) AS n_copies
              FROM ch)
            SELECT doc_id, chunk_idx, word_offset, n_words, chunk_text,
                   n_copies
            FROM fp
            QUALIFY ROW_NUMBER() OVER (PARTITION BY f
              ORDER BY doc_id, chunk_idx, word_offset, n_words,
                       chunk_text) = 1
            ORDER BY doc_id, chunk_idx""",
        "q109_token_budget_mix": r"""
            WITH w(source, weight) AS (VALUES
              ('src0', CAST('0.4' AS DOUBLE)),
              ('src1', CAST('0.3' AS DOUBLE)),
              ('src2', CAST('0.2' AS DOUBLE)),
              ('src3', CAST('0.1' AS DOUBLE))),
            base AS (
              SELECT d.doc_id, d.source, w.weight,
                     CAST(len(regexp_extract_all(d.text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                       AS toks
              FROM documents d JOIN w ON d.source = w.source),
            tot AS (
              SELECT source, weight,
                     CAST(COUNT(*) AS BIGINT) AS total_docs,
                     CAST(SUM(toks) AS BIGINT) AS total_tokens
              FROM base GROUP BY source, weight),
            rt AS (
              SELECT *,
                     LEAST(CAST('1.0' AS DOUBLE),
                           (CAST('2000.0' AS DOUBLE) * weight)
                             / CAST(total_tokens AS DOUBLE)) AS rate,
                     CAST(FLOOR(CAST('2000.0' AS DOUBLE) * weight)
                          AS BIGINT) AS target_tokens
              FROM tot),
            kept AS (
              SELECT b.source,
                     CAST(COUNT(*) AS BIGINT) AS kept_docs,
                     CAST(SUM(b.toks) AS BIGINT) AS kept_tokens
              FROM base b JOIN rt ON b.source = rt.source
              WHERE CAST(('0x' || substr(md5(b.doc_id::VARCHAR), 1, 15))
                           ::BIGINT AS DOUBLE)
                    < rt.rate * CAST('1152921504606846976' AS DOUBLE)
              GROUP BY b.source)
            SELECT rt.source, rt.weight, rt.total_docs, rt.total_tokens,
                   rt.target_tokens, rt.rate,
                   COALESCE(kept.kept_docs, 0) AS kept_docs,
                   COALESCE(kept.kept_tokens, 0) AS kept_tokens
            FROM rt LEFT JOIN kept ON rt.source = kept.source
            ORDER BY rt.source""",
        "q110_hard_negatives": _q110_oracle_sql(),
        "q111_random_walks": r"""
            WITH RECURSIVE d AS (
              SELECT doc_id FROM documents WHERE doc_id >= 2),
            -- DISTINCT subquery, NOT a bare UNION: inside WITH
            -- RECURSIVE DuckDB parses a CTE-level UNION as the
            -- recursive-union operator and skips the dedup
            e0 AS (
              SELECT DISTINCT src, dst FROM (
                SELECT CAST(FLOOR(doc_id / 2) AS BIGINT) AS src,
                       doc_id AS dst
                FROM d
                UNION ALL
                SELECT CAST(FLOOR(doc_id / 3) AS BIGINT), doc_id FROM d)),
            adj AS (
              SELECT src, dst,
                     ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst)
                       - 1 AS idx
              FROM e0),
            deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
                    FROM adj GROUP BY src),
            walk(walk_id, step, node) AS (
              SELECT doc_id, 0, doc_id FROM documents
              WHERE doc_id BETWEEN 1 AND 50
              UNION ALL
              SELECT w.walk_id, w.step + 1, a.dst
              FROM walk w
              JOIN deg ON deg.src = w.node
              JOIN adj a ON a.src = w.node
                AND a.idx = ('0x' || substr(md5(
                      w.walk_id || '|' || w.step || '|' || w.node),
                      1, 15))::BIGINT % deg.deg
              WHERE w.step < 6)
            SELECT walk_id, CAST(step AS INT) AS step, node
            FROM walk ORDER BY walk_id, step""",
        "q112_quality_ensemble": r"""
            WITH words AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '[ \t\n\r\f]+'),
                                 w -> w <> '') AS ws
              FROM documents),
            bg AS (
              SELECT doc_id, UNNEST(CASE WHEN len(ws) >= 2
                THEN list_transform(range(1, len(ws)),
                                    i -> ws[i] || ' ' || ws[i+1])
                ELSE [] END) AS bg
              FROM words),
            common AS (
              SELECT bg FROM (SELECT bg, COUNT(*) c FROM bg GROUP BY bg)
              WHERE c >= 3),
            totals AS (SELECT doc_id, COUNT(*) AS n_bigrams
                       FROM bg GROUP BY doc_id),
            hits AS (
              SELECT bg.doc_id, COUNT(*) AS n_common
              FROM bg JOIN common USING (bg) GROUP BY bg.doc_id),
            cov AS (
              SELECT d.doc_id,
                     COALESCE(CASE WHEN COALESCE(t.n_bigrams, 0) = 0
                                   THEN NULL
                                   ELSE COALESCE(h.n_common, 0)::DOUBLE
                                        / t.n_bigrams::DOUBLE END,
                              0.0) AS coverage
              FROM documents d
              LEFT JOIN totals t USING (doc_id)
              LEFT JOIN hits h USING (doc_id)),
            tok AS (SELECT doc_id, unnest(ws) AS w FROM words),
            feat AS (
              SELECT doc_id,
                     (('0x' || substr(md5('w|' ||
                        ((('0x' || substr(md5('f|' || w), 1, 15))::BIGINT
                          % 1024))::VARCHAR), 1, 15))::BIGINT % 2001
                      - 1000) AS wgt
              FROM tok),
            marg AS (
              SELECT d.doc_id,
                     COALESCE((SELECT SUM(wgt)::BIGINT FROM feat
                               WHERE feat.doc_id = d.doc_id), 0)
                       AS margin
              FROM documents d),
            r1 AS (
              SELECT doc_id, ROW_NUMBER() OVER (
                ORDER BY ({_Q112_QUALITY}) DESC, doc_id) AS rank
              FROM documents),
            r2 AS (
              SELECT doc_id, ROW_NUMBER() OVER (
                ORDER BY coverage DESC, doc_id) AS rank
              FROM cov),
            r3 AS (
              SELECT doc_id, ROW_NUMBER() OVER (
                ORDER BY margin DESC, doc_id) AS rank
              FROM marg),
            un AS (
              SELECT doc_id, rank FROM r1
              UNION ALL SELECT doc_id, rank FROM r2
              UNION ALL SELECT doc_id, rank FROM r3)
            SELECT doc_id,
                   CAST(SUM(1000000000000 // (60 + rank)) AS BIGINT)
                     AS rrf_micro,
                   COUNT(*)::BIGINT AS n_lists
            FROM un GROUP BY doc_id
            ORDER BY rrf_micro DESC, doc_id LIMIT 25""".replace(
                "{_Q112_QUALITY}", _QUALITY),
        "q113_padding_waste": f"""
            WITH t AS (
              SELECT LEAST(CAST(len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT),
                     512) AS toks
              FROM documents),
            b AS (
              SELECT toks,
                     CASE WHEN toks <= 64 THEN 64
                          WHEN toks <= 128 THEN 128
                          WHEN toks <= 256 THEN 256
                          ELSE 512 END AS bucket
              FROM t)
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(toks) AS BIGINT) AS real_tokens,
                   CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
                   CAST(COUNT(*) * bucket - SUM(toks) AS DOUBLE)
                     / CAST(COUNT(*) * bucket AS DOUBLE) AS waste_frac
            FROM b GROUP BY bucket ORDER BY bucket""",
        "q114_source_overlap_matrix": r"""
            WITH words AS (
              SELECT source,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '[ \t\n\r\f]+'),
                                 w -> w <> '') AS ws
              FROM documents),
            shing AS (
              SELECT source, UNNEST(CASE WHEN len(ws) >= 3
                THEN list_transform(range(1, len(ws)-1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                ELSE [array_to_string(ws, ' ')] END) AS sh
              FROM words),
            hashes AS (
              SELECT DISTINCT source AS g,
                     ('0x' || substr(md5('kmv|' || sh), 1, 15))::BIGINT
                       AS hv
              FROM shing),
            sk AS (
              SELECT g, hv FROM hashes
              QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY hv)
                      <= 64),
            pairs AS (
              SELECT a.g AS g1, b.g AS g2
              FROM (SELECT DISTINCT g FROM sk) a
              JOIN (SELECT DISTINCT g FROM sk) b ON a.g < b.g),
            mrows AS (
              SELECT p.g1, p.g2, s.hv
              FROM pairs p JOIN sk s ON s.g = p.g1
              UNION ALL
              SELECT p.g1, p.g2, s.hv
              FROM pairs p JOIN sk s ON s.g = p.g2),
            merged AS (
              SELECT g1, g2, hv, CAST(COUNT(*) AS BIGINT) AS sides
              FROM mrows GROUP BY g1, g2, hv),
            agg2 AS (
              SELECT g1, g2,
                     MAX(CASE WHEN rn = 64 THEN hv END) AS union_kth,
                     CAST(COUNT(*) AS BIGINT) AS n_union_kept,
                     CAST(SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_shared
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY g1, g2
                                                 ORDER BY hv) AS rn
                    FROM merged
                    QUALIFY rn <= 64)
              GROUP BY g1, g2)
            SELECT g1 AS group_a, g2 AS group_b,
                   COALESCE(union_kth, -1) AS union_kth,
                   n_union_kept, n_shared,
                   round(n_shared::DOUBLE
                         / LEAST(n_union_kept, 64)::DOUBLE, 6)
                     AS jaccard_est,
                   round(CASE WHEN union_kth IS NOT NULL
                         THEN 63.0::DOUBLE
                              * CAST('1152921504606846976' AS DOUBLE)
                              / union_kth::DOUBLE
                         ELSE n_union_kept::DOUBLE END, 4) AS union_est,
                   round((n_shared::DOUBLE
                          / LEAST(n_union_kept, 64)::DOUBLE)
                         * (CASE WHEN union_kth IS NOT NULL
                            THEN 63.0::DOUBLE
                                 * CAST('1152921504606846976' AS DOUBLE)
                                 / union_kth::DOUBLE
                            ELSE n_union_kept::DOUBLE END), 4)
                     AS intersection_est
            FROM agg2
            ORDER BY n_shared DESC, group_a, group_b LIMIT 15""",
        # Near-dup clusters = min-reachable-label over the q34 portable
        # LSH pair graph (recursive CTE); split keyed on the cluster.
        "q115_leakage_safe_split": fr"""
            WITH RECURSIVE words AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'),
                                 w -> w <> '') AS ws
              FROM documents),
            sh AS (
              SELECT doc_id, CASE WHEN len(ws) >= 3
                THEN list_transform(range(1, len(ws)-1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                ELSE [array_to_string(ws, ' ')] END AS shingles
              FROM words),
            sig AS (
              SELECT doc_id,
                     list_transform(range(1, 9), s ->
                       list_min(list_transform(shingles, g ->
                         ('0x' || substr(md5(s::VARCHAR || '|' || g), 1, 15))::BIGINT
                       ))) AS sg
              FROM sh),
            banded0 AS (
              SELECT doc_id, band,
                     sg[2*band+1]::VARCHAR || ',' || sg[2*band+2]::VARCHAR AS bucket
              FROM sig, unnest([0, 1, 2, 3]) AS t(band)),
            banded AS (
              SELECT doc_id, band, bucket FROM banded0
              QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 1000),
            pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
            sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                    UNION SELECT doc_b, doc_a FROM pairs),
            reach(node, lbl) AS (
              SELECT a, a FROM sym
              UNION
              SELECT s.a, r.lbl FROM sym s JOIN reach r ON s.b = r.node),
            labels AS (SELECT node, MIN(lbl) AS component
                       FROM reach GROUP BY node),
            assigned AS (
              SELECT d.doc_id, d.n_chars,
                     COALESCE(l.component, d.doc_id) AS cluster
              FROM documents d LEFT JOIN labels l ON d.doc_id = l.node),
            withsplit AS (
              SELECT doc_id, n_chars, cluster,
                     {_css_case_sql} AS split
              FROM assigned),
            per_split AS (
              SELECT split, COUNT(*)::BIGINT AS n_docs,
                     COUNT(DISTINCT cluster)::BIGINT AS n_clusters,
                     CAST(SUM(n_chars) AS BIGINT) AS sum_chars
              FROM withsplit GROUP BY split),
            leak AS (
              SELECT COALESCE(SUM(CASE WHEN sa.split <> sb.split
                                       THEN 1 ELSE 0 END), 0)::BIGINT
                       AS cross_split_pairs
              FROM pairs p
              JOIN withsplit sa ON p.doc_a = sa.doc_id
              JOIN withsplit sb ON p.doc_b = sb.doc_id)
            SELECT split, n_docs, n_clusters, sum_chars, cross_split_pairs
            FROM per_split CROSS JOIN leak ORDER BY split""",
        "q116_hits": _hits_oracle_sql(
            "SELECT doc_id AS src, CAST(FLOOR(doc_id / 2) AS BIGINT) AS dst "
            "FROM documents WHERE doc_id >= 1 "
            "UNION ALL "
            "SELECT doc_id, CAST(FLOOR(doc_id / 3) AS BIGINT) "
            "FROM documents WHERE doc_id >= 1",
            iterations=4) + " ORDER BY node",
        "q117_personalized_pagerank": _ppr_oracle_sql(
            "SELECT doc_id AS src, CAST(FLOOR(doc_id / 2) AS BIGINT) AS dst "
            "FROM documents WHERE doc_id >= 1",
            "SELECT doc_id AS node FROM documents WHERE doc_id % 29 = 0",
            iterations=5) + " ORDER BY node",
        # Every level recomputed directly from the data: agreement with
        # Spark's sketch-MERGE path is the KMV mergeability theorem.
        "q118_kmv_rollup": r"""
            WITH hv0 AS (
              SELECT DISTINCT source, lang,
                     ('0x' || substr(md5('kmv|' || text), 1, 15))::BIGINT
                       AS hv
              FROM documents),
            r2 AS (SELECT source, lang, hv,
                          row_number() OVER (PARTITION BY source, lang
                                             ORDER BY hv) AS rn
                   FROM hv0),
            l2 AS (SELECT 'source|lang' AS level,
                          source::VARCHAR AS source, lang::VARCHAR AS lang,
                          COALESCE(MAX(CASE WHEN rn = 64 THEN hv END), -1)
                            AS kmv_kth,
                          round(CASE WHEN MAX(CASE WHEN rn = 64 THEN hv END)
                                     IS NOT NULL
                                THEN 63.0 * 1152921504606846976.0
                                     / MAX(CASE WHEN rn = 64 THEN hv END)::DOUBLE
                                ELSE COUNT(*)::DOUBLE END, 4) AS kmv_estimate
                   FROM r2 WHERE rn <= 64 GROUP BY source, lang),
            hv1 AS (SELECT DISTINCT source, hv FROM hv0),
            r1 AS (SELECT source, hv,
                          row_number() OVER (PARTITION BY source
                                             ORDER BY hv) AS rn
                   FROM hv1),
            l1 AS (SELECT 'source' AS level, source::VARCHAR AS source,
                          '*' AS lang,
                          COALESCE(MAX(CASE WHEN rn = 64 THEN hv END), -1)
                            AS kmv_kth,
                          round(CASE WHEN MAX(CASE WHEN rn = 64 THEN hv END)
                                     IS NOT NULL
                                THEN 63.0 * 1152921504606846976.0
                                     / MAX(CASE WHEN rn = 64 THEN hv END)::DOUBLE
                                ELSE COUNT(*)::DOUBLE END, 4) AS kmv_estimate
                   FROM r1 WHERE rn <= 64 GROUP BY source),
            hv2 AS (SELECT DISTINCT hv FROM hv0),
            r0 AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
                   FROM hv2),
            l0 AS (SELECT 'total' AS level, '*' AS source, '*' AS lang,
                          COALESCE(MAX(CASE WHEN rn = 64 THEN hv END), -1)
                            AS kmv_kth,
                          round(CASE WHEN MAX(CASE WHEN rn = 64 THEN hv END)
                                     IS NOT NULL
                                THEN 63.0 * 1152921504606846976.0
                                     / MAX(CASE WHEN rn = 64 THEN hv END)::DOUBLE
                                ELSE COUNT(*)::DOUBLE END, 4) AS kmv_estimate
                   FROM r0 WHERE rn <= 64)
            SELECT * FROM l2 UNION ALL SELECT * FROM l1
            UNION ALL SELECT * FROM l0
            ORDER BY level, source, lang""",
        "q119_psi_drift": _psi_oracle_sql(
            "SELECT lang, source, n_chars FROM documents "
            "WHERE doc_id % 2 = 0",
            "SELECT lang, source, n_chars FROM documents "
            "WHERE doc_id % 2 = 1") + " ORDER BY feature, bin",
        "q120_hyperanf": (
            "WITH base AS (" + _anf_oracle_sql(
                "SELECT doc_id AS src, "
                "CAST(FLOOR(doc_id / 2) AS BIGINT) AS dst "
                "FROM documents WHERE doc_id >= 1 "
                "UNION ALL "
                "SELECT doc_id, CAST(FLOOR(doc_id / 3) AS BIGINT) "
                "FROM documents WHERE doc_id >= 1",
                rounds=3)
            + ") SELECT * FROM base WHERE node % 13 = 0 ORDER BY node"),
        "q121_gnn_feature_prop": (
            "WITH base AS (" + _gnnprop_oracle_sql(
                "SELECT vec_id AS node, "
                "list_transform(embedding, x -> x::DOUBLE) AS e "
                "FROM embeddings",
                "SELECT vec_id AS src, "
                "CAST(FLOOR(vec_id / 2) AS BIGINT) AS dst "
                "FROM embeddings WHERE vec_id >= 1",
                rounds=2) + """)
            SELECT node,
                   SUM(CASE WHEN dim = 1 THEN val END)::BIGINT AS f1,
                   SUM(CASE WHEN dim = 2 THEN val END)::BIGINT AS f2,
                   SUM(CASE WHEN dim = 3 THEN val END)::BIGINT AS f3,
                   SUM(CASE WHEN dim = 4 THEN val END)::BIGINT AS f4,
                   SUM(abs(val))::BIGINT AS l1_micro
            FROM base WHERE node % 7 = 0 GROUP BY node ORDER BY node"""),
        "q122_regional_revenue": """
            SELECT n_name,
                   SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                                  * 100) AS BIGINT))::BIGINT
                     AS revenue_cents,
                   COUNT(*)::BIGINT AS n_lineitems
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate <  TIMESTAMP '1997-01-01'
            GROUP BY n_name
            ORDER BY revenue_cents DESC, n_name ASC""",
        "q123_hill_tail_index": _hill_oracle_sql(
            "SELECT doc_id AS rid, n_chars::DOUBLE AS x FROM documents",
            ks=[10, 25, 50]) + " ORDER BY k",
        "q124_compaction_plan": _compaction_oracle_sql(
            "SELECT doc_id AS file_id, n_chars AS bytes FROM documents",
            target_bytes=50_000) + " ORDER BY bin",
        "q125_posting_sizes": (
            "WITH base AS (" + _postings_oracle_sql(
                "SELECT doc_id, text FROM documents", min_df=5)
            + ") SELECT * FROM base ORDER BY df DESC, term ASC LIMIT 15"),
        "q126_novelty_rate": (
            "WITH base AS (" + _novelty_oracle_sql(
                "SELECT doc_id, source, text FROM documents")
            + ") SELECT * FROM base ORDER BY source"),
        "q127_source_entropy": _entropy_oracle_sql(
            "SELECT source, lang FROM documents", "source", "lang")
            + " ORDER BY source",
        "q128_shard_layout": _shard_oracle_sql(
            "SELECT doc_id, n_chars FROM documents", n_shards=8)
            + " ORDER BY shard",
        "q129_rater_agreement": _kappa_oracle_sql(
            "SELECT value, event_type FROM events",
            "value > 50.0",
            "event_type IN ('purchase', 'signup')"),
        "q130_calibration": (
            "WITH base AS (" + _calibration_oracle_sql(
                "SELECT doc_id AS rid, n_chars AS s, "
                "(lang = 'en') AS y FROM documents")
            + ") SELECT * FROM base ORDER BY bin"),
        "q131_modularity": _modularity_oracle_sql(
            _PARENT_EDGES_SQL,
            _lpa_oracle_sql(_PARENT_EDGES_SQL, iterations=2))
            + " ORDER BY label",
        "q132_assortativity": _assortativity_oracle_sql(_PARENT_EDGES_SQL),
        "q133_fd_audit": "SELECT * FROM (" + _fd_oracle_sql(
            "SELECT source, lang FROM documents",
            [("source", "lang"), ("lang", "source")]) + ") ORDER BY fd",
        "q134_source_quota": _quota_oracle_sql(
            "SELECT source FROM documents", "source", budget=137)
            + ' ORDER BY "group"',
        "q135_oov_coverage": _oov_oracle_sql(
            "SELECT source, text FROM documents", k=500)
            + " ORDER BY source",
        "q136_node_clustering": _clustering_oracle_sql(
            "SELECT doc_id AS src, CAST(FLOOR(doc_id / 2) AS BIGINT) AS dst"
            " FROM documents WHERE doc_id >= 2"
            " UNION ALL SELECT doc_id, CAST(FLOOR(doc_id / 3) AS BIGINT)"
            " FROM documents WHERE doc_id >= 2"
            " UNION ALL SELECT CAST(FLOOR(doc_id / 2) AS BIGINT),"
            " CAST(FLOOR(doc_id / 3) AS BIGINT)"
            " FROM documents WHERE doc_id >= 2") + " ORDER BY node",
        "q137_label_rule_f1": _classification_oracle_sql(
            "SELECT lang AS t, CASE WHEN source LIKE '%blog%'"
            " THEN 'de' ELSE 'en' END AS p FROM documents")
            + " ORDER BY class",
        "q138_interarrival": _interarrival_oracle_sql(
            "SELECT user_id AS key, ts, event_id AS id FROM events")
            + " ORDER BY key",
        "q139_k_anonymity": "SELECT * FROM (" + _kanon_oracle_sql(
            "SELECT lang, source, n_chars // 1000 AS len_kb"
            " FROM documents",
            ["lang", "source", "len_kb"], ks=[2, 5, 20])
            + ") ORDER BY k",
        "q140_rdfs_closure": r"""
            WITH RECURSIVE
            sc0 AS (SELECT 'C' || i AS src, 'C' || (i // 2) AS dst
                    FROM range(1, 16) t(i)),
            sc(src, dst) AS (
              SELECT src, dst FROM sc0
              UNION
              SELECT s.src, e.dst FROM sc s JOIN sc0 e ON s.dst = e.src),
            sp0 AS (SELECT 'p' || i AS src, 'p' || (i // 2) AS dst
                    FROM range(1, 8) t(i)),
            sp(src, dst) AS (
              SELECT src, dst FROM sp0
              UNION
              SELECT s.src, e.dst FROM sp s JOIN sp0 e ON s.dst = e.src),
            dom AS (SELECT 'p' || i AS p, 'C' || i AS c FROM range(0, 8) t(i)),
            rng AS (SELECT 'p' || i AS p, 'C' || ((i + 5) % 16) AS c
                    FROM range(0, 8) t(i)),
            dom_eff AS (SELECT p, c FROM dom
                        UNION
                        SELECT s.src, d2.c FROM sp s JOIN dom d2 ON s.dst = d2.p),
            rng_eff AS (SELECT p, c FROM rng
                        UNION
                        SELECT s.src, d2.c FROM sp s JOIN rng d2 ON s.dst = d2.p),
            props AS (SELECT 'e' || doc_id AS subj, 'p' || (doc_id % 8) AS pred,
                             'e' || (doc_id // 3) AS obj
                      FROM documents),
            allprops AS (
              SELECT DISTINCT subj, pred, obj FROM (
                SELECT subj, pred, obj FROM props
                UNION ALL
                SELECT p2.subj, s.dst, p2.obj
                FROM props p2 JOIN sp s ON p2.pred = s.src)),
            types0 AS (
              SELECT DISTINCT subj, cls FROM (
                SELECT 'e' || doc_id AS subj, 'C' || (doc_id % 16) AS cls
                FROM documents
                UNION ALL
                SELECT p2.subj, de.c FROM props p2 JOIN dom_eff de
                  ON p2.pred = de.p
                UNION ALL
                SELECT p2.obj, re.c FROM props p2 JOIN rng_eff re
                  ON p2.pred = re.p)),
            types_full AS (
              SELECT DISTINCT subj, cls FROM (
                SELECT subj, cls FROM types0
                UNION ALL
                SELECT t0.subj, s.dst FROM types0 t0 JOIN sc s
                  ON t0.cls = s.src)),
            closure AS (
              SELECT subj, pred, obj FROM allprops
              UNION
              SELECT subj,
                     'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                     cls FROM types_full
              UNION
              SELECT src, 'http://www.w3.org/2000/01/rdf-schema#subClassOf',
                     dst FROM sc
              UNION
              SELECT src, 'http://www.w3.org/2000/01/rdf-schema#subPropertyOf',
                     dst FROM sp
              UNION
              SELECT p, 'http://www.w3.org/2000/01/rdf-schema#domain', c
              FROM dom
              UNION
              SELECT p, 'http://www.w3.org/2000/01/rdf-schema#range', c
              FROM rng)
            SELECT pred, COUNT(*) AS n_triples,
                   CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_subj,
                   CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_obj,
                   CAST(SUM(('0x' || substr(md5(subj || '|' || obj), 1, 15))
                            ::BIGINT % 1000003) AS BIGINT) AS digest
            FROM closure GROUP BY pred ORDER BY pred""",
        "q141_sameas_canonical": r"""
            WITH RECURSIVE
            e0 AS (SELECT 'e' || doc_id AS a, 'e' || (doc_id - 1) AS b
                   FROM documents WHERE doc_id % 5 <> 0),
            sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
            reach(a, b) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
            lab AS (SELECT a AS node, LEAST(a, MIN(b)) AS canonical
                    FROM reach GROUP BY a),
            t AS (SELECT 'e' || doc_id AS subj, 'rel' AS pred,
                         'e' || (doc_id // 7) AS obj
                  FROM documents)
            SELECT DISTINCT COALESCE(ls.canonical, t.subj) AS subj, pred,
                            COALESCE(lo.canonical, t.obj) AS obj
            FROM t LEFT JOIN lab ls ON t.subj = ls.node
                   LEFT JOIN lab lo ON t.obj = lo.node
            ORDER BY subj, obj""",
        "q142_neighbor_sample": r"""
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id >= 2),
            adj AS (
              SELECT DISTINCT src, dst FROM (
                SELECT doc_id // 2 AS src, doc_id AS dst FROM d
                UNION ALL
                SELECT doc_id // 3 AS src, doc_id AS dst FROM d)),
            ranked AS (
              SELECT src, dst,
                     ROW_NUMBER() OVER (
                       PARTITION BY src
                       ORDER BY ('0x' || substr(md5(src || '|' || dst),
                                                1, 15))::BIGINT, dst) AS rk
              FROM adj),
            seeds AS (SELECT doc_id AS seed FROM documents
                      WHERE doc_id BETWEEN 1 AND 40),
            hop1 AS (SELECT s.seed, r.src, r.dst FROM seeds s
                     JOIN ranked r ON r.src = s.seed AND r.rk <= 3),
            frontier AS (SELECT DISTINCT seed, dst AS node FROM hop1),
            hop2 AS (SELECT f.seed, r.src, r.dst FROM frontier f
                     JOIN ranked r ON r.src = f.node AND r.rk <= 2)
            SELECT seed, CAST(1 AS INT) AS hop, src, dst FROM hop1
            UNION ALL
            SELECT seed, CAST(2 AS INT) AS hop, src, dst FROM hop2
            ORDER BY seed, hop, src, dst""",
        "q143_transe_negatives": r"""
            WITH t AS (SELECT 'e' || doc_id AS subj,
                              'p' || (doc_id % 4) AS pred,
                              'e' || (doc_id // 2) AS obj
                       FROM documents),
            s AS (SELECT t.*, j.sample FROM t
                  CROSS JOIN (SELECT UNNEST([0, 1]) AS sample) j),
            p AS (SELECT subj, pred, obj, sample,
                         CASE WHEN sample % 2 = 0 THEN 's' ELSE 'o' END
                           AS side,
                         ('0x' || substr(md5(subj || '|' || pred || '|' ||
                                             obj || '|' || sample), 1, 15))
                           ::BIGINT % (SELECT COUNT(*) FROM documents)
                           AS idx
                  FROM s),
            c AS (SELECT subj, pred, obj, sample, side,
                         CASE WHEN side = 's' THEN 'e' || idx
                              ELSE subj END AS neg_subj,
                         CASE WHEN side = 'o' THEN 'e' || idx
                              ELSE obj END AS neg_obj
                  FROM p),
            f AS (SELECT * FROM c
                  WHERE NOT (neg_subj = subj AND neg_obj = obj))
            SELECT subj, pred, obj, CAST(sample AS INT) AS sample, side,
                   neg_subj, neg_obj
            FROM f
            WHERE NOT EXISTS (SELECT 1 FROM t
                              WHERE t.subj = f.neg_subj
                                AND t.pred = f.pred
                                AND t.obj = f.neg_obj)
            ORDER BY subj, pred, obj, sample""",
        "q144_predicate_profile": r"""
            WITH t AS (
              SELECT 'e' || doc_id AS subj, 'p' || (doc_id % 6) AS pred,
                     CASE WHEN doc_id % 3 = 0 THEN 'v' || (doc_id % 7)
                          ELSE 'e' || (doc_id // 2) END AS obj,
                     doc_id % 3 <> 0 AS uri,
                     CASE WHEN doc_id % 3 = 0 THEN
                       CASE WHEN doc_id % 6 = 0 THEN 'xsd:string'
                            ELSE 'xsd:integer' END END AS dt
              FROM documents),
            fan AS (SELECT pred, MAX(n) AS max_fanout FROM
                      (SELECT pred, subj, COUNT(*) AS n FROM t
                       GROUP BY pred, subj) GROUP BY pred),
            base AS (SELECT pred, COUNT(*) AS n_triples,
                            CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_subj,
                            CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_obj,
                            SUM(CASE WHEN NOT uri THEN 1 ELSE 0 END) AS lit
                     FROM t GROUP BY pred),
            md AS (SELECT pred, dt,
                          ROW_NUMBER() OVER (PARTITION BY pred
                                             ORDER BY COUNT(*) DESC, dt DESC)
                            AS rk
                   FROM t WHERE dt IS NOT NULL GROUP BY pred, dt)
            SELECT b.pred, b.n_triples, b.n_subj, b.n_obj,
                   CAST(b.n_subj * 1000000 // b.n_triples AS BIGINT)
                     AS functionality_ppm,
                   CAST(b.n_obj * 1000000 // b.n_triples AS BIGINT)
                     AS inv_functionality_ppm,
                   CAST(b.lit * 1000000 // b.n_triples AS BIGINT)
                     AS literal_ppm,
                   f.max_fanout, m.dt AS top_datatype
            FROM base b JOIN fan f ON b.pred = f.pred
            LEFT JOIN (SELECT pred, dt FROM md WHERE rk = 1) m
              ON b.pred = m.pred
            ORDER BY b.pred""",
        "q145_kg_snapshot": r"""
            WITH a AS (
              SELECT 'u' || user_id AS subj, event_type AS pred,
                     'v' || event_id AS obj, ts,
                     CASE WHEN event_id % 10 = 0 THEN 'delete'
                          ELSE 'upsert' END AS op
              FROM events),
            r AS (SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY subj, pred
                    ORDER BY ts DESC, op DESC, obj DESC) AS rn
                  FROM a)
            SELECT subj, pred, obj, ts FROM r
            WHERE rn = 1 AND op <> 'delete'
            ORDER BY subj, pred""",
        "q146_coverage_select": _greedy_oracle_sql(
            "SELECT doc_id, text FROM documents", k=6),
        "q147_entity_disambiguation": r"""
            WITH m AS (SELECT doc_id AS mention_id,
                              'a' || (doc_id % 20) AS alias,
                              doc_id % 5 AS mx, doc_id % 7 AS my
                       FROM documents),
            c AS (SELECT 'a' || (i % 20) AS alias, 'E' || i AS entity,
                         i % 5 AS cx, i % 7 AS cy,
                         CAST((i * 37 % 100) * 10000 AS BIGINT) AS prior_ppm
                  FROM range(0, 60) t(i)),
            j AS (SELECT m.mention_id, m.alias, c.entity, c.prior_ppm,
                         (CASE WHEN m.mx = c.cx THEN 1 ELSE 0 END +
                          CASE WHEN m.my = c.cy THEN 1 ELSE 0 END) AS inter
                  FROM m JOIN c ON m.alias = c.alias),
            s AS (SELECT mention_id, alias, entity, prior_ppm,
                         CAST(inter * 1000000 // (5 - inter) AS BIGINT)
                           AS jaccard_ppm
                  FROM j),
            r AS (SELECT *,
                         CAST(prior_ppm + 2 * jaccard_ppm AS BIGINT)
                           AS score,
                         ROW_NUMBER() OVER (
                           PARTITION BY mention_id
                           ORDER BY prior_ppm + 2 * jaccard_ppm DESC,
                                    entity DESC) AS rk
                  FROM s)
            SELECT mention_id, alias, entity, prior_ppm, jaccard_ppm, score
            FROM r WHERE rk = 1 ORDER BY mention_id""",
        "q148_anchor_profile": r"""
            WITH l AS (SELECT 'd' || doc_id AS src,
                              'd' || (doc_id // 3) AS target,
                              'anchor-' || (doc_id % 4) AS anchor
                       FROM documents),
            pa AS (SELECT target, anchor, COUNT(*) AS n
                   FROM l GROUP BY target, anchor),
            r AS (SELECT target, anchor, n,
                         ROW_NUMBER() OVER (PARTITION BY target
                                            ORDER BY n DESC, anchor DESC)
                           AS rk
                  FROM pa),
            agg AS (SELECT target, CAST(SUM(n) AS BIGINT) AS n_links,
                           CAST(COUNT(*) AS BIGINT) AS n_anchors
                    FROM pa GROUP BY target),
            srcs AS (SELECT target,
                            CAST(COUNT(DISTINCT src) AS BIGINT) AS n_sources
                     FROM l GROUP BY target)
            SELECT a.target, a.n_links, s.n_sources, a.n_anchors,
                   r.anchor AS top_anchor, CAST(r.n AS BIGINT)
                     AS top_anchor_n
            FROM agg a JOIN srcs s ON a.target = s.target
            JOIN r ON r.target = a.target AND r.rk = 1
            ORDER BY a.target""",
        "q149_url_prefix_rollup": r"""
            WITH pre AS (
              SELECT 1 AS depth, '/s' || (doc_id % 4) AS prefix
              FROM documents
              UNION ALL
              SELECT 2, '/s' || (doc_id % 4) || '/t' || (doc_id % 10)
              FROM documents
              UNION ALL
              SELECT 3, '/s' || (doc_id % 4) || '/t' || (doc_id % 10)
                        || '/p' || doc_id
              FROM documents)
            SELECT CAST(depth AS INT) AS depth, prefix,
                   COUNT(*) AS n_pages
            FROM pre GROUP BY depth, prefix ORDER BY depth, prefix""",
        "q150_skew_report": r"""
            WITH c AS (SELECT CAST(source AS VARCHAR) AS key,
                              COUNT(*) AS n
                       FROM documents GROUP BY source),
            tot AS (SELECT SUM(n) AS t, COUNT(*) AS k FROM c),
            head AS (SELECT key, n FROM c ORDER BY n DESC, key LIMIT 3)
            SELECT key, CAST(n AS BIGINT) AS n,
                   CAST(n * 1000000 // (SELECT t FROM tot) AS BIGINT)
                     AS share_ppm,
                   CAST((n + 99) // 100 AS BIGINT) AS suggested_salt,
                   CAST(n * 1000000 // GREATEST(
                     (SELECT t FROM tot) // (SELECT k FROM tot), 1)
                     AS BIGINT) AS skew_ratio_ppm
            FROM head
            UNION ALL
            SELECT '<TOTAL>', CAST((SELECT t FROM tot) AS BIGINT),
                   1000000, 0, NULL
            ORDER BY key""",
        "q151_margin_mine": r"""
            WITH s AS (SELECT vec_id AS src_id, embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id % 2 = 0),
            t AS (SELECT vec_id AS tgt_id, embedding::DOUBLE[] AS v
                  FROM embeddings WHERE vec_id % 2 = 1),
            p AS (SELECT src_id, tgt_id,
                         CAST(ROUND(ROUND(list_cosine_similarity(s.v, t.v),
                                          6) * 1000000, 0) AS BIGINT) AS c
                  FROM s CROSS JOIN t),
            rs AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                     ORDER BY c DESC, tgt_id) AS r FROM p),
            ks AS (SELECT src_id, SUM(c) AS ks FROM rs
                   WHERE r <= 4 GROUP BY src_id),
            rt AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY tgt_id
                     ORDER BY c DESC, src_id) AS r FROM p),
            kt AS (SELECT tgt_id, SUM(c) AS kt FROM rt
                   WHERE r <= 4 GROUP BY tgt_id),
            sc AS (SELECT p.src_id, p.tgt_id, p.c,
                          CASE WHEN ks.ks + kt.kt > 0 THEN
                            CAST(p.c * 8 * 1000000 // (ks.ks + kt.kt)
                                 AS BIGINT) END AS margin_ppm
                   FROM p JOIN ks USING (src_id) JOIN kt USING (tgt_id)),
            b AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                    ORDER BY margin_ppm DESC NULLS LAST, c DESC, tgt_id)
                    AS rb
                  FROM sc)
            SELECT src_id, tgt_id, c AS c_micro, margin_ppm
            FROM b WHERE rb = 1 AND margin_ppm >= 1000000
            ORDER BY src_id""",
        "q152_hubness": r"""
            WITH s AS (SELECT vec_id AS src_id, embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id % 2 = 0),
            t AS (SELECT vec_id AS tgt_id, embedding::DOUBLE[] AS v
                  FROM embeddings WHERE vec_id % 2 = 1),
            p AS (SELECT src_id, tgt_id,
                         CAST(ROUND(ROUND(list_cosine_similarity(s.v, t.v),
                                          6) * 1000000, 0) AS BIGINT) AS c
                  FROM s CROSS JOIN t),
            rs AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                     ORDER BY c DESC, tgt_id) AS r FROM p),
            occ AS (SELECT tgt_id, COUNT(*) AS n_k FROM rs
                    WHERE r <= 4 GROUP BY tgt_id)
            SELECT t.tgt_id, CAST(COALESCE(occ.n_k, 0) AS BIGINT) AS n_k
            FROM t LEFT JOIN occ ON t.tgt_id = occ.tgt_id
            ORDER BY t.tgt_id""",
        "q153_mojibake": r"""
            WITH dam AS (
              SELECT doc_id, text ||
                CASE WHEN doc_id % 5 = 0
                     THEN ' ' || repeat(chr(65533), doc_id % 4)
                     ELSE '' END ||
                CASE WHEN doc_id % 7 = 0
                     THEN repeat(chr(195) || chr(169), 2) ELSE '' END ||
                CASE WHEN doc_id % 11 = 0 THEN chr(133) ELSE '' END
                AS text
              FROM documents),
            c AS (
              SELECT doc_id,
                     GREATEST(length(text), 1) AS n,
                     CAST(len(regexp_extract_all(text,
                       '\x{FFFD}')) AS BIGINT) AS n_fffd,
                     CAST(len(regexp_extract_all(text,
                       '[\x{00C2}\x{00C3}\x{00E2}][\x{0080}-\x{00BF}]'))
                       AS BIGINT) AS n_latin_artifacts,
                     CAST(len(regexp_extract_all(text,
                       '[\x{0080}-\x{009F}]')) AS BIGINT) AS n_c1_controls
              FROM dam)
            SELECT doc_id, n_fffd, n_latin_artifacts, n_c1_controls,
                   CAST(n_fffd + n_latin_artifacts + n_c1_controls
                        AS BIGINT) AS n_damaged,
                   CAST((n_fffd + n_latin_artifacts + n_c1_controls)
                        * 1000000 // n AS BIGINT) AS damaged_ppm,
                   ((n_fffd + n_latin_artifacts + n_c1_controls)
                    * 1000000 // n) <= 1000 AS keep
            FROM c ORDER BY doc_id""",
        "q154_url_align": r"""
            WITH p AS (
              SELECT doc_id,
                     'http://h' || ((doc_id // 3) % 5) || '/' ||
                     CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'fr'
                          ELSE 'de' END || '/p' || (doc_id // 3) AS url
              FROM documents),
            en AS (SELECT DISTINCT doc_id AS en_id,
                          replace(url, '/en/', '/') AS key
                   FROM p WHERE url LIKE '%/en/%'),
            fr AS (SELECT DISTINCT doc_id AS fr_id,
                          replace(url, '/fr/', '/') AS key
                   FROM p WHERE url LIKE '%/fr/%')
            SELECT en.key, en_id, fr_id
            FROM en JOIN fr ON en.key = fr.key
            ORDER BY en_id""",
        "q155_robots_parse": r"""
            WITH star AS (
              SELECT 'h' || doc_id AS host, '*' AS agent,
                     CAST(1 AS INT) AS rule_idx, FALSE AS allow,
                     '/p' || (doc_id % 4) || '/' AS path
              FROM documents
              UNION ALL
              SELECT 'h' || doc_id, '*', CAST(2 AS INT), TRUE,
                     '/p' || (doc_id % 4) || '/ok'
              FROM documents),
            bot AS (
              SELECT 'h' || doc_id AS host, 'bot' AS agent,
                     CAST(1 AS INT) AS rule_idx, FALSE AS allow,
                     '/x/' AS path
              FROM documents WHERE doc_id % 3 = 0)
            SELECT host, agent, rule_idx, allow, path FROM star
            UNION ALL
            SELECT host, agent, rule_idx, allow, path FROM bot
            ORDER BY host, agent, rule_idx""",
        "q156_tag_density": r"""
            WITH h AS (
              SELECT doc_id,
                     '<html><body><h1>T' || doc_id || '</h1>' ||
                     repeat('<a href=/l>link</a>', doc_id % 5) ||
                     '<p>' || text || '</p></body></html>' AS html
              FROM documents),
            c AS (
              SELECT doc_id,
                     GREATEST(length(html), 1) AS n,
                     CAST(len(regexp_extract_all(html, '<[^>]*>'))
                          AS BIGINT) AS n_tags,
                     CAST(len(regexp_extract_all(html, '<[aA][ >/]'))
                          AS BIGINT) AS n_anchor_tags,
                     CAST(length(regexp_replace(html, '<[^>]*>', '', 'g'))
                          AS BIGINT) AS text_chars
              FROM h)
            SELECT doc_id, n_tags, n_anchor_tags, text_chars,
                   CAST(text_chars * 1000000 // n AS BIGINT) AS text_ppm
            FROM c ORDER BY doc_id""",
        "q157_predicate_fill": r"""
            WITH members AS (
              SELECT DISTINCT 'e' || doc_id AS subj,
                              'C' || (doc_id % 6) AS cls
              FROM documents),
            sizes AS (SELECT cls, COUNT(*) AS n_instances
                      FROM members GROUP BY cls),
            presence AS (
              SELECT DISTINCT subj, pred FROM (
                SELECT 'e' || doc_id AS subj, 'p' || (doc_id % 4) AS pred
                FROM documents WHERE doc_id % 3 <> 0
                UNION ALL
                SELECT 'e' || doc_id, 'q' FROM documents
                WHERE doc_id % 5 = 0)),
            filled AS (
              SELECT m.cls, p.pred, COUNT(*) AS n_with_pred
              FROM members m JOIN presence p ON m.subj = p.subj
              GROUP BY m.cls, p.pred)
            SELECT f.cls, f.pred,
                   CAST(s.n_instances AS BIGINT) AS n_instances,
                   CAST(f.n_with_pred AS BIGINT) AS n_with_pred,
                   CAST(f.n_with_pred * 1000000 // s.n_instances AS BIGINT)
                     AS fill_ppm
            FROM filled f JOIN sizes s ON f.cls = s.cls
            ORDER BY f.cls, f.pred""",
        "q158_dangling_refs": r"""
            WITH t AS (
              SELECT 'e' || doc_id AS subj,
                     'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
                       AS pred,
                     'C' || (doc_id % 6) AS obj, TRUE AS uri
              FROM documents
              UNION ALL
              SELECT 'e' || doc_id, 'p' || (doc_id % 4),
                     CASE WHEN doc_id % 7 = 0 THEN 'lit'
                          WHEN doc_id % 2 = 1 THEN 'x' || doc_id
                          ELSE 'e' || (doc_id // 2) END,
                     doc_id % 7 <> 0
              FROM documents),
            objs AS (SELECT DISTINCT pred, obj FROM t WHERE uri),
            described AS (SELECT DISTINCT subj AS obj FROM t),
            dang AS (
              SELECT pred, COUNT(*) AS n_dangling FROM objs o
              WHERE NOT EXISTS (SELECT 1 FROM described d
                                WHERE d.obj = o.obj)
              GROUP BY pred),
            tot AS (SELECT pred, COUNT(*) AS n_objects
                    FROM objs GROUP BY pred)
            SELECT tot.pred, CAST(tot.n_objects AS BIGINT) AS n_objects,
                   CAST(COALESCE(dang.n_dangling, 0) AS BIGINT)
                     AS n_dangling,
                   CAST(COALESCE(dang.n_dangling, 0) * 1000000
                        // tot.n_objects AS BIGINT) AS dangling_ppm
            FROM tot LEFT JOIN dang ON tot.pred = dang.pred
            ORDER BY tot.pred""",
        "q159_domain_violations": r"""
            WITH asserting AS (
              SELECT DISTINCT 'e' || doc_id AS subj,
                              'p' || (doc_id % 4) AS pred,
                              'C' || (doc_id % 4) AS domain_cls
              FROM documents),
            typed AS (
              SELECT DISTINCT 'e' || doc_id AS subj,
                              'C' || (doc_id % 6) AS domain_cls
              FROM documents),
            viol AS (
              SELECT pred, domain_cls, COUNT(*) AS n_violating
              FROM asserting a
              WHERE NOT EXISTS (SELECT 1 FROM typed t
                                WHERE t.subj = a.subj
                                  AND t.domain_cls = a.domain_cls)
              GROUP BY pred, domain_cls),
            tot AS (SELECT pred, domain_cls, COUNT(*) AS n_subjects
                    FROM asserting GROUP BY pred, domain_cls)
            SELECT tot.pred, tot.domain_cls,
                   CAST(tot.n_subjects AS BIGINT) AS n_subjects,
                   CAST(COALESCE(v.n_violating, 0) AS BIGINT)
                     AS n_violating,
                   CAST(COALESCE(v.n_violating, 0) * 1000000
                        // tot.n_subjects AS BIGINT) AS violation_ppm
            FROM tot LEFT JOIN viol v
              ON tot.pred = v.pred AND tot.domain_cls = v.domain_cls
            ORDER BY tot.pred, tot.domain_cls""",
        "q160_class_counts": r"""
            WITH RECURSIVE
            sc0 AS (SELECT 'C' || i AS src, 'C' || (i // 2) AS dst
                    FROM range(1, 16) t(i)),
            sc(src, dst) AS (
              SELECT src, dst FROM sc0
              UNION
              SELECT s.src, e.dst FROM sc s JOIN sc0 e ON s.dst = e.src),
            members AS (
              SELECT DISTINCT 'e' || doc_id AS subj,
                              'C' || (doc_id % 16) AS cls
              FROM documents),
            lifted AS (
              SELECT DISTINCT subj, cls FROM (
                SELECT subj, cls FROM members
                UNION ALL
                SELECT m.subj, s.dst FROM members m JOIN sc s
                  ON m.cls = s.src)),
            direct AS (SELECT cls, COUNT(*) AS n_direct
                       FROM members GROUP BY cls),
            total AS (SELECT cls, COUNT(*) AS n_total
                      FROM lifted GROUP BY cls)
            SELECT t.cls, CAST(COALESCE(d.n_direct, 0) AS BIGINT)
                     AS n_direct,
                   CAST(t.n_total AS BIGINT) AS n_total
            FROM total t LEFT JOIN direct d ON t.cls = d.cls
            ORDER BY t.cls""",
        "q161_ranking_eval": r"""
            WITH t AS (SELECT 'e' || doc_id AS subj,
                              'p' || (doc_id % 4) AS pred,
                              'e' || (doc_id // 2) AS obj
                       FROM documents),
            te AS (SELECT 'e' || doc_id AS subj,
                          'p' || (doc_id % 4) AS pred,
                          'e' || (doc_id // 2) AS obj
                   FROM documents WHERE doc_id % 9 = 0),
            e AS (SELECT 'e' || doc_id AS cand FROM documents),
            c0 AS (SELECT te.subj, te.pred, te.obj, e.cand
                   FROM te CROSS JOIN e
                   WHERE ('0x' || substr(md5(te.subj || '|' || te.pred ||
                            '|' || e.cand || '|cand'), 1, 15))::BIGINT
                           % 4 = 0
                      OR e.cand = te.obj),
            filt AS (SELECT c0.* FROM c0
                     WHERE NOT EXISTS (SELECT 1 FROM t
                                       WHERE t.subj = c0.subj
                                         AND t.pred = c0.pred
                                         AND t.obj = c0.cand)
                     UNION ALL
                     SELECT subj, pred, obj, obj AS cand FROM te),
            sc AS (SELECT subj, pred, obj, cand,
                          ('0x' || substr(md5(subj || '|' || pred || '|'
                            || cand), 1, 15))::BIGINT AS s,
                          ('0x' || substr(md5(subj || '|' || pred || '|'
                            || obj), 1, 15))::BIGINT AS st
                   FROM filt),
            r AS (SELECT subj, pred, obj,
                         CAST(COUNT(*) AS BIGINT) AS n_cand,
                         CAST(1 + SUM(CASE WHEN s > st OR (s = st AND
                              cand < obj) THEN 1 ELSE 0 END) AS BIGINT)
                           AS rank
                  FROM sc GROUP BY subj, pred, obj)
            SELECT subj, pred, obj, n_cand, rank,
                   CAST(1000000 // rank AS BIGINT) AS mrr_micro
            FROM r ORDER BY subj, pred, obj""",
        "q162_retrieval_metrics": r"""
            WITH scored AS (
              SELECT 'q' || (doc_id % 5) AS query_id,
                     'd' || doc_id AS doc_id,
                     (('0x' || substr(md5((doc_id % 5) || '|' || doc_id),
                       1, 15))::BIGINT)::DOUBLE AS score
              FROM documents),
            ranked AS (SELECT query_id, doc_id,
                              row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rnk
                       FROM scored),
            run AS (SELECT * FROM ranked WHERE rnk <= 20),
            rel AS (SELECT 'q' || (doc_id % 5) AS query_id,
                           'd' || doc_id AS doc_id,
                           CAST(doc_id % 4 AS BIGINT) AS rel
                    FROM documents
                    WHERE doc_id % 3 = 0 AND doc_id % 4 > 0),
            ks AS (SELECT UNNEST([5, 10]) AS k),
            nrel AS (SELECT query_id, COUNT(*) AS n_rel FROM rel
                     GROUP BY query_id),
            nret AS (SELECT query_id, COUNT(*) AS n_ret FROM run
                     GROUP BY query_id),
            hits AS (SELECT r.query_id, r.rnk, rel.rel,
                            CAST(round(1000000 * CAST(rel.rel AS DOUBLE)
                              / log2(r.rnk + 1)) AS BIGINT) AS dcg_t
                     FROM run r JOIN rel ON r.query_id = rel.query_id
                                        AND r.doc_id = rel.doc_id),
            hitk AS (SELECT query_id, k,
                            CAST(COUNT(*) AS BIGINT) AS hits,
                            CAST(SUM(dcg_t) AS BIGINT) AS dcg_micro
                     FROM hits CROSS JOIN ks WHERE rnk <= k
                     GROUP BY query_id, k),
            ideal AS (SELECT query_id, rel,
                             row_number() OVER (PARTITION BY query_id
                               ORDER BY rel DESC, doc_id) AS irank
                      FROM rel),
            idealk AS (SELECT query_id, k,
                              CAST(SUM(CAST(round(1000000 *
                                CAST(rel AS DOUBLE) / log2(irank + 1))
                                AS BIGINT)) AS BIGINT) AS idcg_micro
                       FROM ideal CROSS JOIN ks WHERE irank <= k
                       GROUP BY query_id, k),
            base AS (SELECT n.query_id, ks.k,
                            CAST(n.n_rel AS BIGINT) AS n_rel,
                            CAST(COALESCE(nret.n_ret, 0) AS BIGINT)
                              AS n_ret,
                            COALESCE(h.hits, 0) AS hits,
                            COALESCE(h.dcg_micro, 0) AS dcg_micro,
                            COALESCE(i.idcg_micro, 0) AS idcg_micro
                     FROM nrel n CROSS JOIN ks
                     LEFT JOIN nret ON nret.query_id = n.query_id
                     LEFT JOIN hitk h ON h.query_id = n.query_id
                                     AND h.k = ks.k
                     LEFT JOIN idealk i ON i.query_id = n.query_id
                                       AND i.k = ks.k),
            perq AS (SELECT query_id, k, n_rel, n_ret, hits,
                            hits * 1000000 // k AS prec_ppm,
                            hits * 1000000 // n_rel AS recall_ppm,
                            dcg_micro, idcg_micro,
                            CASE WHEN idcg_micro = 0 THEN 0
                                 ELSE dcg_micro * 1000000 // idcg_micro
                            END AS ndcg_ppm
                     FROM base),
            summ AS (SELECT '*' AS query_id, k,
                            CAST(SUM(n_rel) AS BIGINT) AS n_rel,
                            CAST(SUM(n_ret) AS BIGINT) AS n_ret,
                            CAST(SUM(hits) AS BIGINT) AS hits,
                            CAST(SUM(prec_ppm) // COUNT(*) AS BIGINT)
                              AS prec_ppm,
                            CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT)
                              AS recall_ppm,
                            CAST(SUM(dcg_micro) AS BIGINT) AS dcg_micro,
                            CAST(SUM(idcg_micro) AS BIGINT)
                              AS idcg_micro,
                            CAST(SUM(ndcg_ppm) // COUNT(*) AS BIGINT)
                              AS ndcg_ppm
                     FROM perq GROUP BY k)
            SELECT query_id, CAST(k AS INT) AS k, n_rel, n_ret,
                   CAST(hits AS BIGINT) AS hits,
                   CAST(prec_ppm AS BIGINT) AS prec_ppm,
                   CAST(recall_ppm AS BIGINT) AS recall_ppm,
                   CAST(dcg_micro AS BIGINT) AS dcg_micro,
                   CAST(idcg_micro AS BIGINT) AS idcg_micro,
                   CAST(ndcg_ppm AS BIGINT) AS ndcg_ppm
            FROM (SELECT * FROM perq UNION ALL SELECT * FROM summ)
            ORDER BY query_id, k""",
        "q163_redirects": r"""
            WITH RECURSIVE
            e0 AS (SELECT 'u' || doc_id AS src,
                          'u' || (doc_id - 1) AS dst
                   FROM documents WHERE doc_id % 10 <> 0
                   UNION ALL
                   SELECT 'u' || doc_id, 'u' || (doc_id + 9)
                   FROM documents WHERE doc_id % 100 = 0),
            em AS (SELECT src AS url, MIN(dst) AS nxt
                   FROM e0 GROUP BY src),
            walk(url, cur, hops) AS (
              SELECT url, nxt, 1 FROM em
              UNION ALL
              SELECT w.url, em.nxt, w.hops + 1
              FROM walk w JOIN em ON em.url = w.cur
              WHERE w.hops < 16),
            term AS (SELECT w.url, w.cur, w.hops
                     FROM walk w LEFT JOIN em ON em.url = w.cur
                     WHERE em.url IS NULL)
            SELECT em.url, t.cur AS final_url,
                   CAST(t.hops AS BIGINT) AS n_hops,
                   t.url IS NOT NULL AS resolved
            FROM em LEFT JOIN term t ON t.url = em.url
            ORDER BY em.url""",
        "q164_sitemap_parse": r"""
            WITH b AS (SELECT 'h' || (doc_id % 7) AS host,
                              '<url><loc>https://h' || (doc_id % 7) ||
                              '/p' || doc_id || '</loc>' ||
                              CASE WHEN doc_id % 2 = 0 THEN
                                '<lastmod>2026-01-' ||
                                lpad(CAST((doc_id % 28) + 1 AS VARCHAR),
                                     2, '0') || '</lastmod>'
                              ELSE '' END || '</url>' AS blk
                       FROM documents),
            sm AS (SELECT host, string_agg(blk, '' ORDER BY blk) AS xml
                   FROM b GROUP BY host),
            ex AS (SELECT host,
                          UNNEST(string_split(xml, '</url>')) AS block
                   FROM sm),
            p AS (SELECT host,
                         regexp_extract(block,
                           '<loc>\s*([^<]+?)\s*</loc>', 1) AS loc,
                         NULLIF(regexp_extract(block,
                           '<lastmod>\s*([^<]+?)\s*</lastmod>', 1), '')
                           AS lastmod
                  FROM ex)
            SELECT host, loc, lastmod FROM p WHERE loc <> ''
            ORDER BY host, loc""",
        "q165_sitemap_coverage": r"""
            WITH per AS (
              SELECT 'h' || (doc_id % 7) AS host,
                     COUNT(*) AS n_sitemap,
                     SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                       AS n_both,
                     SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                     + SUM(CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END)
                       AS n_crawled
              FROM documents GROUP BY 1)
            SELECT host, CAST(n_sitemap AS BIGINT) AS n_sitemap,
                   CAST(n_crawled AS BIGINT) AS n_crawled,
                   CAST(n_both AS BIGINT) AS n_both,
                   CAST(CASE WHEN n_sitemap = 0 THEN 0
                        ELSE n_both * 1000000 // n_sitemap END AS BIGINT)
                     AS coverage_ppm,
                   CAST(CASE WHEN n_crawled = 0 THEN 0
                        ELSE (n_crawled - n_both) * 1000000 // n_crawled
                        END AS BIGINT) AS orphan_ppm
            FROM per ORDER BY host""",
        "q166_politeness_schedule": r"""
            WITH f AS (SELECT 'h' || (doc_id % 11) AS host,
                              'u' || doc_id AS url,
                              doc_id % 17 AS pr
                       FROM documents),
            r AS (SELECT host, url,
                         row_number() OVER (PARTITION BY host
                           ORDER BY pr DESC, url) - 1 AS slot
                  FROM f),
            d AS (SELECT 'h' || i AS host, (i + 1) * 250 AS delay_ms
                  FROM range(6) t(i))
            SELECT r.host, r.url, CAST(slot AS BIGINT) AS slot,
                   CAST(slot * COALESCE(d.delay_ms, 1000) AS BIGINT)
                     AS fetch_at_ms
            FROM r LEFT JOIN d ON d.host = r.host
            ORDER BY r.host, slot""",
        "q167_entity_summaries": r"""
            WITH f AS (SELECT 'e' || (doc_id % 50) AS subj,
                              'p' || (doc_id % 20) AS pred,
                              'o' || doc_id AS obj
                       FROM documents),
            ns AS (SELECT COUNT(DISTINCT subj) AS n FROM f),
            ps AS (SELECT pred, COUNT(*) AS np
                   FROM (SELECT DISTINCT subj, pred FROM f)
                   GROUP BY pred),
            sc AS (SELECT f.subj, f.pred, f.obj,
                          (SELECT n FROM ns) * 1000000 // ps.np
                            AS score_ppm
                   FROM f JOIN ps ON ps.pred = f.pred),
            r AS (SELECT subj, pred, obj, score_ppm,
                         row_number() OVER (PARTITION BY subj
                           ORDER BY score_ppm DESC, pred, obj) AS rk
                  FROM sc)
            SELECT subj, CAST(rk AS INT) AS rk, pred, obj,
                   CAST(score_ppm AS BIGINT) AS score_ppm
            FROM r WHERE rk <= 3 ORDER BY subj, rk""",
        "q168_infer_types": r"""
            WITH usage AS (SELECT DISTINCT 'e' || (doc_id % 50) AS subj,
                                  'p' || (doc_id % 20) AS pred
                           FROM documents),
            typed AS (SELECT DISTINCT 'e' || doc_id AS subj
                      FROM documents
                      WHERE doc_id < 50 AND doc_id % 7 = 0),
            sch AS (SELECT 'p' || i AS pred, 'C' || (i % 5) AS domain_cls
                    FROM range(20) t(i)),
            votes AS (SELECT u.subj, s.domain_cls, COUNT(*) AS votes
                      FROM usage u JOIN sch s ON s.pred = u.pred
                      WHERE u.subj NOT IN (SELECT subj FROM typed)
                      GROUP BY u.subj, s.domain_cls),
            r AS (SELECT subj, domain_cls, votes,
                         row_number() OVER (PARTITION BY subj
                           ORDER BY votes DESC, domain_cls DESC) AS rn,
                         SUM(votes) OVER (PARTITION BY subj) AS tot
                  FROM votes)
            SELECT subj, domain_cls AS inferred_cls,
                   CAST(votes AS BIGINT) AS votes,
                   CAST(tot AS BIGINT) AS n_votes_total
            FROM r WHERE rn = 1 ORDER BY subj""",
        "q169_functional_conflicts": r"""
            WITH t AS (
              SELECT 'e' || (doc_id // 2) AS subj, 'dob' AS pred,
                     CASE WHEN doc_id % 40 = 1 THEN 'vX' || doc_id
                          ELSE 'v' || (doc_id // 2) END AS obj
              FROM documents
              UNION ALL
              SELECT 'e' || (doc_id % 25), 'tag', 'o' || doc_id
              FROM documents),
            per AS (SELECT pred, subj, COUNT(DISTINCT obj) AS n_obj,
                           MIN(obj) AS min_obj, MAX(obj) AS max_obj
                    FROM t GROUP BY pred, subj),
            fs AS (SELECT pred,
                          CAST(COUNT(*) * 1000000 // SUM(n_obj)
                               AS BIGINT) AS functionality_ppm
                   FROM per GROUP BY pred
                   HAVING COUNT(*) * 1000000 // SUM(n_obj) >= 900000)
            SELECT per.pred, fs.functionality_ppm, per.subj,
                   CAST(n_obj AS BIGINT) AS n_obj, min_obj, max_obj
            FROM per JOIN fs ON fs.pred = per.pred
            WHERE n_obj >= 2
            ORDER BY per.pred, per.subj""",
        "q170_recrawl_schedule": (
            "WITH base AS (" + _recrawl_oracle_sql(
                "SELECT 'u' || (doc_id % 100) AS url,"
                " CAST(doc_id AS BIGINT) AS warc_ts,"
                " 'f' || ((doc_id // 100) // ((doc_id % 5) + 1))"
                " AS fingerprint FROM documents")
            + ") SELECT * FROM base ORDER BY url"),
        "q171_template_shingles": (
            "WITH base AS (" + _template_oracle_sql(
                "SELECT source AS host, doc_id,"
                " COALESCE(text, '') || ' kgp footer ' || source ||"
                " ' all rights reserved' AS text FROM documents",
                min_share_ppm=900_000)
            + ") SELECT * FROM base ORDER BY host, shingle"),
        "q172_blocking_quality": r"""
            WITH b AS (SELECT DISTINCT block_key, record_id FROM (
                SELECT 'b' || (doc_id % 40) AS block_key,
                       'r' || doc_id AS record_id FROM documents
                UNION ALL
                SELECT 'c' || (doc_id // 20), 'r' || doc_id
                FROM documents)),
            per AS (SELECT block_key, COUNT(*) AS c FROM b
                    GROUP BY block_key),
            st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
                          CAST(SUM(c * (c - 1) // 2) AS BIGINT)
                            AS n_comparisons,
                          CAST(MAX(c) AS BIGINT) AS max_block,
                          CAST(MAX(c * (c - 1) // 2) AS BIGINT) AS maxp
                   FROM per),
            nr AS (SELECT CAST(COUNT(DISTINCT record_id) AS BIGINT)
                     AS n_records FROM b),
            g0 AS (SELECT 'r' || d.doc_id AS a,
                          'r' || d2.doc_id AS b2
                   FROM documents d JOIN documents d2
                     ON d2.doc_id = d.doc_id + 40
                   WHERE d.doc_id % 3 = 0
                   UNION ALL
                   SELECT 'r' || d.doc_id, 'r' || d2.doc_id
                   FROM documents d JOIN documents d2
                     ON d2.doc_id = d.doc_id + 1
                   WHERE d.doc_id % 3 = 1),
            g AS (SELECT DISTINCT LEAST(a, b2) AS a,
                         GREATEST(a, b2) AS b2
                  FROM g0 WHERE a <> b2),
            cob AS (SELECT DISTINCT g.a, g.b2
                    FROM g JOIN b ba ON ba.record_id = g.a
                           JOIN b bb ON bb.record_id = g.b2
                                    AND bb.block_key = ba.block_key),
            gs AS (SELECT CAST((SELECT COUNT(*) FROM g) AS BIGINT)
                     AS n_gold,
                   CAST((SELECT COUNT(*) FROM cob) AS BIGINT) AS hit)
            SELECT nr.n_records, st.n_blocks, st.n_comparisons,
                   st.max_block,
                   CAST(CASE WHEN st.n_comparisons = 0 THEN 0
                        ELSE st.maxp * 1000000 // st.n_comparisons END
                        AS BIGINT) AS max_block_share_ppm,
                   CAST(CASE WHEN nr.n_records * (nr.n_records - 1) // 2
                               = 0 THEN 0
                        WHEN st.n_comparisons >=
                          nr.n_records * (nr.n_records - 1) // 2 THEN 0
                        ELSE 1000000 - st.n_comparisons * 1000000 //
                          (nr.n_records * (nr.n_records - 1) // 2)
                        END AS BIGINT) AS reduction_ppm,
                   gs.n_gold,
                   CAST(CASE WHEN gs.n_gold = 0 THEN 0
                        ELSE gs.hit * 1000000 // gs.n_gold END
                        AS BIGINT) AS pc_ppm
            FROM st, nr, gs""",
        "q173_spearman": ("""
            WITH d AS (SELECT source AS g, doc_id,
                              CAST(n_chars AS DOUBLE) AS x,
                              CAST((doc_id * 37) % 101 AS DOUBLE) AS y
                       FROM documents),
            r AS (SELECT g,
                         row_number() OVER (PARTITION BY g
                           ORDER BY x, doc_id) AS rx,
                         row_number() OVER (PARTITION BY g
                           ORDER BY y, doc_id) AS ry
                  FROM d),
            a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                         CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT)
                           AS sum_d2
                  FROM r GROUP BY g HAVING COUNT(*) >= 2)
            SELECT g AS source, n, sum_d2, """
            + _RHO_PPM_SQL + """ AS rho_ppm
            FROM a ORDER BY source"""),
        "q174_gini": r"""
            WITH d AS (SELECT source AS g, doc_id,
                              CAST(n_chars AS BIGINT) AS x
                       FROM documents),
            r AS (SELECT g, x,
                         row_number() OVER (PARTITION BY g
                           ORDER BY x, doc_id) AS i
                  FROM d),
            a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                         CAST(SUM(x) AS BIGINT) AS total,
                         CAST(SUM(i * x) AS BIGINT) AS ix
                  FROM r GROUP BY g)
            SELECT g AS source, n, total,
                   CAST(CASE WHEN total = 0 THEN 0 ELSE
                        (2 * ix - (n + 1) * total) * 1000000
                        // (n * total) END AS BIGINT) AS gini_ppm
            FROM a ORDER BY source""",
        "q175_host_reciprocity": r"""
            WITH l AS (SELECT 'h' || (doc_id % 13) AS s,
                              'h' || ((doc_id * doc_id) % 13) AS t
                       FROM documents),
            e AS (SELECT DISTINCT s, t FROM l WHERE s <> t),
            outs AS (SELECT s, COUNT(*)::BIGINT AS o FROM e GROUP BY s),
            ins AS (SELECT t, COUNT(*)::BIGINT AS i FROM e GROUP BY t),
            mut AS (SELECT e.s, COUNT(*)::BIGINT AS m
                    FROM e JOIN e e2 ON e2.s = e.t AND e2.t = e.s
                    GROUP BY e.s),
            hosts AS (SELECT COALESCE(outs.s, ins.t) AS host,
                             COALESCE(o, 0) AS out_hosts,
                             COALESCE(i, 0) AS in_hosts
                      FROM outs FULL OUTER JOIN ins ON ins.t = outs.s)
            SELECT host, CAST(out_hosts AS BIGINT) AS out_hosts,
                   CAST(in_hosts AS BIGINT) AS in_hosts,
                   CAST(COALESCE(m, 0) AS BIGINT) AS mutual_hosts,
                   CAST(CASE WHEN out_hosts = 0 THEN 0 ELSE
                        COALESCE(m, 0) * 1000000 // out_hosts END
                        AS BIGINT) AS reciprocity_ppm
            FROM hosts LEFT JOIN mut ON mut.s = hosts.host
            ORDER BY host""",
        "q176_shacl_cardinality": r"""
            WITH members AS (SELECT DISTINCT 'e' || (doc_id % 60) AS subj,
                                    'C' || (doc_id % 60 % 3) AS cls
                             FROM documents),
            asserts AS (
              SELECT 'e' || (doc_id % 60) AS subj, 'name' AS pred
              FROM documents WHERE doc_id % 2 = 0
              UNION ALL
              SELECT 'e' || (doc_id % 60), 'email'
              FROM documents WHERE doc_id % 7 = 0),
            counts AS (SELECT subj, pred, COUNT(*) AS c
                       FROM asserts GROUP BY subj, pred),
            shapes(cls, pred, min_count, max_count) AS (VALUES
              ('C0', 'name', 1, 4), ('C1', 'name', 1, 4),
              ('C2', 'name', 1, 4), ('C0', 'email', 1, NULL)),
            got AS (SELECT m.cls, s.pred, m.subj,
                           COALESCE(c.c, 0) AS c,
                           s.min_count, s.max_count
                    FROM members m JOIN shapes s ON s.cls = m.cls
                    LEFT JOIN counts c ON c.subj = m.subj
                                      AND c.pred = s.pred),
            v AS (SELECT cls, pred,
                         CASE WHEN c < min_count THEN 'under'
                              WHEN max_count IS NOT NULL
                                   AND c > max_count THEN 'over'
                              ELSE 'ok' END AS state
                  FROM got)
            SELECT cls, pred, CAST(COUNT(*) AS BIGINT) AS n_instances,
                   CAST(SUM(CASE WHEN state = 'ok' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_conforming,
                   CAST(SUM(CASE WHEN state = 'under' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_under,
                   CAST(SUM(CASE WHEN state = 'over' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_over,
                   CAST(SUM(CASE WHEN state = 'ok' THEN 1 ELSE 0 END)
                        * 1000000 // COUNT(*) AS BIGINT)
                     AS conforming_ppm
            FROM v GROUP BY cls, pred ORDER BY cls, pred""",
        "q177_fact_lifespan": r"""
            WITH obs AS (SELECT 's' || (doc_id % 25) AS subj,
                                'p' || (doc_id % 2) AS pred,
                                'o' || (doc_id % 75) AS obj,
                                CAST(doc_id // 25 AS BIGINT) AS warc_ts
                         FROM documents),
            per AS (SELECT subj, pred, obj,
                           MIN(warc_ts) AS first_seen,
                           MAX(warc_ts) AS last_seen,
                           CAST(COUNT(*) AS BIGINT) AS n_obs
                    FROM obs GROUP BY subj, pred, obj)
            SELECT subj, pred, obj, first_seen, last_seen, n_obs,
                   last_seen = (SELECT MAX(warc_ts) FROM obs)
                     AS is_current
            FROM per ORDER BY subj, pred, obj""",
        "q178_property_graph_nodes": r"""
            WITH t AS (SELECT 'e' || (doc_id % 30) AS subj,
                              'p' || (doc_id % 5) AS pred,
                              'v' || doc_id AS obj,
                              doc_id % 3 = 0 AS obj_is_uri
                       FROM documents)
            SELECT subj,
                   CAST(SUM(CASE WHEN NOT obj_is_uri THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_props,
                   CAST(SUM(CASE WHEN obj_is_uri THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_edges_out,
                   COALESCE(string_agg(
                     CASE WHEN NOT obj_is_uri
                          THEN pred || '=' || obj END, chr(31)
                     ORDER BY CASE WHEN NOT obj_is_uri
                                   THEN pred || '=' || obj END), '')
                     AS props
            FROM t GROUP BY subj ORDER BY subj""",
        "q179_crawl_traps": r"""
            WITH p AS (SELECT 'h' || (doc_id % 9) AS host,
                              CASE WHEN doc_id % 3 = 0 THEN
                                'https://h' || (doc_id % 9) ||
                                '/cal?d=' || doc_id
                              ELSE 'https://h' || (doc_id % 9) ||
                                '/p' || doc_id END AS url
                       FROM documents),
            e AS (SELECT host, url,
                         regexp_extract(url,
                           '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
                         CASE WHEN contains(url, '?') THEN 1 ELSE 0 END
                           AS has_q
                  FROM p),
            a AS (SELECT host,
                         CAST(COUNT(DISTINCT url) AS BIGINT) AS n_urls,
                         CAST(COUNT(DISTINCT path) AS BIGINT) AS n_paths,
                         CAST(SUM(has_q) AS BIGINT) AS n_with_query
                  FROM e GROUP BY host HAVING COUNT(DISTINCT url) >= 10)
            SELECT host, n_urls, n_paths, n_with_query,
                   CAST(CASE WHEN n_paths = 0 THEN 0 ELSE
                        n_urls * 1000000 // n_paths END AS BIGINT)
                     AS urls_per_path_ppm,
                   CAST(n_with_query * 1000000 // n_urls AS BIGINT)
                     AS query_share_ppm
            FROM a ORDER BY host""",
        "q180_soft404": r"""
            WITH p AS (SELECT doc_id, source AS host,
                              CASE WHEN doc_id % 11 = 0
                                THEN 'Sorry - page not found.'
                              WHEN doc_id % 11 = 1
                                THEN '404 error ' || COALESCE(text, '')
                              ELSE text END AS text
                       FROM documents),
            s AS (SELECT doc_id, host, COALESCE(text, '') AS t FROM p)
            SELECT doc_id, host,
                   CAST(length(t) AS BIGINT) AS n_chars,
                   regexp_matches(lower(t),
                     '(page not found|404 error|no longer available|does not exist|page cannot be found)')
                     AS has_phrase,
                   (regexp_matches(lower(t),
                     '(page not found|404 error|no longer available|does not exist|page cannot be found)')
                    AND length(t) < 2000) AS is_soft404
            FROM s ORDER BY doc_id""",
        "q181_lang_mismatch": f"""
            WITH p AS (SELECT source AS host, lang,
                              {lang_case} AS pred
                       FROM documents)
            SELECT host, CAST(COUNT(*) AS BIGINT) AS n_pages,
                   CAST(SUM(CASE WHEN pred = lang AND pred <> 'und'
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
                   CAST(SUM(CASE WHEN pred <> lang AND pred <> 'und'
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
                   CAST(SUM(CASE WHEN pred = 'und' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_und,
                   CAST(CASE WHEN SUM(CASE WHEN pred <> 'und' THEN 1
                                      ELSE 0 END) = 0 THEN 0
                        ELSE SUM(CASE WHEN pred <> lang
                                      AND pred <> 'und' THEN 1 ELSE 0
                                 END) * 1000000
                          // SUM(CASE WHEN pred <> 'und' THEN 1 ELSE 0
                                 END) END AS BIGINT) AS mismatch_ppm
            FROM p GROUP BY host ORDER BY host""",
        "q182_ifp_candidates": r"""
            WITH t AS (
              SELECT 'e' || doc_id AS subj, 'email' AS pred,
                     'm' || (doc_id - doc_id % 2) AS obj FROM documents
              UNION ALL
              SELECT 'e' || doc_id, 'homepage',
                     'h' || (doc_id - doc_id % 2)
              FROM documents WHERE doc_id % 4 < 2
              UNION ALL
              SELECT 'e' || doc_id, 'tag', 'news' FROM documents),
            pf AS (SELECT DISTINCT subj, pred, obj FROM t),
            fs AS (SELECT pred FROM (
                     SELECT pred, COUNT(DISTINCT obj) AS no,
                            COUNT(*) AS np
                     FROM pf GROUP BY pred)
                   WHERE no * 1000000 // np >= 500000),
            k AS (SELECT pf.pred AS band, pf.obj AS bucket, pf.subj
                  FROM pf JOIN fs ON fs.pred = pf.pred),
            sizes AS (SELECT band, bucket, COUNT(*) AS n
                      FROM k GROUP BY band, bucket),
            ok AS (SELECT k.band, k.bucket, k.subj
                   FROM k JOIN sizes ON sizes.band = k.band
                                    AND sizes.bucket = k.bucket
                   WHERE sizes.n BETWEEN 2 AND 100),
            pairs AS (SELECT a.subj AS subj_a, b.subj AS subj_b
                      FROM ok a JOIN ok b
                        ON a.band = b.band AND a.bucket = b.bucket
                       AND a.subj < b.subj)
            SELECT subj_a, subj_b,
                   CAST(COUNT(*) AS BIGINT) AS n_evidence
            FROM pairs GROUP BY subj_a, subj_b
            ORDER BY subj_a, subj_b""",
        "q183_fuse_facts": r"""
            WITH a0 AS (SELECT DISTINCT
                          'e' || (doc_id % 50) AS subj,
                          'p' || (doc_id % 2) AS pred,
                          'v' || (doc_id % 3) AS obj,
                          'src' || (doc_id % 4) AS source,
                          CAST(doc_id AS BIGINT) AS warc_ts
                        FROM documents),
            tr AS (SELECT 'src' || i AS source, i + 1 AS w
                   FROM range(4) t(i)),
            v AS (SELECT a0.*, tr.w FROM a0 JOIN tr
                    ON tr.source = a0.source),
            per AS (SELECT subj, pred, obj,
                           CAST(SUM(w) AS BIGINT) AS w,
                           MAX(warc_ts) AS last_ts,
                           CAST(COUNT(DISTINCT source) AS BIGINT)
                             AS n_sources
                    FROM v GROUP BY subj, pred, obj),
            r AS (SELECT subj, pred, obj, w, last_ts, n_sources,
                         row_number() OVER (PARTITION BY subj, pred
                           ORDER BY w DESC, last_ts DESC, obj DESC)
                           AS rn,
                         COUNT(*) OVER (PARTITION BY subj, pred)
                           AS n_candidates
                  FROM per)
            SELECT subj, pred, obj, w AS weight_total, last_ts,
                   n_sources, CAST(n_candidates AS BIGINT)
                     AS n_candidates
            FROM r WHERE rn = 1 ORDER BY subj, pred""",
        "q184_robots_compliance": r"""
            WITH crawl AS (SELECT 'h' || (doc_id % 5) AS host,
                                  'u' || doc_id AS url,
                                  CASE doc_id % 4
                                    WHEN 0 THEN '/a/x' || doc_id
                                    WHEN 1 THEN '/a/pub/p' || doc_id
                                    WHEN 2 THEN '/b/q' || doc_id
                                    ELSE '/open/' || doc_id END AS path
                           FROM documents),
            hr AS (SELECT 'h' || i AS host, i FROM range(5) t(i)),
            rules AS (
              SELECT host, FALSE AS allow, '/a' AS rule_path FROM hr
              UNION ALL
              SELECT host, TRUE, '/a/pub' FROM hr
              UNION ALL
              SELECT host, FALSE, '/b' FROM hr WHERE i % 2 = 0),
            m AS (SELECT c.host, c.url, r.allow, r.rule_path,
                         row_number() OVER (PARTITION BY c.host, c.url
                           ORDER BY length(r.rule_path) DESC,
                                    r.allow DESC, r.rule_path DESC)
                           AS rn
                  FROM crawl c JOIN rules r ON r.host = c.host
                  WHERE substr(c.path, 1, length(r.rule_path))
                          = r.rule_path)
            SELECT c.host, c.url,
                   COALESCE(m.allow, TRUE) AS allowed,
                   m.rule_path AS matched_rule
            FROM crawl c LEFT JOIN m ON m.host = c.host
                                    AND m.url = c.url AND m.rn = 1
            ORDER BY c.url""",
        "q185_readability": ("""
            WITH d0 AS (SELECT doc_id,
                               COALESCE(text, '') AS t FROM documents),
            words AS (SELECT doc_id, t,
                             list_filter(string_split_regex(
                               lower(trim(t)), '[ \t\n\r\f]+'),
                               x -> x <> '') AS ws
                      FROM d0),
            c AS (SELECT doc_id,
                         CAST(len(ws) AS BIGINT) AS w,
                         CAST(greatest(1, len(regexp_extract_all(
                           lower(t), '[.!?]+'))) AS BIGINT) AS s,
                         CAST(COALESCE(list_sum(list_transform(ws,
                           x -> greatest(1, len(regexp_extract_all(x,
                             '[aeiouy]+'))))), 0) AS BIGINT) AS y
                  FROM words)
            SELECT doc_id, w AS n_words, s AS n_sentences,
                   y AS n_syllables,
                   CASE WHEN w = 0 THEN NULL ELSE """
            + _FLESCH_SQL + """ END AS flesch_micro
            FROM c ORDER BY doc_id"""),
        "q186_edit_distance": r"""
            WITH base AS (SELECT doc_id,
                                 substr(COALESCE(text, ''), 1, 200) AS t
                          FROM documents),
            twin AS (SELECT doc_id + 1000000 AS doc_id,
                            substr(COALESCE(text, ''), 1, 200) ||
                            CASE doc_id % 3 WHEN 0 THEN ''
                                 WHEN 1 THEN ' edited'
                                 ELSE ' x' END AS t
                     FROM documents),
            j AS (SELECT b.doc_id AS doc_a, w.doc_id AS doc_b,
                         levenshtein(substr(b.t, 1, 4000),
                                     substr(w.t, 1, 4000)) AS dist,
                         greatest(length(b.t), length(w.t), 1) AS l
                  FROM base b JOIN twin w
                    ON w.doc_id = b.doc_id + 1000000)
            SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS dist,
                   CAST(dist * 1000000 // l AS BIGINT) AS dist_ppm
            FROM j WHERE dist <= 10 ORDER BY doc_a""",
        "q187_l_diversity": r"""
            WITH d AS (SELECT source, lang,
                              's' || (doc_id % 7) AS diag
                       FROM documents),
            sizes AS (SELECT source, lang, COUNT(*) AS sz,
                             COUNT(DISTINCT diag) AS dv
                      FROM d GROUP BY source, lang),
            ls AS (SELECT UNNEST([3, 7]) AS l)
            SELECT CAST(l AS BIGINT) AS l,
                   CAST(SUM(sz) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(MIN(dv) AS BIGINT) AS min_diversity,
                   CAST(SUM(CASE WHEN dv < l THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_violating_groups,
                   CAST(SUM(CASE WHEN dv < l THEN sz ELSE 0 END)
                        AS BIGINT) AS rows_at_risk,
                   CAST(SUM(CASE WHEN dv < l THEN sz ELSE 0 END)
                        * 1000000 // SUM(sz) AS BIGINT) AS risk_ppm
            FROM sizes CROSS JOIN ls GROUP BY l ORDER BY l""",
        "q188_welch_ttest": _welch_oracle_sql(
            "documents", "n_chars", "lang = 'en'"),
        "q189_chi_square_drift": _chi2_oracle_sql(
            "documents", "lang", "doc_id % 2"),
        "q190_poisson_bootstrap": _bootstrap_oracle_sql(
            "documents", "doc_id", "n_chars"),
        "q191_auc": _auc_oracle_sql(
            "documents", "n_chars // 16", "lang = 'en'"),
        "q192_rule_mining": _rules_oracle_sql(
            _Q192_TRIPLES_SQL.format(S="VARCHAR"), min_support=2),
        "q193_embedding_covariance": _covariance_oracle_sql(
            "embeddings", "embedding", dims=16),
        # q194: the synthetic ring/chain graph has a closed-form SCC
        # assignment (a ring exists iff its even group is complete) —
        # the general algorithm is differential-tested against Tarjan
        # in tests/test_r2_batch34.py.
        "q194_scc": """
            WITH nodes AS (SELECT DISTINCT doc_id // 10 AS k
                           FROM documents),
            mx AS (SELECT MAX(k) AS mk FROM nodes)
            SELECT CAST(k AS BIGINT) AS node,
                   CAST(CASE WHEN (k // 5) % 2 = 0
                             AND (k // 5) * 5 + 4 <= mx.mk
                        THEN (k // 5) * 5 + 4 ELSE k END AS BIGINT) AS scc
            FROM nodes CROSS JOIN mx ORDER BY node""",
        # q195: the synthetic alternate graph chains each 4-variant
        # group, so its components have a closed form; the general CC
        # operator is the heavily-tested north-rule J9 path.
        "q195_hreflang_clusters": """
            WITH m AS (SELECT doc_id, lang, doc_id // 4 AS g
                       FROM documents)
            SELECT MIN('u' || CAST(doc_id AS VARCHAR)) AS cluster,
                   CAST(COUNT(*) AS BIGINT) AS size,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
            FROM m GROUP BY g HAVING COUNT(*) > 1
            ORDER BY cluster""",
        "q196_token_fertility": _fertility_oracle_sql("documents"),
        "q197_hilbert_layout": _hilbert_sql(
            "documents", "doc_id", "doc_id % 256", "(doc_id * 7) % 256"),
        # q198: on the planted graph the 4-truss is exactly the edges
        # of even groups with >= 4 members (a complete K_s clique edge
        # has support s-2); the general peeling loop is differential-
        # tested against brute force in tests/test_r2_batch36.py.
        "q198_ktruss": """
            WITH nodes AS (SELECT DISTINCT doc_id // 20 AS k
                           FROM documents),
            g AS (SELECT k // 5 AS grp, COUNT(*) AS c
                  FROM nodes GROUP BY 1)
            SELECT CAST(a.k AS BIGINT) AS a, CAST(b.k AS BIGINT) AS b
            FROM nodes a
            JOIN nodes b ON a.k // 5 = b.k // 5 AND a.k < b.k
            JOIN g ON g.grp = a.k // 5
            WHERE g.grp % 2 = 0 AND g.c >= 4
            ORDER BY a, b""",
        "q199_robust_outliers": _robust_oracle_sql(
            "documents", "source", "n_chars", group_name="source"),
        "q200_rule_inference": _apply_rules_oracle_sql(
            _Q192_TRIPLES_SQL.format(S="VARCHAR"), min_support=2,
            min_conf_ppm=600000),
        "q201_cocitation": _cocite_oracle_sql(
            _Q201_EDGES_SQL.format(S="VARCHAR")),
        "q202_zonemap_pruning": (
            "SELECT * FROM ("
            + _zonemap_oracle_sql(
                "documents", "a_natural", "doc_id", "doc_id",
                "doc_id % 256", 32, 63)
            + ") UNION ALL SELECT * FROM ("
            + _zonemap_oracle_sql(
                "documents", "b_value", "doc_id % 256", "doc_id",
                "doc_id % 256", 32, 63)
            + ") UNION ALL SELECT * FROM ("
            + _zonemap_oracle_sql(
                "(SELECT d.doc_id, d.doc_id % 256 AS v, h.hilbert"
                " FROM documents d JOIN ("
                + _hilbert_sql("documents", "doc_id", "doc_id % 256",
                               "(doc_id // 256) % 256")
                + ") h ON h.id = d.doc_id)",
                "c_hilbert", "hilbert", "doc_id", "v", 32, 63)
            + ") ORDER BY layout"),
        "q203_conformal": _conformal_oracle_sql(
            "SELECT n_chars % 499 AS s FROM documents"
            " WHERE doc_id % 2 = 0",
            "SELECT n_chars % 499 AS s FROM documents"
            " WHERE doc_id % 2 = 1",
            "s", alpha_ppm=100000),
        "q204_dp_counts": _dp_oracle_sql(
            "documents", "lang", epsilon_micro=500000,
            group_name="lang"),
        "q205_neyman_allocation": _neyman_oracle_sql(
            "documents", "source", "n_chars", budget=100),
        "q207_lang_homophily": _homophily_oracle_sql(
            _Q207_EDGES_SQL,
            "SELECT doc_id AS node, lang AS cat FROM documents"),
        "q208_cms_heavy_change": _heavy_change_oracle_sql(
            "SELECT 'h' || CAST(doc_id % 50 AS VARCHAR) AS v"
            " FROM documents WHERE doc_id % 2 = 0",
            "SELECT 'h' || CAST(doc_id % 60 AS VARCHAR) AS v"
            " FROM documents WHERE doc_id % 2 = 1",
            value_name="v", min_change=3),
        "q209_sites": _site_rollup_oracle_sql(
            "documents", _Q209_URL_SQL),
        # q210: the planted bowtie graph has a closed-form region map
        # (group 0's ring is the globally minimal-rep largest SCC);
        # the general composition is Tarjan-differential-tested.
        "q210_bowtie": """
            WITH nodes AS (SELECT DISTINCT doc_id // 20 AS k
                           FROM documents),
            mx AS (SELECT MAX(k) AS mk FROM nodes)
            SELECT CAST(k AS BIGINT) AS node,
                   CASE WHEN mx.mk >= 7 THEN
                          CASE WHEN k <= 2 THEN 'in'
                               WHEN k <= 7 THEN 'core'
                               WHEN k <= 9 THEN 'out'
                               ELSE 'other' END
                        -- ring truncated: every SCC is a singleton, the
                        -- min-rep tie-break picks node 0 as core and the
                        -- surviving chain prefix is its OUT set
                        WHEN k = 0 THEN 'core'
                        ELSE 'out' END AS region
            FROM nodes CROSS JOIN mx ORDER BY node""",
        "q211_keyness": _keyness_oracle_sql(
            "SELECT text FROM documents WHERE lang = 'en'",
            "SELECT text FROM documents WHERE lang <> 'en'",
            min_count=5),
        "q212_fs_em": _fs_em_sql(_Q212_PAIRS_SQL, k=3, iters=3),
        "q213_itemsets": _triples_oracle_sql(_Q213_TX_SQL,
                                             min_support=20),
        # q214: closed-form region map of the planted taxonomy graph;
        # the general composition is differential-tested.
        "q214_bowtie_full": """
            WITH nodes AS (SELECT DISTINCT doc_id // 10 AS k
                           FROM documents),
            mx AS (SELECT MAX(k) AS mk FROM nodes)
            SELECT CAST(k AS BIGINT) AS node,
                   CASE WHEN mx.mk >= 7 THEN
                          CASE WHEN k >= 15 THEN 'disconnected'
                               WHEN k <= 2 THEN 'in'
                               WHEN k <= 7 THEN 'core'
                               WHEN k <= 9 THEN 'out'
                               WHEN k = 10 THEN 'tube'
                               WHEN k <= 12 THEN 'tendril'
                               ELSE 'disconnected' END
                        -- ring truncated: singleton SCCs, min-rep core
                        -- node 0, chain prefix = OUT (no in/tube nodes
                        -- exist below k=7, so no refinement applies)
                        WHEN k = 0 THEN 'core'
                        ELSE 'out' END AS region
            FROM nodes CROSS JOIN mx ORDER BY node""",
        # q215: VALUES pinned from the pure-Python Gonzalez reference
        # over the sf0.01 embeddings (ORACLE_SF001_PINNED).
        "q215_kcenter": """
            SELECT * FROM (VALUES
                (0, 0),
                (276, 924101),
                (199, 779978),
                (106, 678381),
                (353, 675054),
                (499, 635129),
                (50, 626199),
                (78, 618650)) AS t(vid, d)
            ORDER BY vid""",
        "q217_wl_colors": _wl_oracle_sql(_Q217_EDGES_SQL, rounds=3),
        "q218_conductance_sweep": _conductance_oracle_sql(
            _Q218_EDGES_SQL, _Q218_SCORES_SQL),
        "q219_ucb_recrawl": _ucb_oracle_sql(
            "documents", "'h' || CAST(doc_id % 25 AS VARCHAR)",
            "doc_id % 3 = 0"),
        # q220: closed-form merged assignment (pairs of chain-4
        # components join into chains of 8 where the partner group is
        # complete); the incremental path is equivalence-tested
        # against a full CC re-run.
        "q220_incremental_cc": """
            WITH nodes AS (SELECT DISTINCT doc_id // 25 AS k
                           FROM documents),
            mx AS (SELECT MAX(k) AS mk FROM nodes)
            SELECT CAST(k AS BIGINT) AS node,
                   CAST(CASE WHEN (k // 8) * 8 + 7 <= mx.mk
                        THEN (k // 8) * 8
                        ELSE (k // 4) * 4 END AS BIGINT) AS component
            FROM nodes CROSS JOIN mx ORDER BY node""",
        # q221: per-block summary pinned from the pure-Python HAC
        # reference over the formula records (ORACLE_SF001_PINNED) —
        # every block holds 5 mergeable pairs + 10 singletons.
        "q221_hac_blocks": ("""
            SELECT * FROM (VALUES """ + ", ".join(
            f"('b{k}', 20, 15, 2)" for k in range(25)) + """)
            AS t(block, n_records, n_clusters, max_cluster)
            ORDER BY block"""),
        "q222_script_mix": _script_mix_oracle_sql("documents"),
        "q223_good_turing": _good_turing_oracle_sql("documents",
                                                    max_r=10),
        "q224_zipf_slope": _zipf_oracle_sql("documents", min_count=2),
        "q225_mann_kendall": _mk_oracle_sql(
            "events", "user_id", "event_id",
            "(event_id * 7) % 100 + event_id // 100",
            key_name="user_id"),
        "q226_jain_fairness": _jain_oracle_sql(
            "documents",
            "'h' || CAST(CASE WHEN doc_id % 7 = 0 THEN 0"
            " ELSE doc_id % 40 END AS VARCHAR)"),
        "q227_brier_decomposition": _brier_oracle_sql(
            "SELECT (doc_id * 37) % 1000001 AS p,"
            " ((doc_id * 37) % 1000001) * 2 + (doc_id % 500000)"
            " > 1000000 AS y FROM documents", n_bins=10),
        "q228_capture_recapture": _capture_oracle_sql(
            "documents", "doc_id"),
        "q229_owl_closure": _owl_oracle_sql(
            _Q229_INSTANCE_SQL,
            inv_pairs=[("contains", "partOf")],
            symmetric=["adjacentTo"], transitive=["partOf"]),
        "q230_quote_mining": _quotes_oracle_sql(
            _Q230_DOCS_SQL, max_bucket=200, min_shared=2),
        "q231_robots_wildcards": _robots_wild_oracle_sql(
            _Q231_CRAWL_SQL, _Q231_RULES),
        "q232_burn_rate": _burn_oracle_sql(
            "events", "ts", "event_id % 13 = 0", short_s=600,
            long_s=3600, budget_ppm=30000, burn_factor_ppm=2000000),
        "q234_url_templates": _url_templates_oracle_sql(
            _Q234_PAGES_SQL),
        "q235_kanon_ladder": _kanon_ladder_oracle_sql(
            "documents",
            ["source", "lang", "CAST(doc_id % 7 AS VARCHAR)"],
            ks=[5, 50]),
        "q236_consistent_hashing": _migration_oracle_sql(
            "documents", "'h' || CAST(doc_id % 499 AS VARCHAR)",
            n_from=8, n_to=9, vnodes=16),
        "q237_salting_sim": _salting_oracle_sql(
            "documents",
            "'h' || CAST(CASE WHEN doc_id % 7 = 0 THEN 0"
            " ELSE doc_id % 40 END AS VARCHAR)",
            "doc_id", n_reducers=16, salt=8),
        "q238_char_entropy": _char_entropy_oracle_sql("documents"),
        "q239_theil": _theil_oracle_sql("documents", "source",
                                        "n_chars"),
        "q241_backoff_lm": _nglm_oracle("documents"),
        "q242_ppl_buckets": _ppl_buckets_oracle("documents"),
        "q243_kneser_ney": _kn_oracle("documents"),
        "q244_kneser_ney3": _kn_n_oracle("documents", 3),
        "q245_ppl_assign": _ppl_assign_oracle("documents",
                                              lang_col="d.lang"),
        "q247_kneser_ney4": _kn_n_oracle("documents", 4),
        "q248_kneser_ney5": _kn_n_oracle("documents", 5),
        "q249_kn5_ppl_assign": _kn_ppl_assign_oracle(
            "documents", 5, lang_col="d.lang"),
        # q240: the media payloads are synthesized with closed-form
        # parameters per doc_id (see _q240_video_container_meta), so the
        # expected container metadata is plain SQL over `documents` —
        # the header parse is verified against an independent closed
        # form, not against itself.
        "q240_video_container_meta": """
            WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id
                       LIMIT 6)
            SELECT * FROM (
              SELECT CAST(doc_id AS VARCHAR) || '#vid' AS media_id,
                     'avi' AS container, 'MJPG' AS codec,
                     CAST(2.0 AS DOUBLE) AS fps,
                     CAST(6 AS BIGINT) AS n_frames,
                     CAST(8 AS BIGINT) AS width,
                     CAST(8 AS BIGINT) AS height,
                     CAST(3.0 AS DOUBLE) AS duration_s,
                     'headers' AS meta_kind
              FROM d
              UNION ALL
              SELECT CAST(doc_id AS VARCHAR) || '#mp4', 'mp4',
                     CASE doc_id % 3 WHEN 0 THEN 'avc1'
                          WHEN 1 THEN 'hvc1' ELSE 'av01' END,
                     CAST(CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 25
                          ELSE 30 END AS DOUBLE),
                     CAST(48 + (doc_id % 5) * 12 AS BIGINT),
                     CAST(320 + (doc_id % 4) * 80 AS BIGINT),
                     CAST(180 + (doc_id % 4) * 45 AS BIGINT),
                     ROUND((48 + (doc_id % 5) * 12)
                           / CAST(CASE doc_id % 3 WHEN 0 THEN 24
                                  WHEN 1 THEN 25 ELSE 30 END AS DOUBLE),
                           6),
                     'headers'
              FROM d
            ) ORDER BY media_id""",
        "q233_bloom_zonemap": _bloom_zone_oracle_sql(
            "(SELECT doc_id, 'k' || CAST(doc_id % 997 AS VARCHAR)"
            " AS v FROM documents)",
            "doc_id", "doc_id", "v", "k13", block_rows=50),
        "q216_ewma_drift": _ewma_oracle_sql(
            "(SELECT user_id, ts, event_id, event_id % 1000 AS x"
            " FROM events)",
            "user_id", "ts", "event_id", "x", key_name="user_id"),
        # q206: VALUES pinned from the pure-Python WordPiece reference
        # over the sf0.01 parquet (independent-implementation check,
        # the q22/q67 ORACLE_SF001_PINNED pattern).
        "q206_wordpiece": """
            SELECT * FROM (VALUES
                ('de', 70, 3549, 14635, 0, 0),
                ('en', 218, 11757, 48212, 0, 0),
                ('es', 73, 3958, 16318, 0, 0),
                ('fr', 64, 3758, 15472, 0, 0),
                ('zh', 75, 4143, 17075, 0, 0))
            AS t(lang, n_docs, n_words, n_subwords, n_unk, unk_ppm)
            ORDER BY lang""",
        # q20 stays rows-only: the engine-native xxhash64 banded-LSH scale
        # path (its portable twin q34 value-checks the identical mechanism).
    }


# Oracles above that pin precomputed expected VALUES are only valid at
# the driver's correctness scale; scripts/oracle_check.py skips them for
# other sf dirs.
ORACLE_SF001_PINNED = {"q22_triples_by_kind", "q24_todo_stats",
                       "q37_media_features", "q45_prepare_corpus",
                       "q33_dedup_corpus", "q32_ann_ivf",
                       "q62_video_frames", "q66_bpe_merges",
                       "q67_bpe_encode", "q70_prepare_corpus_v2",
                       "q87_incremental_kg", "q206_wordpiece",
                       "q215_kcenter", "q221_hac_blocks",
                       "q246_prepare_corpus_ccnet"}


if __name__ == "__main__":
    from knowledgebase_processor_spark.pipeline import session
    spark = session("entry-smoke", cpus=8, shuffle_partitions=8)
    entry(spark).show(10, truncate=False)
    spark.stop()
