"""Wikilink -> document resolution as a broadcast join (SURVEY.md §2.3 J1).

The reference resolves each wikilink with three in-memory dict lookups on a
corpus-wide registry (utils/document_registry.py:45-74): exact
original_path, then path-without-extension, then
basename-without-extension.  The registry is one row per document — a
classic broadcast dimension.

Plan shape matters here: the resolution is three chained broadcast LEFT
joins applied to the WHOLE entities frame with a kind-guarded join
condition (non-wikilink rows simply never match), so the extraction UDF's
lineage is never split/unioned — one MapInPandas in the final plan, zero
shuffles on the fact side.  The dimension is derived from the documents
input directly (id + path are known pre-extraction), not from the entity
output, so building it costs a metadata-narrow scan, not a second
extraction pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Above this dimension size, stop forcing a broadcast and fall back to a
# shuffled hash join.  A corpus-wide document registry fits in a
# broadcast up to ~10^8 docs; at the 10^12-doc design point it is
# terabytes and MUST shuffle.  SHUFFLE_HASH (not sort-merge) so the huge
# entity fact side is hashed, never sorted.
BROADCAST_CAP_BYTES = 256 << 20

# Conservative bytes per dimension row in a broadcast hash relation
# (match_key + 3 target ids + hashmap overhead).
_DIM_ROW_BYTES = 256


def _hinted_dim(dim: DataFrame, broadcast_cap: int) -> DataFrame:
    """Broadcast the dimension when it provably fits, else SHUFFLE_HASH.

    Two-tier gate:

    1. Optimizer byte estimate (driver-side plan metadata, no job).  This
       estimate tracks the SOURCE SCAN size scaled by schema-default
       column widths, not real column content — for a text-heavy corpus
       it overstates the id+path dimension ~1000x.  So it is only
       trusted as a cheap YES: if even the overestimate fits the cap,
       broadcast without running anything.
    2. Otherwise run a pruned row count on the dimension (reads only the
       key columns' parquet pages — cheap even on a petabyte corpus) and
       decide on rows x _DIM_ROW_BYTES.  One small job, paid only by
       corpora big enough that the answer actually matters.

    Unknown size (stats or count failure) falls back to SHUFFLE_HASH —
    the safe direction: a needless shuffle is slow, a terabyte broadcast
    is an OOM.
    """
    try:
        est = int(str(
            dim._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        if est <= broadcast_cap:
            return F.broadcast(dim)
        if dim.count() * _DIM_ROW_BYTES <= broadcast_cap:
            return F.broadcast(dim)
    except Exception:
        pass
    return dim.hint("SHUFFLE_HASH")


def documents_dimension(docs: DataFrame, doc_id_col: str = "doc_id",
                        path_col: str | None = None) -> DataFrame:
    """(match_key, priority, target_kb_id) from the documents input.

    priority: 0 = original_path, 1 = path_without_extension, 2 = basename
    without extension.  Key collisions in the reference keep the LAST
    registered document (plain dict-assign overwrite,
    document_registry.py:30-37) — an ordering a distributed set of rows
    does not have, so we tie-break deterministically by max kb_id instead:
    the winner is stable across partitionings, task retries, and cluster
    sizes, which the registration-order rule would not be.
    """
    path = F.col(path_col) if path_col else F.lit("temp_document.md")
    d = docs.select(
        F.col(doc_id_col).alias("target_kb_id"),
        path.alias("original_path"),
        F.regexp_replace(path, r"\.[^./]*$", "").alias("path_without_extension"),
    ).withColumn(
        "basename_without_extension",
        F.regexp_extract(F.element_at(F.split(F.col("original_path"), "/"), -1),
                         r"^(.*?)(?:\.[^.]*)?$", 1))
    keyed = d.select(
        F.explode(F.array(
            F.struct(F.col("original_path").alias("match_key"), F.lit(0).alias("priority")),
            F.struct(F.col("path_without_extension").alias("match_key"), F.lit(1).alias("priority")),
            F.struct(F.col("basename_without_extension").alias("match_key"), F.lit(2).alias("priority")),
        )).alias("k"), "target_kb_id",
    ).select("k.match_key", "k.priority", "target_kb_id")
    per_key = (keyed.groupBy("match_key", "priority")
               .agg(F.max("target_kb_id").alias("target_kb_id")))
    # Pivot the 3 priorities into one row per match_key so resolution is a
    # SINGLE broadcast join (each extra broadcast is a separate serial
    # driver-side job — measured ~0.5s apiece in local mode).
    return (per_key.groupBy("match_key")
            .agg(F.max(F.when(F.col("priority") == 0, F.col("target_kb_id"))).alias("t0"),
                 F.max(F.when(F.col("priority") == 1, F.col("target_kb_id"))).alias("t1"),
                 F.max(F.when(F.col("priority") == 2, F.col("target_kb_id"))).alias("t2")))


def resolve_wikilinks_merged(entities: DataFrame, dim: DataFrame,
                             broadcast_cap: int = BROADCAST_CAP_BYTES) -> DataFrame:
    """Fill wikilink ``resolved_document_uri`` via the 3-key lookup cascade
    (find_document_by_path, document_registry.py:58-74) over the
    pre-merged (array-valued) entity frame — one broadcast left join with
    a precedence coalesce, single lineage, shuffle-free.  A wikilink
    carries exactly one target_path, so the join key is its single
    element and the resolved URI lands as a one-element array."""
    cond = ((F.col("kind") == "wikilink")
            & (F.try_element_at(F.col("target_path"), F.lit(1)) == F.col("match_key")))
    out = entities.join(_hinted_dim(dim, broadcast_cap), on=cond, how="left")
    hit = F.coalesce("t0", "t1", "t2")
    return (out.withColumn(
        "resolved_document_uri",
        F.when((F.col("kind") == "wikilink") & hit.isNotNull(), F.array(hit))
         .otherwise(F.col("resolved_document_uri")))
        .drop("match_key", "t0", "t1", "t2"))


def documents_paths(docs: DataFrame, doc_id_col: str = "doc_id",
                    path_col: str | None = None) -> DataFrame:
    """(target_kb_id, path_without_extension) helper dimension for J2."""
    path = F.col(path_col) if path_col else F.lit("temp_document.md")
    return docs.select(
        F.col(doc_id_col).alias("target_kb_id"),
        F.regexp_replace(path, r"\.[^./]*$", "").alias("path_without_extension"))


def resolve_by_suffix(wikilinks: DataFrame, docs_dim: DataFrame) -> DataFrame:
    """J2 (wikilink_processor.py:104-110): secondary fallback matching any
    document whose path-without-extension ENDS WITH the link label — a
    non-equi suffix join, only sane as a broadcast nested-loop over the
    (small) documents dimension.  Off the main path, as in the reference
    (only resolve_wikilink_targets uses it)."""
    side = docs_dim.select(F.col("target_kb_id").alias("suffix_target"),
                           F.col("path_without_extension").alias("pwe"))
    cond = F.col("pwe").endswith(F.col("label"))
    joined = wikilinks.join(F.broadcast(side), on=cond, how="left")
    return (joined.groupBy(*wikilinks.columns)
            .agg(F.min("suffix_target").alias("suffix_resolved_uri")))
