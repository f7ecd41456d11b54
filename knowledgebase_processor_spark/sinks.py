"""Materialization: upserts, url-hash partitioned writes, lineage, metrics,
stage checkpoints.

Spark shape of the reference's storage layer:

* ``merge_upsert``           — the SQLite per-document delete-then-reinsert
                               transaction (metadata_store/store.py:168-310)
                               and the SPARQL doc-scoped DELETE+INSERT
                               (query_interface/sparql_interface.py:260-384),
                               as a partition-overwrite MERGE keyed by
                               source document.  With Iceberg jars this is
                               a literal ``MERGE INTO``; on plain parquet we
                               emulate with a dynamic partition overwrite
                               (set on the one write, not on the session)
                               over url-hash buckets — same idempotent
                               semantics.
* ``bucketed``               — range/bucket partitioning by url hash
                               (north rule "range-partitioned writes by
                               url-hash").
* ``lineage`` / ``metrics``  — per-partition counts + error rows
                               (pipeline_orchestrator.py:24-42,160-165 per-doc
                               error isolation and ProcessingStats).
* ``checkpoint_stage``       — the one owner of the stage-checkpoint
                               convention: a stage whose directory holds a
                               parquet ``_SUCCESS`` marker is read back,
                               otherwise its build callable runs and is
                               written (optionally url-hash bucketed).
                               Re-running a job over the same directory
                               therefore resumes from its last finished
                               stage.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

N_BUCKETS_DEFAULT = 256


def bucketed(df: DataFrame, key: str = "source_doc",
             n_buckets: int = N_BUCKETS_DEFAULT) -> DataFrame:
    """Add the url-hash bucket column and cluster rows by it."""
    return (df.withColumn("part_bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)))
            .repartition("part_bucket"))


def write_bucketed(df: DataFrame, path: str, key: str = "source_doc",
                   n_buckets: int = N_BUCKETS_DEFAULT, mode: str = "overwrite") -> None:
    """Initial load: url-hash partitioned parquet table."""
    out = bucketed(df, key, n_buckets)
    out.write.mode(mode).partitionBy("part_bucket").parquet(path)
    # zero rows leave no data file and parquet cannot infer a schema
    # from an empty directory: keep one empty file as bucket 0
    if os.path.isdir(path) and not any(
            n.startswith("part_bucket=") for n in os.listdir(path)):
        (out.limit(0).drop("part_bucket").write.mode("overwrite")
         .parquet(os.path.join(path, "part_bucket=0")))


def merge_upsert(spark: SparkSession, new_rows: DataFrame, path: str,
                 key: str = "source_doc", n_buckets: int = N_BUCKETS_DEFAULT) -> None:
    """Idempotent per-document upsert into a bucketed parquet table.

    Semantics of the reference's store.save(): all existing rows for the
    incoming documents are replaced by the new rows (delete child rows +
    reinsert, store.py:222-297).  Implementation: for the affected buckets
    only, read old rows, anti-join out the incoming documents, union the
    new rows, and dynamically overwrite just those bucket partitions —
    the parquet-only equivalent of Iceberg ``MERGE INTO ... WHEN MATCHED
    DELETE`` + INSERT.  The dynamic mode is an option of that one write:
    the session stays in static mode, where an overwrite of a partitioned
    table replaces every bucket.
    """
    if not os.path.isdir(path):
        write_bucketed(new_rows, path, key, n_buckets)
        return
    incoming = bucketed(new_rows, key, n_buckets)
    touched = [r["part_bucket"] for r in incoming.select("part_bucket").distinct().collect()]
    keys = incoming.select(key).distinct()
    old = (spark.read.parquet(path)
           .filter(F.col("part_bucket").isin(touched)))
    kept = old.join(keys, on=key, how="left_anti")
    (kept.unionByName(incoming)
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("part_bucket").parquet(path))


def iceberg_merge_sql(table: str, source_view: str, key_cols: list[str],
                      update_cols: list[str]) -> str:
    """Literal Iceberg ``MERGE INTO`` for 1-row-per-key tables (the
    deduplicated entity/relation tables the KG job materializes).

    Row-level upsert: matched keys update in place, new keys insert —
    Iceberg turns this into a copy-on-write/merge-on-read plan that
    rewrites only the touched data files, the cluster-scale equivalent
    of `merge_upsert`'s bucket-overwrite emulation.
    """
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    sets = ", ".join(f"t.{c} = s.{c}" for c in update_cols)
    return (f"MERGE INTO {table} t USING {source_view} s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT *")


def iceberg_replace_docs_sql(table: str, source_view: str,
                             key: str = "source_doc",
                             cols: list[str] | None = None) -> list[str]:
    """Document-scoped replace for MULTI-row-per-key tables (triples):
    the reference's delete-children-then-reinsert transaction
    (metadata_store/store.py:222-297) as two Iceberg statements.

    A single MERGE cannot express "replace all N old rows of a document
    with M new rows" (it matches row-to-row), so the canonical Iceberg
    pattern is a keyed DELETE + INSERT.  Each statement commits its OWN
    snapshot — the pair is NOT atomic by itself (a crash between them
    loses the batch's old rows with the new ones never arriving, and a
    concurrent reader sees the gap), which is why `merge_upsert_iceberg`
    runs the pair on a WAP branch and publishes with a single
    fast-forward.  Columns are named explicitly in the INSERT so the
    statement never depends on the incoming view's column ORDER
    matching the table schema."""
    collist = ", ".join(cols) if cols else "*"
    into = f"({collist}) " if cols else ""
    return [
        f"DELETE FROM {table} WHERE {key} IN "
        f"(SELECT DISTINCT {key} FROM {source_view})",
        f"INSERT INTO {table} {into}SELECT {collist} FROM {source_view}",
    ]


def merge_upsert_iceberg(spark: SparkSession, new_rows: DataFrame,
                         table: str, key: str = "source_doc") -> bool:
    """Run the document-scoped upsert against a real Iceberg table.

    Returns False when no Iceberg catalog is configured on the session
    (this sandbox ships no Iceberg jars) — callers fall back to
    `merge_upsert`'s parquet bucket-overwrite emulation, which has the
    same idempotent semantics.  On a production session
    (``spark.sql.catalog.<name>`` = org.apache.iceberg.spark.SparkCatalog)
    the generated statements execute as-is.

    Atomicity: DELETE and INSERT each commit their own Iceberg snapshot,
    so the pair is staged on a write-audit-publish BRANCH and published
    with one ``fast_forward`` call — readers of main never observe the
    deleted-but-not-reinserted gap, and a crash mid-pair leaves main
    untouched (the orphan branch is dropped on the next run by
    CREATE OR REPLACE).  This is the documented Iceberg WAP pattern,
    equivalent to the reference's single SQLite transaction
    (metadata_store/store.py:187-299)."""
    catalog = table.split(".", 1)[0] if "." in table else "spark_catalog"
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    if not impl:
        return False
    import hashlib
    tag = hashlib.sha256(table.encode()).hexdigest()[:12]
    view = f"incoming_{tag}"
    branch = f"upsert_{tag}"
    new_rows.createOrReplaceTempView(view)
    spark.sql(f"ALTER TABLE {table} CREATE OR REPLACE BRANCH {branch}")
    spark.conf.set("spark.wap.branch", branch)
    try:
        for stmt in iceberg_replace_docs_sql(table, view, key,
                                             cols=new_rows.columns):
            spark.sql(stmt)
    finally:
        spark.conf.unset("spark.wap.branch")
    tbl = table.split(".", 1)[1] if "." in table else table
    spark.sql(f"CALL {catalog}.system.fast_forward("
              f"table => '{tbl}', branch => 'main', to => '{branch}')")
    spark.sql(f"ALTER TABLE {table} DROP BRANCH {branch}")
    return True


def lineage(df: DataFrame, stage: str, key: str = "source_doc") -> DataFrame:
    """Per-partition lineage rows (FIXTURES.md §4): partition id, key
    range, row count, error count.  One extra narrow aggregation — no
    second scan of the payload columns."""
    agg = (df.withColumn("partition_id", F.spark_partition_id())
           .groupBy("partition_id")
           .agg(F.min(key).alias("key_min"), F.max(key).alias("key_max"),
                F.count("*").alias("n_rows"),
                F.sum(F.when(F.col("kind") == "error", 1).otherwise(0)).alias("n_errors")
                if "kind" in df.columns else F.lit(0).alias("n_errors")))
    return agg.withColumn("stage", F.lit(stage))


def write_metrics(spark: SparkSession, path: str, stage: str,
                  kv: dict[str, float]) -> None:
    rows = [(stage, k, float(v)) for k, v in kv.items()]
    spark.createDataFrame(rows, "stage string, key string, value double") \
        .coalesce(1).write.mode("append").parquet(path)


def checkpoint_stage(build: Callable[[], DataFrame], path: str,
                     spark: SparkSession, force: bool = False,
                     bucket_key: str | None = None) -> DataFrame:
    """Materialize a stage boundary and return the re-read DataFrame.

    Resumability: if ``path`` already holds a successful write (parquet
    ``_SUCCESS``) and ``force`` is False, ``build`` is never called — the
    stage restarts from its last materialized table (north rule
    "resumable from checkpoint"), so eager builders (connected
    components, closures) cost nothing on resume.  ``bucket_key`` writes
    the table url-hash partitioned by that column (``write_bucketed``).
    """
    if force or not os.path.exists(os.path.join(path, "_SUCCESS")):
        if bucket_key:
            write_bucketed(build(), path, key=bucket_key)
        else:
            build().write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
