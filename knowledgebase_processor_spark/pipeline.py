"""End-to-end document -> knowledge-graph pipeline.

Spark shape of the reference's two-phase batch pipeline
(processor/pipeline_orchestrator.py:105-167):

  phase 1 (register)  -> the documents DataFrame itself is the registry;
                         a 3-key dimension is derived for wikilink joins
  phase 2 (per doc)   -> mapInArrow extraction -> entities DF
                         -> triple emission (pure SQL) -> dedup

The only cross-document dependency is wikilink resolution, which the
reference does via in-memory dict lookups during extraction
(utils/document_registry.py:45-74); here it is a broadcast left join AFTER
extraction — semantically identical because the reference registers every
document before processing any (SURVEY.md §3.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.extract_udf import extract_merged_entities_df
from .operators.triples import explode_merged
from .operators.wikilink_resolve import documents_dimension, resolve_wikilinks_merged


def session(app: str = "kgp-spark", cpus: int | None = None,
            shuffle_partitions: int | None = None) -> SparkSession:
    """Local session with the configs this engine assumes.

    On a real cluster the same settings ship via spark-submit --conf; AQE
    handles post-shuffle coalescing and skew-join splitting at scale.
    """
    import os
    # Make this package + vendored deps importable in executor workers.
    # Local mode: worker python processes inherit PYTHONPATH (must be set
    # before the JVM launches).  Real cluster: ship the same dirs with
    # spark-submit --py-files instead.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    vendor = os.path.join(repo_root, "vendor")
    existing = os.environ.get("PYTHONPATH", "")
    missing = [p for p in (repo_root, vendor) if p not in existing.split(os.pathsep)]
    if missing:
        os.environ["PYTHONPATH"] = os.pathsep.join(
            missing + ([existing] if existing else []))

    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # rows-AND-bytes bounded Arrow batches: 8192 rows amortizes per-batch
        # Arrow conversion for small docs; the bytes cap only exists
        # to keep pathological pages (multi-MB texts) from inflating
        # executor memory.  Measured on the 158k-page corpus at pinned
        # local[32]: 16MB throttles normal ~10KB-page batches (-24%
        # triples/sec); 64MB is within noise of uncapped while still
        # bounding in-flight memory to 64MB/worker.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        # Heap scales with slots like a real cluster provisions memory
        # per-core (2 GB/slot, 8g floor, 64g cap).  A flat 8g for 32
        # local slots GC-throttles the JVM side ~2-3x on the big-corpus
        # pipeline (measured: 71s -> 25s at local[32] going 8g -> 48g).
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                               f"{min(max(8, 2 * cpus), 64)}g"))
        .config("spark.ui.enabled", "false")
    )
    # Shuffle/spill to tmpfs when available: local-mode shuffle writes from
    # 32 concurrent tasks contend on disk; a real cluster spreads them over
    # per-executor local SSDs.  SPARK_LOCAL_DIRS overrides spark.local.dir,
    # so when it is set the session makes and sets no local dir of its own.
    if not os.environ.get("SPARK_LOCAL_DIRS"):
        for cand in ("/dev/shm", "/tmp"):
            if os.path.isdir(cand):
                local_dir = os.path.join(cand, "kgp-spark-local")
                os.makedirs(local_dir, exist_ok=True)
                b.config("spark.local.dir", local_dir)
                break
    return b.getOrCreate()


def documents_to_triples(docs: DataFrame,
                         doc_id_col: str = "doc_id",
                         text_col: str = "text",
                         path_col: str | None = None,
                         title_col: str | None = None,
                         resolve_links: bool = False) -> DataFrame:
    """documents -> deduplicated triples (TRIPLES schema).

    Duplicate KG nodes are always document-scoped (uris.py), so the dedup
    merge happens inside the extraction UDF per document and the whole
    pipeline is SHUFFLE-FREE: scan -> mapInArrow -> broadcast join
    (wikilinks) -> explode.  rdflib's corpus-wide triple-set dedup falls
    out with zero exchanges.
    """
    merged = extract_merged_entities_df(docs, doc_id_col, text_col,
                                        path_col, title_col)
    if resolve_links:
        # The registry dimension comes from the INPUT frame (id + path
        # are known pre-extraction): one broadcast join, no second
        # extraction pass.
        dim = documents_dimension(docs, doc_id_col, path_col)
        merged = resolve_wikilinks_merged(merged, dim)
    return explode_merged(merged)


def web_pages_to_triples(pages: DataFrame, resolve_links: bool = True) -> DataFrame:
    """North-rule entry: Common-Crawl-style (url, warc_ts, html, text, lang).

    The document id is the page url (already a full URI, so it is used
    verbatim as the KB document node).  Text extraction from html is the
    identity here because the reference consumes the extracted markdown/text
    directly (reader/reader.py:76-104); the byte-identical-text invariant is
    tested in tests/test_web_pages.py.
    """
    docs = pages.select(
        F.col("url").alias("doc_id"),
        F.col("text"),
        F.regexp_extract(F.col("url"), r"([^/]+)$", 1).alias("path"),
        # NULL title -> the extraction UDF derives it with the reference's
        # batch precedence (extract_udf._effective_title, reader.py:125-136)
        F.lit(None).cast("string").alias("title"),
    )
    return documents_to_triples(docs, "doc_id", "text", "path", "title",
                                resolve_links=resolve_links)
