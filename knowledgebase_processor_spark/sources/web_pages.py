"""Common-Crawl-style web_pages table: synthesis + text extraction.

The north rule's input is an Iceberg table ``(url, warc_ts, html, text,
lang)`` (BASELINE.json input_hint).  No such table ships with the sandbox,
so we synthesize it deterministically (seed-stable, no wall clock): the
reference's fixture corpus is embedded verbatim as page text (FIXTURES.md
§1 synthesis rule), optionally tiled N times with distinct urls for
scale-up benchmarks.  Where the reference specs are absent, generated
notes (any objects with ``.url`` and ``.text``) become pages through
``pages_from_notes`` with the same envelope and timestamps.

``extract_text`` is the reference's reader semantics
(reader/reader.py:106-136): the extracted text IS the raw markdown —
read_file returns ``content`` unchanged (the frontmatter split only feeds
title inference).  The per-url byte-identical-text invariant therefore
pins ``text`` == the markdown bytes decoded as UTF-8; the html wrapper is
a minimal deterministic envelope around them.
"""

from __future__ import annotations

import datetime as _dt
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..goldens import spec_cases

_EPOCH = _dt.datetime(2024, 11, 7, 12, 0, 0)   # fixed, deterministic
_SCHEMA = "url string, warc_ts timestamp, html string, text string, lang string"


def _html_wrap(text: str, title: str) -> str:
    return f"<!DOCTYPE html><html><head><title>{title}</title></head><body><pre>{text}</pre></body></html>"


def fixture_pages(spark: SparkSession, copies: int = 1) -> DataFrame:
    """web_pages rows from the 66 reference fixture documents, tiled
    ``copies`` times under distinct urls (deterministic)."""
    rows = []
    for doc_id, md, _ in spec_cases():
        text = Path(md).read_text(encoding="utf-8")
        name = doc_id.split("/", 1)[1]
        for c in range(copies):
            suffix = "" if c == 0 else f"-{c}"
            rows.append((
                f"https://kb.example.org/{name}{suffix}.md",
                _EPOCH + _dt.timedelta(seconds=len(rows)),
                _html_wrap(text, name),
                text,
                "en",
            ))
    return spark.createDataFrame(rows, _SCHEMA)


def pages_from_notes(spark: SparkSession, notes) -> DataFrame:
    """web_pages rows from generated notes, one page per note in order:
    each object's ``.url`` and ``.text``, wrapped and timestamped as
    ``fixture_pages`` does (the html title is the url's basename)."""
    rows = [(n.url, _EPOCH + _dt.timedelta(seconds=i),
             _html_wrap(n.text, n.url.rsplit("/", 1)[1]), n.text, "en")
            for i, n in enumerate(notes)]
    return spark.createDataFrame(rows, _SCHEMA)


def extract_text(pages: DataFrame) -> DataFrame:
    """html -> text extraction operator.

    For the markdown-in-<pre> envelope synthesized above this strips the
    envelope; for pages whose ``text`` column is already populated (the
    common crawl shape) it passes it through.  Either way the output is
    byte-identical per url to the reference reader's Document.content
    (reader/reader.py:120 returns the raw file content unchanged), which
    tests/test_web_pages.py asserts.
    """
    # greedy (.*) pairs the FIRST <pre> with the LAST </pre>, so markdown
    # containing a literal </pre> still round-trips (the envelope is only
    # this one wrapper — _html_wrap writes exactly one pre block)
    stripped = F.regexp_extract(F.col("html"), r"(?s)<pre>(.*)</pre>", 1)
    return pages.withColumn(
        "text", F.coalesce(F.col("text"), stripped))


def latest_snapshot(pages: DataFrame) -> DataFrame:
    """Incremental re-crawl dedup: one row per url, the newest warc_ts
    wins (ties: max fingerprint for determinism).  The batch equivalent of
    the stateful version tracker in streaming/stateful.py — run it before
    extraction so only current page versions enter the KG."""
    return (pages.groupBy("url")
            .agg(F.max_by(F.struct("warc_ts", "html", "text", "lang"),
                          F.struct("warc_ts", F.sha2(F.coalesce("text", F.lit("")), 256)))
                 .alias("p"))
            .select("url", "p.warc_ts", "p.html", "p.text", "p.lang"))


def pages_to_documents(pages: DataFrame) -> DataFrame:
    """web_pages -> documents input of the KG pipeline: url as doc id,
    basename as path, title NULL so the extraction UDF derives it with
    the reference's batch precedence (frontmatter title > stem with
    ``_``/``-`` -> space > first heading; reader.py:125-136 via
    extract_udf._effective_title) — matching what the reference would
    label these documents if crawled into its knowledge base.

    Rows with null ``text`` fall back to boilerplate-stripped extraction
    from raw ``html`` (html_extract.pages_with_text); rows that ship text
    bypass the HTML parser entirely.  Null-url rows are dropped HERE, at
    the shared entry point, so every downstream stage (extraction,
    mentions, OpenIE) sees the invariant — a null id has no KG identity
    and would otherwise mint null-subject triples."""
    pages = pages.filter(F.col("url").isNotNull())
    if "html" in pages.columns:
        from .html_extract import pages_with_text
        pages = pages_with_text(pages)
    basename = F.regexp_extract(F.col("url"), r"([^/]+)$", 1)
    return pages.select(
        F.col("url").alias("doc_id"),
        "text",
        basename.alias("path"),
        F.lit(None).cast("string").alias("title"),
    )
