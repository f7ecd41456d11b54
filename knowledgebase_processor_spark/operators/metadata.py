"""Document-metadata extraction: frontmatter, tags, links, titles.

The reference's metadata side (everything that feeds its SQLite star
schema, metadata_store/store.py:85-154) re-expressed as one Arrow-batched
pandas UDF producing a typed struct per document, plus explodes into the
normalized child tables:

* frontmatter parse: YAML ``---`` / TOML ``+++`` fences, tag coercion from
  list / comma-string / space-string + ``categories`` merge, ISO dates
  (extractor/frontmatter.py:29-31,82-101,166-208)
* title precedence: frontmatter title > filename-stem with ``_``/``-`` ->
  space > first ``# `` heading when the stem is generic
  (reader/reader.py:125-136)
* inline tags: masked hashtag scan + ``@category/tag``
  (extractor/tags.py:25-26,35-72)
* links: inline / reference-style / definitions / citations
  (extractor/link_reference.py:24-38)
"""

from __future__ import annotations

import functools
import re
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, StringType, StructField, StructType,
)

RE_FM_YAML = re.compile(r"^\s*---\s*\n(.*?)\n\s*---\s*\n", re.S)
RE_FM_TOML = re.compile(r"^\s*\+\+\+\s*\n(.*?)\n\s*\+\+\+\s*\n", re.S)
RE_HASHTAG = re.compile(r"(?:^|\s)#([a-zA-Z0-9_]+)\b")
RE_CATEGORY_TAG = re.compile(r"@([a-zA-Z0-9_-]+)/([a-zA-Z0-9_-]+)")
# Link/citation char classes are BOUNDED (the reference uses unbounded
# +/*): every "[" or "(" in the document is a candidate match start, and
# an unbounded [^\]]+ scans the whole remaining text per failed start —
# O(n^2), measured 73s on a 100KB bracket run.  No real link text/url/
# citation approaches the bounds; longer ones just don't extract.
RE_INLINE_LINK = re.compile(r"\[([^\]]{1,2000})\]\(([^)\"]{1,2000})(?:\s+\"([^\"]{1,2000})\")?\)")
RE_REF_LINK = re.compile(r"\[([^\]]{1,2000})\]\[([^\]]{0,500})\](?!\()")
RE_REF_DEF = re.compile(r"^\[([^\]]{1,2000})\]:\s+(\S+)(?:\s+\"([^\"]{1,2000})\")?$", re.M)
RE_CITATION = re.compile(r"(?:\(([^)]{1,300},\s*\d{4}[^)]{0,300})\)|\[@([^\]]{1,300})\])")
RE_FIRST_H1 = re.compile(r"^#\s+(.+)$", re.M)

_MASKS = [re.compile(r"```.*?```", re.S), re.compile(r"`[^`]{0,2000}`"),
          re.compile(r"!\[[^\]]{0,2000}\]\([^\)]{0,2000}\)"),
          re.compile(r"\[[^\]]{0,2000}\]\([^\)]{0,2000}\)"),
          re.compile(r"<[^>]{1,500}>")]

DOC_METADATA = StructType([
    StructField("doc_id", StringType()),
    StructField("title", StringType()),
    StructField("fm_title", StringType()),
    StructField("fm_date", StringType()),
    StructField("fm_format", StringType()),
    StructField("tags", ArrayType(StringType())),
    StructField("fm_custom", StringType()),          # JSON bag of custom fields
    StructField("links", ArrayType(StructType([
        StructField("text", StringType()),
        StructField("url", StringType()),
        StructField("is_internal", BooleanType()),
        StructField("link_kind", StringType()),      # inline|reference|definition|citation
    ]))),
])


def _space_fill(pattern: re.Pattern, s: str) -> str:
    """Length-preserving mask (tags.py:35-42) so tag offsets stay valid."""
    return pattern.sub(lambda m: " " * (m.end() - m.start()), s)


def _coerce_tags(value) -> list[str]:
    """tags from list / comma-string / space-string (frontmatter.py:186-197)."""
    if isinstance(value, list):
        return [str(t).strip() for t in value if t]
    if isinstance(value, str):
        parts = value.split(",") if "," in value else value.split()
        return [t.strip() for t in parts if t.strip()]
    return []


@functools.cache
def _no_alias_loader():
    """The SafeLoader subclass, built once per process: a class is a
    reference cycle, so building one per document would leave garbage
    for the cyclic GC, which the extraction batch pauses."""
    import yaml

    class _NoAliasLoader(yaml.SafeLoader):
        def compose_node(self, parent, index):
            if self.check_event(yaml.events.AliasEvent):
                raise yaml.YAMLError("aliases disallowed")
            return super().compose_node(parent, index)

    return _NoAliasLoader


def _yaml_load_no_alias(raw: str):
    """yaml.safe_load with aliases forbidden: a 400-byte billion-laughs
    block expands to gigabytes under plain safe_load and OOMs the
    executor.  Shared by BOTH frontmatter parse paths (extractor-style
    `_parse_frontmatter` and reader-style `_reader_frontmatter`) so the
    title-derivation path is equally inert to alias bombs."""
    import yaml

    return yaml.load(raw, Loader=_no_alias_loader())


def _parse_frontmatter(text: str) -> tuple[dict, str, str | None]:
    """-> (parsed dict, body_without_frontmatter, format)."""
    m = RE_FM_YAML.match(text)
    fmt = None
    parsed: dict = {}
    if m:
        fmt = "yaml"
    else:
        m = RE_FM_TOML.match(text)
        if m:
            fmt = "toml"
    if not m:
        return {}, text, None
    raw = m.group(1)
    # Crawl-hardening (deviations from the reference, pathological input
    # only): (a) frontmatter beyond 128KB is not parsed — real
    # frontmatter is a few KB, and YAML parse time on multi-MB blocks is
    # pure cost amplification; (b) YAML aliases are forbidden — a
    # 400-byte billion-laughs document expands to gigabytes under plain
    # safe_load and OOMs the executor.
    if len(raw) > 131_072:
        return {}, text[m.end():], fmt
    try:
        if fmt == "toml":
            import tomllib
            parsed = tomllib.loads(raw)
        else:
            parsed = _yaml_load_no_alias(raw) or {}
        if not isinstance(parsed, dict):
            parsed = {}
    except Exception:
        parsed = {}
    return parsed, text[m.end():], fmt


# The reader's own frontmatter pattern (reader.py:86) differs from the
# extractor's: YAML only (no TOML fence) and the fence must start at
# byte 0 (no leading whitespace).  Title derivation must use THIS one —
# differential testing caught a TOML document whose `title =` key must
# NOT become the document label, because the reference's reader never
# parses TOML even though its frontmatter extractor does.
RE_READER_FM = re.compile(r"^---\s*\n(.*?)\n---\s*\n", re.S)


def _reader_frontmatter(text: str) -> dict | None:
    """reader.parse_frontmatter semantics exactly: YAML only (never the
    TOML fence the extractor supports), fence at byte 0, ``None`` on no
    match or parse error.  Differential testing caught the asymmetry: a
    ``+++`` TOML title must NOT become the document label because the
    reference's reader never parses TOML even though its frontmatter
    extractor does."""
    m = RE_READER_FM.match(text)
    if not m or len(m.group(1)) > 131_072:
        return None
    try:
        return _yaml_load_no_alias(m.group(1)) or {}
    except Exception:
        return None


def _parse_fm_date(value) -> str | None:
    """TYPED frontmatter date, mirroring the reference's accepted-format
    list exactly (extractor/frontmatter.py:138-164): YAML-native
    datetime/date objects pass through (date -> midnight datetime),
    strings try ``%Y-%m-%d``, ``%Y-%m-%d %H:%M:%S``, ``%Y/%m/%d``,
    ``%d-%m-%Y`` in that order, anything else is None.  Emitted as the
    ISO-8601 string of the parsed datetime so date filters compare
    lexicographically == chronologically."""
    import datetime as _dt
    if isinstance(value, _dt.datetime):
        return value.isoformat()
    if isinstance(value, _dt.date):
        return _dt.datetime.combine(value, _dt.time()).isoformat()
    if isinstance(value, str):
        for f in ("%Y-%m-%d", "%Y-%m-%d %H:%M:%S", "%Y/%m/%d", "%d-%m-%Y"):
            try:
                return _dt.datetime.strptime(value, f).isoformat()
            except ValueError:
                continue
    return None


def derive_title(text: str, path: str) -> str:
    """Document label derivation for the reference's batch mode: the
    composition of reader.read_file's title logic (reader.py:125-136)
    with document_processor.create_document_entity's label fallback
    (:53-57).  Truthy YAML title wins; a present-but-falsy title key
    falls to the plain stem (NO heading fallback — read_file only
    searches headings when the key is absent); otherwise stem with
    ``_``/``-`` -> space, then the first ``# `` heading when the stem is
    generic (readme/index/untitled), searched in the text left by the
    reader's parse (frontmatter stripped only when YAML parsed)."""
    t = text or ""
    stem = path.rsplit("/", 1)[-1]
    stem = stem.rsplit(".", 1)[0] if "." in stem else stem
    stem_title = stem.replace("_", " ").replace("-", " ")

    m = RE_READER_FM.match(t)
    # fast path: the parse can't produce a title key if the token never
    # appears in the fence — skip the YAML load (~25% of kernel time on
    # frontmatter documents, profiled) unless the heading fallback needs
    # to know whether the fence strips
    generic = not stem_title or stem_title.lower() in ("readme", "index",
                                                       "untitled")
    fm = (_reader_frontmatter(t)
          if m and ("title" in m.group(1) or generic) else None)

    if isinstance(fm, dict) and "title" in fm:
        title = fm["title"]
        return str(title) if title else stem_title
    if generic:
        body = t[m.end():] if (m and isinstance(fm, dict)) else t
        h = RE_FIRST_H1.search(body)
        if h and h.group(1).strip():
            return h.group(1).strip()
    return stem_title


def parse_document_metadata(doc_id: str, text: str, path: str) -> dict:
    """One document -> DOC_METADATA row (plain dict)."""
    text = text or ""
    fm, body, fmt = _parse_frontmatter(text)
    title = derive_title(text, path)

    # Tags: frontmatter (+categories) + masked hashtags + @category/tag
    tags = _coerce_tags(fm.get("tags", []))
    tags += _coerce_tags(fm.get("categories", []))
    masked = text
    for pat in _MASKS:
        masked = _space_fill(pat, masked)
    # chained-## tags (tags.py:48-50) are already unmatchable: the regex
    # requires ^ or whitespace immediately before '#'
    for m in RE_HASHTAG.finditer(masked):
        tags.append(m.group(1))
    for m in RE_CATEGORY_TAG.finditer(text):
        tags.append(m.group(2))
    seen, uniq = set(), []
    for t in tags:
        if t not in seen:
            seen.add(t)
            uniq.append(t)

    # Links (link_reference.py)
    links = []
    for m in RE_REF_DEF.finditer(text):
        links.append({"text": m.group(1), "url": m.group(2),
                      "is_internal": not m.group(2).startswith(("http://", "https://", "ftp://", "mailto:")),
                      "link_kind": "definition"})
    ref_map = {l["text"]: l["url"] for l in links}
    for m in RE_INLINE_LINK.finditer(text):
        url = m.group(2)
        links.append({"text": m.group(1), "url": url,
                      "is_internal": not url.startswith(("http://", "https://", "ftp://", "mailto:")),
                      "link_kind": "inline"})
    for m in RE_REF_LINK.finditer(text):
        key = m.group(2) or m.group(1)
        url = ref_map.get(key)
        if url is not None:
            links.append({"text": m.group(1), "url": url,
                          "is_internal": not url.startswith(("http://", "https://", "ftp://", "mailto:")),
                          "link_kind": "reference"})
    for m in RE_CITATION.finditer(text):
        links.append({"text": m.group(1) or m.group(2), "url": None,
                      "is_internal": True, "link_kind": "citation"})

    import json
    date_val = _parse_fm_date(fm.get("date"))
    custom = {k: v for k, v in fm.items() if k not in ("title", "date", "tags")}
    return {
        "doc_id": doc_id, "title": title,
        "fm_title": None if fm.get("title") is None else str(fm.get("title")),
        "fm_date": date_val,
        "fm_format": fmt,
        "tags": uniq,
        "fm_custom": json.dumps(custom, default=str, sort_keys=True),
        "links": links,
    }


def doc_metadata_df(docs: DataFrame, doc_id_col: str = "doc_id",
                    text_col: str = "text", path_col: str | None = None) -> DataFrame:
    cols = [doc_id_col, text_col] + ([path_col] if path_col else [])
    narrowed = docs.select(*cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for rec in batch.itertuples(index=False):
                path = getattr(rec, path_col) if path_col else "temp_document.md"
                rows.append(parse_document_metadata(
                    getattr(rec, doc_id_col), getattr(rec, text_col), path))
            yield pd.DataFrame(rows, columns=[f.name for f in DOC_METADATA.fields])

    return narrowed.mapInPandas(run, schema=DOC_METADATA)


def doc_tags_df(metadata: DataFrame) -> DataFrame:
    """Normalized (doc_id, tag) — the SQLite tags/document_tags star
    (store.py:108-125) without the surrogate-key indirection."""
    return (metadata.select("doc_id", F.explode("tags").alias("tag"))
            .dropDuplicates(["doc_id", "tag"]))


def doc_links_df(metadata: DataFrame) -> DataFrame:
    """Normalized links table (store.py:138-154)."""
    return metadata.select(
        "doc_id", F.explode("links").alias("l")
    ).select("doc_id", "l.text", "l.url", "l.is_internal", "l.link_kind")
