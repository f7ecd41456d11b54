"""Deterministic entity URI generation (ADR-0013 semantics).

Reimplements, from behavior, the reference's ID scheme
(`/root/reference/src/knowledgebase_processor/utils/id_generator.py:30-277`):

* text normalization: NFKD -> lowercase -> non-[a-z0-9] -> '-' -> collapse
  runs of '-' -> strip leading/trailing '-'   (id_generator.py:30-58)
* 16-char url-safe-base64 sha256 hash for wikilink IDs (id_generator.py:60-68)
* URI patterns (id_generator.py:70-277):
    Document/{normalized-path-sans-ext}
    wikilinks/{hash16(source_doc_id + original_text)}
    {doc}/todo/{todo-normalized-text}        (doc full URI)  or
    documents/{doc_id}/todo/{...}            (doc_id relative)
    {doc}/{element_type}/{normalized-identifier[:100]}  (same fallback)

Deterministic IDs are the join keys of the whole system: duplicate
extractions of one logical element collide into one KG node, and triple-set
dedup (``dropDuplicates``) reproduces rdflib's graph-set semantics.

These are plain Python functions so they can run inside Arrow-batched
pandas UDFs; Spark has no NFKD builtin (SURVEY.md §2.7).
"""

from __future__ import annotations

import base64
import hashlib
import re
import unicodedata

BASE_URL = "http://example.org/kb/"
# KB vocabulary namespace (reference: config/vocabulary.py:47-68 +
# vocabulary/VERSION.json -> "http://example.org/kb/vocab#").
KB = "http://example.org/kb/vocab#"
SCHEMA = "https://schema.org/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
XSD = "http://www.w3.org/2001/XMLSchema#"

_NON_ALNUM_RUNS = re.compile(r"[^a-z0-9]+")
_HYPHEN_RUNS = re.compile(r"-+")
_TODO_STRIP = re.compile(r"[^\w\s-]")
_WS_RUNS = re.compile(r"\s+")


def normalize_for_id(text: str) -> str:
    """ADR-0013 normalization (id_generator.py:30-58)."""
    if not text:
        return ""
    out = unicodedata.normalize("NFKD", text).lower()
    # one pass: a run of non-alphanumerics (hyphens included) -> one "-"
    return _NON_ALNUM_RUNS.sub("-", out).strip("-")


def hash16(*parts: str) -> str:
    """sha256 -> urlsafe b64 (padding stripped) -> first 16 chars (id_generator.py:60-68)."""
    digest = hashlib.sha256("".join(parts).encode("utf-8")).digest()
    return base64.urlsafe_b64encode(digest).decode("utf-8").rstrip("=")[:16]


def document_uri(file_path: str, base_url: str = BASE_URL) -> str:
    """Document/{normalized-path} with extension dropped after normalization
    (id_generator.py:70-89: the *normalized* string is split on its last '.',
    but normalization already removed dots, so in practice the whole
    normalized path minus the trailing '-ext' segment survives via the
    pre-normalization form).  We mirror the exact order: normalize first,
    then rsplit on '.' — normalization maps '.' to '-', so the rsplit is a
    no-op; keep it anyway for byte-parity with odd inputs."""
    norm = normalize_for_id(file_path)
    if "." in norm:
        norm = norm.rsplit(".", 1)[0]
    return base_url + "Document/" + norm


def wikilink_uri(source_document_id: str, original_text: str, base_url: str = BASE_URL) -> str:
    """wikilinks/{hash16} (id_generator.py:181-196)."""
    return base_url + "wikilinks/" + hash16(source_document_id, original_text)


def todo_uri(source_document_id: str, todo_text: str, base_url: str = BASE_URL) -> str:
    """Todo URI from normalized todo text (id_generator.py:198-243).

    Normalization here differs from ADR-0013 normalize_for_id: keeps \\w
    chars (unicode letters + underscore), collapses whitespace to single
    hyphens.
    """
    t = _TODO_STRIP.sub("", todo_text.strip().lower())
    t = _WS_RUNS.sub(" ", t).replace(" ", "-")
    t = _HYPHEN_RUNS.sub("-", t).strip("-")
    if not t:
        t = "unnamed-todo"
    if source_document_id.startswith(("http://", "https://")):
        return source_document_id.rstrip("/") + "/todo/" + t
    return base_url + "documents/" + source_document_id + "/todo/" + t


def element_uri(element_type: str, identifier: str, source_document_id: str,
                base_url: str = BASE_URL) -> str:
    """Markdown element URI (id_generator.py:245-277)."""
    norm = normalize_for_id(identifier)
    if not norm:
        norm = "unnamed-element"
    if len(norm) > 100:
        norm = norm[:100]
    if source_document_id.startswith(("http://", "https://")):
        return source_document_id.rstrip("/") + "/" + element_type + "/" + norm
    return base_url + "documents/" + source_document_id + "/" + element_type + "/" + norm


def resolve_uri(value: str, base: str = KB) -> str:
    """Join a possibly-relative kb_id against a base URI the way the
    reference's converter does (rdf_converter/converter.py:37-40,146-151):
    anything containing '://' is already absolute; otherwise
    base.rstrip('/') + '/' + value.lstrip('/')."""
    if "://" in value:
        return value
    return base.rstrip("/") + "/" + value.lstrip("/")
