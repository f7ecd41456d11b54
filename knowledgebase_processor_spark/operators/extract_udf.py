"""Arrow-batched document -> entities extraction operator.

`mapInArrow` wrapper around ``extract.core.extract_entities``: the per-row
Python work the reference does one document at a time
(processor/pipeline_orchestrator.py:140-166) becomes a partition-parallel,
Arrow-batched map with no shuffle.  Errors are isolated per document the
same way the reference isolates them per file (:160-165): a failing
document contributes an ``error`` row to the lineage side-channel instead
of killing the job.
"""

from __future__ import annotations

import gc
from functools import partial
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..extract.core import extract_entities, extract_entities_merged
from ..schema import ENTITIES, ENTITIES_MERGED
from .metadata import derive_title

_FLAT_SCHEMA = to_arrow_schema(ENTITIES)
_MERGED_SCHEMA = to_arrow_schema(ENTITIES_MERGED)


def _effective_title(title, text: str, path: str) -> str:
    """Batch-mode reference semantics (pipeline_orchestrator phase 1 /
    reader.py:125-136): a NULL title means "derive it" — frontmatter
    title > filename stem > first heading for generic stems.  Passing a
    non-null title (or no title column at all, which keeps the temp-doc
    default) bypasses derivation."""
    return derive_title(text, path) if title is None else title


def _extract_batch(batch: pa.RecordBatch, doc_id_col: str, text_col: str,
                   path_col: str | None, title_col: str | None,
                   merge: bool) -> pa.RecordBatch:
    extract = extract_entities_merged if merge else extract_entities
    schema = _MERGED_SCHEMA if merge else _FLAT_SCHEMA
    n = batch.num_rows

    def column(name: str | None, default):
        return batch.column(name).to_pylist() if name else [default] * n

    # One list per output field: an entity dict lives only until its
    # values are appended, so a batch keeps no row dicts alive.
    cols = {name: [] for name in schema.names}
    appends = [(name, cols[name].append) for name in schema.names]
    for doc_id, text, path, title in zip(
            column(doc_id_col, None), column(text_col, None),
            column(path_col, "temp_document.md"),
            column(title_col, "Temporary Document")):
        try:
            text = text or ""
            if title_col:
                title = _effective_title(title, text, path)
            ents = extract(doc_id, text, path, title)
        except Exception as exc:  # per-document isolation
            msg = f"{type(exc).__name__}: {exc}"
            ents = [{"kind": "error", "kb_id": str(doc_id),
                     "source_document_uri": str(doc_id),
                     "text": [msg] if merge else msg}]
        for ent in ents:
            for name, append in appends:
                append(ent.get(name))
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[f.name], type=f.type) for f in schema], schema=schema)


def extract_batches(batches: Iterator[pa.RecordBatch], doc_id_col: str,
                    text_col: str, path_col: str | None,
                    title_col: str | None,
                    merge: bool) -> Iterator[pa.RecordBatch]:
    """The per-document extraction loop behind both operators: one output
    batch per input Arrow batch, flat ENTITIES rows or, with ``merge``,
    the per-document merged ENTITIES_MERGED rows.  A document whose
    extraction raises yields one ``error`` row (its id as ``kb_id`` and
    ``source_document_uri``, ``Type: message`` as ``text``) on both paths,
    so no document vanishes silently; error rows emit no triples.

    The cyclic GC is paused while a batch is extracted and built: the
    extractor makes no reference cycles, so refcounting frees everything
    it allocates, while each collection would rescan every value the
    batch has kept so far.  The previous GC state is restored before the
    batch is yielded, so the serializer and any other code in the worker
    run as before."""
    for batch in batches:
        was_enabled = gc.isenabled()
        gc.disable()
        try:
            out = _extract_batch(batch, doc_id_col, text_col, path_col,
                                 title_col, merge)
        finally:
            if was_enabled:
                gc.enable()
        yield out


def _extract(docs: DataFrame, doc_id_col: str, text_col: str,
             path_col: str | None, title_col: str | None,
             merge: bool) -> DataFrame:
    cols = [doc_id_col, text_col]
    if path_col:
        cols.append(path_col)
    if title_col:
        cols.append(title_col)
    # Column pruning before the Python stage; a null id has no KG identity
    # (every URI embeds it) and would silently mint "None/..." nodes.
    narrowed = docs.select(*cols).filter(F.col(doc_id_col).isNotNull())
    return narrowed.mapInArrow(
        partial(extract_batches, doc_id_col=doc_id_col, text_col=text_col,
                path_col=path_col, title_col=title_col, merge=merge),
        schema=ENTITIES_MERGED if merge else ENTITIES)


def extract_entities_df(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    path_col: str | None = None,
    title_col: str | None = None,
) -> DataFrame:
    """documents(doc_id, text[, path, title]) -> ENTITIES DataFrame.

    ``doc_id`` is the document's KB identifier (relative like
    ``test_cases/x`` or a full URI).  Without path/title columns the
    string-content defaults apply (pipeline_orchestrator.py:190-203):
    path ``temp_document.md``, title ``Temporary Document``.
    """
    return _extract(docs, doc_id_col, text_col, path_col, title_col, merge=False)


def extract_merged_entities_df(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    path_col: str | None = None,
    title_col: str | None = None,
) -> DataFrame:
    """Like extract_entities_df but with per-document duplicate-entity
    merging done in-process (extract.core.extract_entities_merged), so the
    output needs no dedup shuffle — every varying field is an array
    (an error row's message is the one element of ``text``).
    """
    return _extract(docs, doc_id_col, text_col, path_col, title_col, merge=True)
