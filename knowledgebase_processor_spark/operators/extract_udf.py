"""Arrow-batched document -> entities extraction operator.

`mapInPandas` wrapper around ``extract.core.extract_entities``: the per-row
Python work the reference does one document at a time
(processor/pipeline_orchestrator.py:140-166) becomes a partition-parallel,
Arrow-batched map with no shuffle.  Errors are isolated per document the
same way the reference isolates them per file (:160-165): a failing
document contributes an ``error`` row to the lineage side-channel instead
of killing the job.
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..extract.core import ENTITY_FIELDS, extract_entities, extract_entities_merged
from ..schema import ENTITIES, ENTITIES_MERGED
from .metadata import derive_title

_INT_FIELDS = {"level", "item_count", "row_count", "column_count",
               "line_count", "position_start", "position_end"}
_BOOL_FIELDS = {"is_completed", "ordered"}
_MERGED_FIELDS = [f.name for f in ENTITIES_MERGED.fields]


def _effective_title(title, text: str, path: str) -> str:
    """Batch-mode reference semantics (pipeline_orchestrator phase 1 /
    reader.py:125-136): a NULL title means "derive it" — frontmatter
    title > filename stem > first heading for generic stems.  Passing a
    non-null title (or no title column at all, which keeps the temp-doc
    default) bypasses derivation."""
    if title is None or (isinstance(title, float) and pd.isna(title)):
        return derive_title(text, path)
    return title


def _to_frame(rows: list[dict]) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=ENTITY_FIELDS)
    for c in _INT_FIELDS:
        df[c] = df[c].astype("Int64")
    for c in _BOOL_FIELDS:
        df[c] = df[c].astype("boolean")
    return df


def extract_batches(batches: Iterator[pd.DataFrame], doc_id_col: str,
                    text_col: str, path_col: str | None,
                    title_col: str | None,
                    merge: bool) -> Iterator[pd.DataFrame]:
    """The per-document extraction loop behind both operators: one output
    frame per Arrow batch, flat ENTITIES rows or, with ``merge``, the
    per-document merged ENTITIES_MERGED rows.  A document whose
    extraction raises yields one ``error`` row (its id as ``kb_id`` and
    ``source_document_uri``, ``Type: message`` as ``text``) on both paths,
    so no document vanishes silently; error rows emit no triples."""
    extract = extract_entities_merged if merge else extract_entities
    fields = _MERGED_FIELDS if merge else ENTITY_FIELDS
    for batch in batches:
        rows: list[dict] = []
        for rec in batch.itertuples(index=False):
            doc_id = getattr(rec, doc_id_col)
            try:
                text = getattr(rec, text_col) or ""
                path = getattr(rec, path_col) if path_col else "temp_document.md"
                title = (_effective_title(getattr(rec, title_col), text, path)
                         if title_col else "Temporary Document")
                rows.extend(extract(doc_id, text, path, title))
            except Exception as exc:  # per-document isolation
                msg = f"{type(exc).__name__}: {exc}"
                rows.append({**dict.fromkeys(fields),
                             "kind": "error", "kb_id": str(doc_id),
                             "source_document_uri": str(doc_id),
                             "text": [msg] if merge else msg})
        yield pd.DataFrame(rows, columns=fields) if merge else _to_frame(rows)


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
    return narrowed.mapInPandas(
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
