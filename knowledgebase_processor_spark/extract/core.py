"""Fused per-document entity extraction.

One pass over a markdown document that reproduces, element-for-element, the
combined output of the reference's extraction pipeline
(`/root/reference/src/knowledgebase_processor/`):

* the markdown-it token walk            (parser/markdown_parser.py:48-387)
* the regex heading/section extractor   (extractor/heading_section.py:55-169)
* the regex code/blockquote extractor   (extractor/code_quote.py:63-195)
* the regex todo extractor              (extractor/todo_item.py:24-61)
* the list/table extractor              (extractor/list_table.py:26-142)
* the wikilink extractor                (extractor/wikilink_extractor.py:17,42-67)
* element -> KB-entity conversion       (processor/markdown_structure_processor.py:70-370,
                                         processor/todo_processor.py:50-76,
                                         processor/entity_processor.py:154-199)

The reference runs these as eight registered extractor objects over a
mutable ``document.elements`` list; we run them as one function returning a
flat list of entity dicts.  Duplicate entities produced by overlapping
extractors are INTENTIONAL: deterministic URIs make their identical triples
collapse at ``dropDuplicates`` time and their differing position fields
become multi-valued properties — the golden TTLs depend on both effects.

This module is pure Python (plus the vendored markdown-it-py) so it can run
inside an Arrow-batched ``mapInArrow`` UDF; no Spark imports here.
"""

from __future__ import annotations

import re
from typing import Any, Dict, List, Optional

from .. import uris

# Lazily-constructed markdown-it instance (one per executor process).
_MD = None


def _md():
    global _MD
    if _MD is None:
        try:
            from markdown_it import MarkdownIt
        except ImportError:
            # Executor without --py-files / PYTHONPATH: the vendored copy
            # sits next to this package — self-locate and retry.
            import os
            import sys
            vendor = os.path.join(
                os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
                "vendor")
            if vendor not in sys.path:
                sys.path.insert(0, vendor)
            from markdown_it import MarkdownIt
        # Reference uses MarkdownIt("commonmark", {"enable_tables": True})
        # (markdown_parser.py:26) — the options dict is ignored by
        # markdown-it, so tables stay DISABLED; tables come only from the
        # regex in list_table.py.  We therefore use the plain commonmark
        # preset and never see table tokens.
        #
        # The inline core rule is disabled: _token_walk consumes only
        # token type/tag/map/content/info, all of which the block parser
        # sets; inline tokenization only fills `children`, which nothing
        # reads.  Skipping it makes parse ~1.8x faster with token-identical
        # output (verified over the golden corpora + 20k synthetic pages).
        _MD = MarkdownIt("commonmark").disable("inline", ignoreInvalid=True)
    return _MD


# ---------------------------------------------------------------------------
# regexes (behavioral copies of the reference's patterns)
# ---------------------------------------------------------------------------
RE_HEADING = re.compile(r"^(#{1,6})\s+(.+)$")                      # heading_section.py:23
RE_TODO_INLINE = re.compile(r"^\[([ xX])\]\s+(.+)$")               # markdown_parser.py:168
RE_TODO_LINE = re.compile(r"^\s*-\s+\[([ xX])\]\s+(.+)$", re.M)    # todo_item.py:24
RE_CODE_FENCE = re.compile(r"```([\w+-]*)?\s*\n(.*?)\n\s*```", re.S)  # code_quote.py:27-30
RE_BLOCKQUOTE = re.compile(r"^[ \t]*(>+)[ ]?(.*?)$")               # code_quote.py:32-36
# list_table.py:68 — with the row classes BOUNDED ({1,2000} vs the
# reference's unbounded +): each failed match attempt at one of n pipe
# positions scans the whole remaining line, so a newline-free 100KB pipe
# run costs O(n^2) (~40s measured).  Real table rows never approach 2000
# chars; wider "rows" simply don't extract as tables.
RE_TABLE = re.compile(r"(\|[^\n]{1,2000}\|\n\|[-:| ]{1,2000}\|\n(?:\|[^\n]{1,2000}\|\n)+)")
RE_WIKILINK = re.compile(r"\[\[([^\[\]\|\n]+?)(?:\|([^\[\]\n]+?))?\]\]")  # wikilink_extractor.py:17


# ---------------------------------------------------------------------------
# Stage A: markdown-it token walk  (markdown_parser.py:48-387)
# ---------------------------------------------------------------------------

def _token_walk(content: str) -> List[Dict[str, Any]]:
    """Walk commonmark tokens into element dicts.

    Every positional quirk of the reference walk is preserved:
      - heading end comes from the heading_close token's map, which
        markdown-it leaves as None -> 0 (markdown_parser.py:80)
      - each heading opens a section whose start is that (zero) end and
        whose end is fixed up to len(lines) afterwards (:100-106,382-385)
      - list end comes from the close token's map, also None -> 0 (:148)
      - a blockquote_open consumes every inline up to the FIRST
        blockquote_close, so nested quotes collapse into one level-1
        element (:351-377)
    """
    tokens = _md().parse(content)
    elements: List[Dict[str, Any]] = []
    eid = 0

    def new_id() -> int:
        nonlocal eid
        eid += 1
        return eid

    # The reference keeps a parent stack of lists *and* list items; only the
    # list-tracking consequences are observable in RDF output (current list
    # for item parentage + list end positions), but we mirror the stack
    # faithfully because an unpopped item changes which list is "current".
    stack: List[Dict[str, Any]] = []
    current_list: Optional[Dict[str, Any]] = None

    def tmap(tok, idx: int) -> int:
        return tok.map[idx] if tok.map else 0

    i = 0
    n = len(tokens)
    while i < n:
        tok = tokens[i]
        t = tok.type

        if t == "heading_open":
            level = int(tok.tag[1])
            text = tokens[i + 1].content
            pos_start = tmap(tok, 0)
            pos_end = tmap(tokens[i + 2], 1)  # heading_close map is None -> 0
            heading = {"etype": "heading", "eid": new_id(), "level": level,
                       "text": text, "start": pos_start, "end": pos_end}
            elements.append(heading)
            section = {"etype": "section", "eid": new_id(), "start": pos_end,
                       "end": 0, "heading_eid": heading["eid"], "_fix_end": True}
            elements.append(section)
            i += 3
            continue

        if t in ("bullet_list_open", "ordered_list_open"):
            lst = {"etype": "list", "eid": new_id(),
                   "ordered": t == "ordered_list_open",
                   "start": tmap(tok, 0), "end": 0, "items": 0}
            elements.append(lst)
            stack.append(lst)
            current_list = lst
            i += 1
            continue

        if t in ("bullet_list_close", "ordered_list_close"):
            if stack and stack[-1]["etype"] == "list":
                stack[-1]["end"] = tmap(tok, 1)  # close map None -> 0
                stack.pop()
                current_list = stack[-1] if stack and stack[-1]["etype"] == "list" else None
            i += 1
            continue

        if t == "list_item_open":
            text = ""
            checked = None
            if i + 2 < n and tokens[i + 2].type == "inline":
                inline = tokens[i + 2].content
                m = RE_TODO_INLINE.match(inline)
                if m:
                    checked = m.group(1).lower() == "x"
                    text = m.group(2)
                else:
                    text = inline
            item = {"etype": "todo_item" if checked is not None else "list_item",
                    "eid": new_id(), "text": text,
                    "checked": bool(checked) if checked is not None else None,
                    "start": tmap(tok, 0), "end": 0,
                    "parent_eid": current_list["eid"] if current_list else None}
            elements.append(item)
            if current_list is not None:
                current_list["items"] += 1
            stack.append(item)

            # Look ahead for this item's close, stopping at any nested list
            # (markdown_parser.py:210-238).
            j = i + 1
            depth = 1
            while j < n and depth > 0:
                jt = tokens[j].type
                if jt in ("bullet_list_open", "ordered_list_open"):
                    break
                if jt == "list_item_open":
                    depth += 1
                elif jt == "list_item_close":
                    depth -= 1
                    if depth == 0:
                        item["end"] = tmap(tokens[j], 1)
                        if stack and stack[-1] is item:
                            stack.pop()
                j += 1
            if j < n and tokens[j].type not in ("bullet_list_open", "ordered_list_open"):
                i = j
            else:
                i += 1
            continue

        if t == "fence":
            elements.append({"etype": "code_block", "eid": new_id(),
                             "language": tok.info, "code": tok.content,
                             "start": tok.map[0], "end": tok.map[1]})
            i += 1
            continue

        if t == "blockquote_open":
            j = i + 1
            parts: List[str] = []
            while j < n and tokens[j].type != "blockquote_close":
                if tokens[j].type == "inline":
                    parts.append(tokens[j].content + "\n")
                j += 1
            elements.append({"etype": "blockquote", "eid": new_id(), "level": 1,
                             "text": "".join(parts).strip(),
                             "start": tmap(tok, 0),
                             "end": tmap(tokens[j], 1) if j < n else 0})
            i = j + 1
            continue

        i += 1

    nlines = len(content.splitlines())
    for el in elements:
        if el.get("_fix_end") and el["end"] == 0:
            el["end"] = nlines
    return elements


# ---------------------------------------------------------------------------
# Stage B: regex heading/section extractor  (heading_section.py:55-169)
# ---------------------------------------------------------------------------

def _regex_headings_sections(content: str, id_start: int) -> List[Dict[str, Any]]:
    lines = content.splitlines()
    eid = id_start
    headings: List[Dict[str, Any]] = []
    for lineno, line in enumerate(lines):
        m = RE_HEADING.match(line)
        if m:
            eid += 1
            headings.append({"etype": "heading", "eid": eid,
                             "level": len(m.group(1)), "text": m.group(2).strip(),
                             "start": lineno, "end": lineno})
    out = list(headings)
    for k, h in enumerate(headings):
        start_line = h["end"] + 1
        end_line = headings[k + 1]["start"] - 1 if k + 1 < len(headings) else len(lines) - 1
        if start_line > end_line:
            continue
        eid += 1
        out.append({"etype": "section", "eid": eid, "start": start_line,
                    "end": end_line, "heading_eid": h["eid"]})
    return out


# ---------------------------------------------------------------------------
# Stage C: regex code/blockquote extractor  (code_quote.py:63-195)
# ---------------------------------------------------------------------------

def _regex_code_quotes(content: str, id_start: int) -> List[Dict[str, Any]]:
    eid = id_start
    out: List[Dict[str, Any]] = []
    # Incremental newline counting: matches arrive in order, so count only
    # the span since the previous match (str.count with bounds scans the
    # slice without copying).  A per-match content[:start].count() is
    # O(doc^2) and made multi-MB documents take minutes.
    nl_upto = 0
    nl_count = 0
    for m in RE_CODE_FENCE.finditer(content):
        language = m.group(1).strip() if m.group(1) else None
        code = m.group(2)
        lines = code.splitlines()
        non_empty = [ln for ln in lines if ln.strip()]
        if non_empty:
            indent = min(len(ln) - len(ln.lstrip()) for ln in non_empty)
            code = "\n".join(
                (ln[indent:] if len(ln) >= indent else ln) if ln.strip() else ln
                for ln in lines)
        nl_count += content.count("\n", nl_upto, m.start())
        nl_upto = m.start()
        start = nl_count
        eid += 1
        out.append({"etype": "code_block", "eid": eid, "language": language,
                    "code": code, "start": start,
                    "end": start + code.count("\n") + 2})

    cur: Optional[Dict[str, Any]] = None
    for lineno, line in enumerate(content.splitlines()):
        m = RE_BLOCKQUOTE.match(line)
        if m:
            level = len(m.group(1))
            if cur is None or cur["level"] != level:
                if cur is not None:
                    eid += 1
                    out.append({**cur, "eid": eid})
                cur = {"etype": "blockquote", "level": level,
                       "_lines": [m.group(2)], "start": lineno, "end": lineno}
            else:
                cur["_lines"].append(m.group(2))
                cur["end"] = lineno
        elif cur is not None:
            eid += 1
            out.append({**cur, "eid": eid})
            cur = None
    if cur is not None:
        eid += 1
        out.append({**cur, "eid": eid})
    for el in out:
        if el["etype"] == "blockquote":
            el["text"] = "\n".join(el.pop("_lines"))
    return out


# ---------------------------------------------------------------------------
# Stage D: regex todo extractor  (todo_item.py:24-61) — char-offset positions
# ---------------------------------------------------------------------------

def _regex_todos(content: str, id_start: int) -> List[Dict[str, Any]]:
    eid = id_start
    out = []
    for m in RE_TODO_LINE.finditer(content):
        eid += 1
        out.append({"etype": "todo_item", "eid": eid,
                    "checked": m.group(1).lower() == "x", "text": m.group(2),
                    "start": m.start(), "end": m.end(), "parent_eid": None})
    return out


# ---------------------------------------------------------------------------
# Stage E: list/table extractor  (list_table.py:26-142)
# ---------------------------------------------------------------------------

def _regex_tables(content: str, id_start: int) -> List[Dict[str, Any]]:
    eid = id_start
    out = []
    for m in RE_TABLE.finditer(content):
        rows_text = m.group(1).strip().split("\n")
        headers = [c.strip() for c in rows_text[0].strip("|").split("|")]
        rows = [[c.strip() for c in r.strip("|").split("|")] for r in rows_text[2:]]
        eid += 1
        out.append({"etype": "table", "eid": eid, "headers": headers,
                    "rows": rows, "start": m.start(), "end": m.end()})
    return out


# ---------------------------------------------------------------------------
# Entity conversion (markdown_structure_processor.py:70-370 + todo/wikilink)
# ---------------------------------------------------------------------------

ENTITY_FIELDS = [
    "kind", "kb_id", "label", "source_document_uri",
    "text", "description", "level", "is_completed", "ordered", "item_count",
    "row_count", "column_count", "line_count", "language", "code", "headers",
    "position_start", "position_end", "original_text", "target_path", "alias",
    "resolved_document_uri", "heading_uri", "parent_list_uri", "original_path",
    "path_without_extension",
]

# Everything except the merge key + source doc — the fields whose values
# become ordered-distinct arrays in the merged representation.
_VARYING_FIELDS = tuple(f for f in ENTITY_FIELDS
                        if f not in ("kind", "kb_id", "source_document_uri"))


def _entity(kind: str, kb_id: str, doc_id: str, label: Optional[str], **kw) -> Dict[str, Any]:
    ent = dict.fromkeys(ENTITY_FIELDS)
    ent.update(kind=kind, kb_id=kb_id, label=label, source_document_uri=doc_id)
    ent.update(kw)
    return ent


def _structure_entity(el: Dict[str, Any], doc_id: str,
                      eid_to_uri: Dict[int, str]) -> Optional[Dict[str, Any]]:
    """Element dict -> KB entity dict (markdown_structure_processor.py:70-370).

    TodoItem elements are skipped here (handled by the todo conversion);
    tables/lists/sections use position-based URIs; headings/list-items/
    blockquotes use (truncated) text-based URIs.
    """
    et = el["etype"]
    if et == "todo_item":
        return None
    if et == "heading":
        uri = uris.element_uri("heading", f"h{el['level']}-{el['text'][:50]}", doc_id)
        return _entity("heading", uri, doc_id, el["text"], level=el["level"],
                       text=el["text"], position_start=el["start"], position_end=el["end"])
    if et == "section":
        uri = uris.element_uri("section", f"pos-{el['start']}-{el['end']}", doc_id)
        return _entity("section", uri, doc_id, f"Section {el['start']}-{el['end']}",
                       heading_uri=eid_to_uri.get(el.get("heading_eid")),
                       position_start=el["start"], position_end=el["end"])
    if et == "list":
        uri = uris.element_uri("list", f"pos-{el['start']}-{el['end']}", doc_id)
        kind_word = "Ordered" if el["ordered"] else "Unordered"
        return _entity("list", uri, doc_id, f"{kind_word} list", ordered=el["ordered"],
                       item_count=el["items"], position_start=el["start"],
                       position_end=el["end"])
    if et == "list_item":
        uri = uris.element_uri("list-item", el["text"][:50], doc_id)
        return _entity("list_item", uri, doc_id, el["text"][:50], text=el["text"],
                       position_start=el["start"], position_end=el["end"],
                       parent_list_uri=eid_to_uri.get(el.get("parent_eid")))
    if et == "table":
        uri = uris.element_uri("table", f"pos-{el['start']}-{el['end']}", doc_id)
        row_count = len(el["rows"]) + (1 if el["headers"] else 0)
        column_count = len(el["headers"]) if el["headers"] else (
            len(el["rows"][0]) if el["rows"] else 0)
        return _entity("table", uri, doc_id, f"Table with {row_count} rows",
                       row_count=row_count, column_count=column_count,
                       headers=el["headers"] if el["headers"] else None,
                       position_start=el["start"], position_end=el["end"])
    if et == "code_block":
        lang = el["language"] or "unknown"
        uri = uris.element_uri("code", f"{lang}-pos-{el['start']}-{el['end']}", doc_id)
        return _entity("code_block", uri, doc_id, f"{lang} code block",
                       language=el["language"], code=el["code"],
                       line_count=len(el["code"].splitlines()),
                       position_start=el["start"], position_end=el["end"])
    if et == "blockquote":
        uri = uris.element_uri("blockquote", el["text"][:50], doc_id)
        return _entity("blockquote", uri, doc_id, el["text"][:50], level=el["level"],
                       text=el["text"], position_start=el["start"],
                       position_end=el["end"])
    return None


def extract_entities(doc_id: str, content: str,
                     original_path: str = "temp_document.md",
                     title: str = "Temporary Document") -> List[Dict[str, Any]]:
    """Full per-document extraction: document + wikilinks + todos + structure.

    Mirrors EntityProcessor.process_document_entities ordering
    (entity_processor.py:154-199) with the string-content defaults of
    process_content_to_graph (pipeline_orchestrator.py:169-232).  Wikilink
    resolution is deliberately NOT done here — at scale it is a broadcast
    join against the documents dimension (SURVEY.md §2.3 J1); the
    ``resolved_document_uri`` column starts null and is filled by
    ``operators.wikilink_resolve``.
    """
    entities: List[Dict[str, Any]] = []

    path_no_ext = original_path.rsplit(".", 1)[0] if "." in original_path else original_path
    entities.append(_entity(
        "document", doc_id, doc_id, title,
        original_path=original_path, path_without_extension=path_no_ext))

    # Wikilinks (wikilink_extractor.py:42-67)
    for m in RE_WIKILINK.finditer(content or ""):
        original_text = m.group(0)
        target = m.group(1).strip()
        alias = m.group(2).strip() if m.group(2) else None
        entities.append(_entity(
            "wikilink", uris.wikilink_uri(doc_id, original_text), doc_id,
            alias or target, original_text=original_text, target_path=target,
            alias=alias, resolved_document_uri=None))

    if not content:
        return entities

    # Element extraction in registration order (test_specifications.py:47-54):
    # markdown parse, heading/section, code/quote, todo, list/table.  The
    # list/table extractor re-parses with the same parser (list_table.py:38),
    # so its list output is element-for-element the walk's lists.
    walk = _token_walk(content)
    elems: List[Dict[str, Any]] = list(walk)
    elems += _regex_headings_sections(content, id_start=len(elems) + 1000)
    elems += _regex_code_quotes(content, id_start=len(elems) + 2000)
    elems += _regex_todos(content, id_start=len(elems) + 3000)
    lists_again = [dict(e, eid=e["eid"] + 9000) for e in walk if e["etype"] == "list"]
    elems += lists_again
    elems += _regex_tables(content, id_start=len(elems) + 4000)

    # Todos (todo_processor.py:26-76): all TodoItem elements, walk + regex.
    for el in elems:
        if el["etype"] == "todo_item":
            entities.append(_entity(
                "todo", uris.todo_uri(doc_id, el["text"]), doc_id, el["text"],
                description=el["text"], is_completed=el["checked"]))

    # Structure entities (markdown_structure_processor.py:32-68): single
    # ordered pass building the element-id -> URI map as it goes, so a
    # section resolves its heading only if that heading came earlier.
    eid_to_uri: Dict[int, str] = {}
    for el in elems:
        ent = _structure_entity(el, doc_id, eid_to_uri)
        if ent:
            entities.append(ent)
            eid_to_uri[el["eid"]] = ent["kb_id"]

    return entities


def extract_entities_merged(doc_id: str, content: str,
                            original_path: str = "temp_document.md",
                            title: str = "Temporary Document") -> List[Dict[str, Any]]:
    """extract_entities + per-document duplicate-entity merge.

    Because every generated URI is document-scoped (uris.py §ADR-0013),
    duplicate KG nodes can only collide within one document — so rdflib's
    corpus-wide triple-set dedup is exactly a per-document merge, done here
    in-process for a few dozen entities per doc.  Each varying field
    becomes an ordered-distinct LIST of its non-null values (multi-valued
    properties like the doubled kb:positionEnd in the goldens fall out
    naturally).  Downstream the pipeline needs NO dedup shuffle at all.
    """
    merged: Dict[tuple, Dict[str, Any]] = {}
    # Ordered-distinct with two fast paths:
    # * first occurrence of a key (the overwhelmingly common case) builds
    #   the slot directly with no membership machinery;
    # * subsequent occurrences dedup against a LAZILY-built seen-set per
    #   field — `item not in list` membership is O(values-so-far), which
    #   goes quadratic when thousands of identical elements (same
    #   deterministic URI) merge into one entity, e.g. a page repeating
    #   one heading 10k times accumulates 10k distinct positions.
    seen: Dict[tuple, Dict[str, set]] = {}
    for ent in extract_entities(doc_id, content, original_path, title):
        key = (ent["kind"], ent["kb_id"])
        slot = merged.get(key)
        if slot is None:
            slot = {"kind": ent["kind"], "kb_id": ent["kb_id"],
                    "source_document_uri": ent["source_document_uri"]}
            for f in _VARYING_FIELDS:
                v = ent[f]
                if v is None:
                    slot[f] = []
                elif f == "headers":
                    hs: List[Any] = []
                    hseen: set = set()
                    for h in v:
                        if h not in hseen:
                            hseen.add(h)
                            hs.append(h)
                    slot[f] = hs
                else:
                    slot[f] = [v]
            merged[key] = slot
            continue
        slot_seen = seen.get(key)
        if slot_seen is None:
            slot_seen = {f: set(slot[f]) for f in _VARYING_FIELDS}
            seen[key] = slot_seen
        for f in _VARYING_FIELDS:
            v = ent[f]
            if v is None:
                continue
            values = v if f == "headers" else (v,)
            sf = slot_seen[f]
            lf = slot[f]
            for item in values:
                if item not in sf:
                    sf.add(item)
                    lf.append(item)
    return list(merged.values())
