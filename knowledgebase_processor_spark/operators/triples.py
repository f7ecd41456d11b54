"""Entity DataFrame -> RDF triple DataFrame, as pure Spark SQL.

The flagship transform (SURVEY.md §2.5).  No Python UDF: the static
``rdf_schema.KIND_RULES`` table is compiled into one CASE expression per
entity kind whose branches build arrays of (pred, obj, is_uri, datatype)
structs, which are then exploded and deduplicated.  ``dropDuplicates`` on
the triple columns reproduces rdflib's graph set-union semantics
(reference: processor/rdf_processor.py:57-62) — it is what merges the
duplicate entities produced by the reference's overlapping extractors.

Scale notes:
* the whole transform is whole-stage-codegen'd JVM work;
* the only shuffle is the final dedup.  Because every generated URI embeds
  its source document id, duplicate triples can only collide within one
  document, so the dedup keys are prefixed with ``source_doc`` — with the
  input already partitioned by url-hash the exchange is skew-free, and AQE
  coalesces the post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..rdf_schema import (
    BOOL_COLUMNS, INT_COLUMNS, KB_SOURCE_DOC, KIND_RULES, RDF_TYPE,
    RDFS_LABEL, RDFS_SEEALSO, XSD_STRING,
)
from ..uris import KB

# The KIND_RULES -> CASE compilation issues thousands of py4j calls
# (~4 s of driver CPU).  The result is a pure unresolved expression tree,
# so it is cached per Spark application and rebuilt only when the
# backing JVM context changes.
_CASE_CACHE: dict[tuple[str, str], Column] = {}


def _cached_case(which: str, build) -> Column:
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else "<none>"
    key = (app, which)
    if key not in _CASE_CACHE:
        for stale in [k for k in _CASE_CACHE if k[0] != app]:
            del _CASE_CACHE[stale]
        _CASE_CACHE[key] = build()
    return _CASE_CACHE[key]


def _resolve(col: Column, base: str = KB) -> Column:
    """Absolute-ize a possibly-relative URI (converter.py:37-40,146-151)."""
    return F.when(col.contains("://"), col).otherwise(
        F.concat(F.lit(base.rstrip("/") + "/"), F.regexp_replace(col, "^/+", "")))


def _lexical(col_name: str) -> Column:
    c = F.col(col_name)
    if col_name in BOOL_COLUMNS:
        return F.when(c, "true").otherwise("false")
    if col_name in INT_COLUMNS:
        return c.cast("string")
    return c


def _triple(pred: str, obj: Column, is_uri: bool, datatype: str | None) -> Column:
    return F.struct(
        F.lit(pred).alias("pred"),
        obj.alias("obj"),
        F.lit(is_uri).alias("obj_is_uri"),
        (F.lit(datatype) if datatype else F.lit(None).cast("string")).alias("obj_datatype"),
    )


def _kind_triples(kind: str) -> Column:
    """Array of candidate triples for one entity kind (nulls filtered out)."""
    rules = KIND_RULES[kind]
    scalars: list[Column] = []
    list_arrays: list[Column] = []

    # rdf:type accumulation over the MRO + base kb:Entity (converter.py:67-85).
    for t in rules["types"] + [KB + "Entity"]:
        scalars.append(_triple(RDF_TYPE, F.lit(t), True, None))

    # kb_id -> rdfs:seeAlso self-link (kb_entities.py:15-23).
    scalars.append(_triple(RDFS_SEEALSO, _resolve(F.col("kb_id")), True, None))

    # source_document_uri -> kb:sourceDocument (kb_entities.py:32-40).
    scalars.append(F.when(
        F.col("source_document_uri").isNotNull(),
        _triple(KB_SOURCE_DOC, _resolve(F.col("source_document_uri")), True, None)))

    # Explicit label, else class fallback chain (converter.py:87,159-177):
    # a non-null label always emits; the fallback fires when the label is
    # null or blank, taking the first non-blank fallback field.
    scalars.append(F.when(F.col("label").isNotNull(),
                          _triple(RDFS_LABEL, F.col("label"), False, XSD_STRING)))
    fallback = F.lit(None).cast("string")
    for fb in reversed([f for f in rules["label_fallbacks"] if f != "label"]):
        fallback = F.when(
            F.col(fb).isNotNull() & (F.trim(_lexical(fb)) != ""), _lexical(fb)
        ).otherwise(fallback)
    label_blank = F.col("label").isNull() | (F.trim(F.col("label")) == "")
    scalars.append(F.when(label_blank & fallback.isNotNull(),
                          _triple(RDFS_LABEL, fallback, False, XSD_STRING)))

    for col, pred, datatype, is_obj, is_list in rules["fields"]:
        if is_list:
            # one triple per array element (converter.py:131-141)
            list_arrays.append(F.coalesce(
                F.transform(F.col(col), lambda x: F.struct(
                    F.lit(pred).alias("pred"), x.alias("obj"),
                    F.lit(False).alias("obj_is_uri"),
                    F.lit(datatype).alias("obj_datatype"))),
                F.array()))
        else:
            obj = _resolve(F.col(col)) if is_obj else _lexical(col)
            scalars.append(F.when(F.col(col).isNotNull(),
                                  _triple(pred, obj, is_obj, None if is_obj else datatype)))

    combined = F.array(*scalars)
    for lc in list_arrays:
        combined = F.concat(combined, lc)
    return F.filter(combined, lambda x: x.isNotNull())


def merge_entities(entities: DataFrame) -> DataFrame:
    """Collapse duplicate extractions of one KG node BEFORE triple
    explosion: group by (kind, kb_id, source doc), packing the variable
    fields into ONE struct and collect_list-ing it (a single cheap agg
    buffer instead of 25 collect_sets — measured ~1.6x on the agg stage).
    Per-field distinct value arrays are derived from the struct list
    afterward with JVM array functions.  Because every generated URI is
    document-scoped (uris.py), this merge is exactly rdflib's triple-set
    dedup, at one row per *entity* instead of one per *triple* in the
    shuffle (~30x fewer rows), and the explosion needs no further dedup.
    Group cardinality is bounded by the extractor-overlap count (<= 3
    duplicate extractions per logical element), so collect_list buffers
    stay tiny and the partial agg absorbs them map-side."""
    varying = [c for c in entities.columns
               if c not in ("kind", "kb_id", "source_document_uri")]
    packed = entities.select(
        "kind", "kb_id", "source_document_uri",
        F.struct(*varying).alias("e"))
    merged = packed.groupBy("kind", "kb_id", "source_document_uri") \
                   .agg(F.collect_list("e").alias("es"))
    def _getter(name):
        # NB: a default-arg lambda (lambda x, _f=name: ...) would be seen
        # by PySpark's HOF binder as a binary (element, index) lambda.
        return lambda x: x[name]

    field_cols = []
    for f in varying:
        if f == "headers":
            vals = F.array_distinct(F.flatten(F.filter(
                F.transform(F.col("es"), _getter("headers")),
                lambda v: v.isNotNull())))
        else:
            vals = F.array_distinct(F.filter(
                F.transform(F.col("es"), _getter(f)),
                lambda v: v.isNotNull()))
        field_cols.append(vals.alias(f))
    return merged.select("kind", "kb_id", "source_document_uri", *field_cols)


def _merged_lexical(col_name: str, x: Column) -> Column:
    if col_name in BOOL_COLUMNS:
        return F.when(x, "true").otherwise("false")
    if col_name in INT_COLUMNS:
        return x.cast("string")
    return x


def _kind_triples_merged(kind: str) -> Column:
    """_kind_triples over a merged (array-valued) entity row."""
    rules = KIND_RULES[kind]
    scalars: list[Column] = []
    arrays: list[Column] = []

    for t in rules["types"] + [KB + "Entity"]:
        scalars.append(_triple(RDF_TYPE, F.lit(t), True, None))
    scalars.append(_triple(RDFS_SEEALSO, _resolve(F.col("kb_id")), True, None))
    scalars.append(F.when(
        F.col("source_document_uri").isNotNull(),
        _triple(KB_SOURCE_DOC, _resolve(F.col("source_document_uri")), True, None)))

    # all non-null labels emit; class fallback fires only when none of them
    # is non-blank (converter.py:87,159-177 collapsed over the merged set)
    arrays.append(F.transform(
        F.col("label"), lambda x: F.struct(
            F.lit(RDFS_LABEL).alias("pred"), x.alias("obj"),
            F.lit(False).alias("obj_is_uri"),
            F.lit(XSD_STRING).alias("obj_datatype"))))
    has_label = F.exists(F.col("label"), lambda x: F.trim(x) != "")
    fallback = F.lit(None).cast("string")
    for fb in reversed([f for f in rules["label_fallbacks"] if f != "label"]):
        # try_element_at: the filtered fallback array is EMPTY whenever no
        # candidate is non-blank, and ANSI element_at throws on that
        # (surfaced by adversarial docs; goldens never hit it)
        first_ok = F.try_element_at(
            F.filter(F.transform(F.col(fb), lambda x: _merged_lexical(fb, x)),
                     lambda s: F.trim(s) != ""), F.lit(1))
        fallback = F.coalesce(first_ok, fallback)
    scalars.append(F.when(~has_label & fallback.isNotNull(),
                          _triple(RDFS_LABEL, fallback, False, XSD_STRING)))

    for col, pred, datatype, is_obj, is_list in rules["fields"]:
        values = F.col(col)   # merged: always an array (headers flattened)
        if is_obj:
            arrays.append(F.transform(values, lambda x: F.struct(
                F.lit(pred).alias("pred"), _resolve(x).alias("obj"),
                F.lit(True).alias("obj_is_uri"),
                F.lit(None).cast("string").alias("obj_datatype"))))
        else:
            arrays.append(F.transform(values, lambda x: F.struct(
                F.lit(pred).alias("pred"), _merged_lexical(col, x).alias("obj"),
                F.lit(False).alias("obj_is_uri"),
                F.lit(datatype).alias("obj_datatype"))))

    combined = F.array(*scalars)
    for arr in arrays:
        combined = F.concat(combined, F.coalesce(arr, F.array()))
    return F.filter(combined, lambda x: x.isNotNull())


def triples_from_merged(entities: DataFrame) -> DataFrame:
    """merge_entities + explosion; output is already duplicate-free."""
    return explode_merged(merge_entities(entities))


def _build_merged_case() -> Column:
    case = None
    for kind in KIND_RULES:
        branch = _kind_triples_merged(kind)
        case = F.when(F.col("kind") == kind, branch) if case is None \
            else case.when(F.col("kind") == kind, branch)
    return case


def explode_merged(merged: DataFrame) -> DataFrame:
    """Merged (array-valued) entities -> triples.  No dedup needed: the
    per-field arrays are already distinct."""
    case = _cached_case("merged", _build_merged_case)
    return (merged.select(
        _resolve(F.col("kb_id")).alias("subj"),
        F.col("source_document_uri").alias("source_doc"),
        F.explode(case).alias("t"))
        .select("subj", F.col("t.pred").alias("pred"), F.col("t.obj").alias("obj"),
                F.col("t.obj_is_uri").alias("obj_is_uri"),
                F.col("t.obj_datatype").alias("obj_datatype"), "source_doc"))


def triples_from_entities(entities: DataFrame) -> DataFrame:
    """Compile KIND_RULES into one exploded triple stream.

    Returns the TRIPLES schema: (subj, pred, obj, obj_is_uri, obj_datatype,
    source_doc).  Timestamp triples (schema:dateCreated/Modified) are not
    emitted — the reference's own comparison strips them
    (tests/test_specifications.py:59-77).
    """
    def _build_flat_case() -> Column:
        case = None
        for kind in KIND_RULES:
            branch = _kind_triples(kind)
            case = F.when(F.col("kind") == kind, branch) if case is None \
                else case.when(F.col("kind") == kind, branch)
        return case

    case = _cached_case("flat", _build_flat_case)
    exploded = (
        entities
        .select(
            _resolve(F.col("kb_id")).alias("subj"),
            F.col("source_document_uri").alias("source_doc"),
            F.explode(case).alias("t"),
        )
        .select(
            "subj",
            F.col("t.pred").alias("pred"),
            F.col("t.obj").alias("obj"),
            F.col("t.obj_is_uri").alias("obj_is_uri"),
            F.col("t.obj_datatype").alias("obj_datatype"),
            "source_doc",
        )
    )
    # Graph set semantics.  source_doc leads the keys: URIs are doc-scoped
    # (uris.py), so duplicates only collide within a document and the
    # shuffle hash-distributes by document first.
    return exploded.dropDuplicates(
        ["source_doc", "subj", "pred", "obj", "obj_is_uri", "obj_datatype"])
