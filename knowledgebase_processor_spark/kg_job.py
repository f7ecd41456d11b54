"""The end-to-end north-star job: web pages -> canonicalized KG tables.

One orchestration function wiring every stage of the BASELINE.json
north_star together, with per-stage parquet checkpoints (resume from the
last materialized table), per-partition lineage rows, and run metrics:

  0. url canonical redirect-map pointer doubling -> page re-key (optional)
  1. extract      web_pages -> pre-merged entities   (Arrow UDF, no shuffle)
  2. resolve      wikilink -> document broadcast join
  3. mentions     alias-dictionary mention detection (optional)
  4. triples      SQL explosion (duplicate-free by construction)
  5. canonical    coreference edges -> connected components -> canonical ids
  6. materialize  url-hash bucketed MERGE upsert of triples + entity table

Each checkpointed stage is declared once, as one ``stage(name, build,
metric)`` call: ``sinks.checkpoint_stage`` runs ``build`` only when the
stage has no finished checkpoint (or ``force`` is set), and the stage's
row count lands in the run metrics either way.  Re-running
with the same ``work_dir`` therefore skips every finished stage — kill
the job after stage 3 and the next invocation starts at stage 4 — and
rewrites no checkpoint.  Only the stage-6 upsert runs every time; it is
idempotent.
"""

from __future__ import annotations

import importlib
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import sinks
from .operators.components import (
    canonical_entities, connected_components, coreference_edges,
)
from .operators.extract_udf import extract_merged_entities_df
from .operators.mentions import detect_mentions, mentions_to_entities
from .operators.triples import explode_merged, triples_from_entities
from .operators.wikilink_resolve import documents_dimension, resolve_wikilinks_merged
from .sources.web_pages import pages_to_documents

# Head-entity-skew salt of the coreference member->representative join
# (components.coreference_edges): a head alias's members spread over this
# many reducers instead of one.  The output is salt-invariant.
COREF_SALT = 16

# Serialization exports — the reference's download surface
# (webapp/backend/main.py:254-281 offers turtle | json-ld | xml via
# rdflib.serialize): format -> (module, per-document emitter).
_EXPORTERS = {"turtle": ("sinks_ttl", "to_turtle"),
              "json-ld": ("sinks_rdf", "to_jsonld"),
              "xml": ("sinks_rdf", "to_rdfxml")}


def run(spark: SparkSession, pages: DataFrame, work_dir: str,
        alias_dict: dict | None = None, force: bool = False,
        openie: bool = False,
        dedup: bool = False, rewrite_canonical: bool = False,
        entailment: bool = False,
        rule_completion: bool = False, rule_min_support: int = 2,
        rule_min_conf_ppm: int = 600000,
        url_redirects: DataFrame | None = None,
        ifp_canonical: bool = False,
        export_formats: tuple[str, ...] | list[str] | None = None) -> dict:
    """Run (or resume) the full pipeline; returns run metrics.

    Every option is validated before the first stage directory is
    written.

    ``openie=True`` adds the OpenIE-style SVO relation stage
    (operators/openie.py): its triples land in the same table under the
    ``kb:rel/`` predicate namespace, disjoint from the reference's
    structural predicates, so the reference-parity P/R gate is unaffected
    (filter one predicate prefix to compare).

    ``dedup=True`` inserts stage 0: corpus dedup (exact fingerprint →
    banded MinHash LSH → Jaccard verify → connected components →
    canonical election, operators/dedup.dedup_corpus) BEFORE extraction,
    keeping one canonical page per duplicate cluster.  At crawl scale a
    large fraction of pages are boilerplate re-crawls; dropping them
    ahead of the Arrow extraction stage is the single biggest cost lever
    the job has.  Checkpointed like every other stage.

    Documents whose extraction raises become ``error`` rows of the
    ``entities`` table (counted in ``lineage_extract.n_errors``); they
    emit no triple and no canonical entity.
    """
    for fmt in export_formats or ():
        if fmt not in _EXPORTERS:
            raise ValueError(f"unknown export format {fmt!r}; "
                             f"supported: {sorted(_EXPORTERS)}")
    t_start = time.time()
    metrics: dict[str, float] = {}

    def stage(name, build, metric=None, bucket_key=None):
        df = sinks.checkpoint_stage(build, os.path.join(work_dir, name), spark,
                                    force, bucket_key=bucket_key)
        if metric:
            metrics[metric] = df.count()
        return df

    # 00: url canonicalization through the crawl's redirect map
    # (optional).  ``url_redirects`` is the (src, dst) 3xx log; pointer
    # doubling (operators/redirects.py) collapses chains, the RESOLVED
    # mapping checkpoints (it is the small side — ~10% of a crawl), and
    # pages re-key to their final url so alternate entry urls of the
    # same destination unify into one document id downstream (dedup and
    # the wikilink registry then see one page, not N).  Redirect loops
    # stay unresolved and leave their pages' urls untouched.  The join
    # is a plain shuffle equi-join on url — the mapping can be billions
    # of rows, so no broadcast; AQE splits hot destinations.
    if url_redirects is not None:
        from .operators.redirects import resolve_redirects
        mapping = stage("url_canonical", lambda: (
            resolve_redirects(url_redirects)
            .filter(F.col("resolved")).select("url", "final_url")),
            "n_redirects_resolved")
        pages = (pages.join(mapping, "url", "left")
                 .withColumn("url", F.coalesce("final_url", "url"))
                 .drop("final_url"))

    docs = pages_to_documents(pages)

    # 0: corpus dedup ahead of extraction (optional)
    if dedup:
        from .operators.dedup import dedup_corpus
        keep = stage("dedup_keep", lambda: (
            dedup_corpus(docs, "doc_id", "text")
            .filter(F.col("doc_id") == F.col("canonical_id"))
            .select("doc_id")), "n_pages_kept")
        # the input count is persisted beside the keep-list (underscore
        # name: ignored by the parquet reader) so a checkpoint RESUME
        # does not re-scan and re-parse the whole crawl input just to
        # fill this metric
        meta_f = os.path.join(work_dir, "dedup_keep", "_n_total")
        if not os.path.exists(meta_f):
            with open(meta_f, "w") as fh:
                fh.write(str(docs.count()))
        with open(meta_f) as fh:
            metrics["n_pages_in"] = int(fh.read())
        docs = docs.join(keep, "doc_id")

    # 1+2: extraction (pre-merged) + wikilink resolution
    def extract():
        merged = extract_merged_entities_df(docs, "doc_id", "text", "path", "title")
        return resolve_wikilinks_merged(
            merged, documents_dimension(docs, "doc_id", "path"))
    entities = stage("entities", extract, "n_entities",
                     bucket_key="source_document_uri")

    # lineage for the extraction stage (per-partition counts, error rows
    # and key ranges)
    stage("lineage_extract",
          lambda: sinks.lineage(entities, "extract", key="source_document_uri"))

    # 3: mention detection (its triples are emitted separately)
    mentions = None
    if alias_dict:
        mentions = stage("mention_entities", lambda: mentions_to_entities(
            detect_mentions(docs, alias_dict)), "n_mentions")

    # 3b: OpenIE-style SVO relations (north-star addition; kb:rel/ ns)
    openie_df = None
    if openie:
        from .operators.openie import openie_to_kg_triples, openie_triples
        openie_df = stage("openie", lambda: openie_to_kg_triples(
            openie_triples(docs)), "n_openie")

    # 4: triples — the stage name encodes the openie flag so resuming a
    # work_dir built without OpenIE (or vice versa) recomputes the union
    # instead of silently serving the other configuration's table
    def emit():
        triples = explode_merged(entities)
        if mentions is not None:
            triples = triples.unionByName(triples_from_entities(mentions))
        if openie_df is not None:
            triples = triples.unionByName(openie_df)
        return triples
    triples = stage("triples_openie" if openie else "triples", emit,
                    "n_triples", bucket_key="source_doc")

    # 5: canonicalization — coreference edges over wikilinks/mentions,
    # label-propagation connected components, canonical entity table
    def canonicalize():
        edge_src = entities.filter(F.col("kind") == "wikilink").select(
            "kind", "kb_id", "source_document_uri",
            F.try_element_at("resolved_document_uri", F.lit(1)).alias("resolved_document_uri"),
            F.lit(None).cast("string").alias("label"))
        if mentions is not None:
            edge_src = edge_src.unionByName(
                mentions.select("kind", "kb_id", "source_document_uri",
                                "resolved_document_uri", "label"))
        labels = connected_components(coreference_edges(edge_src, salt=COREF_SALT))
        return canonical_entities(
            entities.filter(F.col("kind") != "error")
            .select("kind", "kb_id", "source_document_uri"), labels)
    canonical = stage("canonical", canonicalize)
    metrics["n_canonical_clusters"] = canonical.select("canonical_id").distinct().count()

    # 6: materialize deduplicated triple table via idempotent MERGE upsert.
    # When the session has an Iceberg catalog (production), the upsert is
    # the literal doc-scoped DELETE+INSERT pair against table
    # <work_dir-basename>.kg_triples; this sandbox has no Iceberg jars,
    # so merge_upsert_iceberg returns False and the parquet
    # bucket-overwrite emulation (same idempotent semantics) runs.
    flat = triples.drop("part_bucket")
    if not sinks.merge_upsert_iceberg(spark, flat, "kg.kg_triples",
                                      key="source_doc"):
        sinks.merge_upsert(spark, flat, os.path.join(work_dir, "kg_triples"),
                           key="source_doc")

    # 6b: canonical-id triple table — the stage-5 coreference labels
    # rewrite subjects/URI objects to their cluster representatives and
    # the duplicate assertions distinct aliases carried coalesce away
    # (operators/sameas.rewrite_with_labels; the north rule's
    # "deduplicated entity/relation tables").
    if rewrite_canonical:
        from .operators.sameas import rewrite_with_labels
        stage("kg_triples_canonical", lambda: rewrite_with_labels(
            flat, canonical.select(F.col("kb_id").alias("node"),
                                   F.col("canonical_id").alias("canonical"))),
            "n_canonical_triples")

    # 6b': IFP-driven canonicalization (optional): inverse-functional
    # predicate agreement (shared email/homepage objects,
    # operators/sameas.ifp_sameas_candidates — capped buckets, so a
    # boilerplate object never goes quadratic) yields sameAs edges that
    # the CC + min-election + rewrite pipeline of canonicalize_triples
    # closes over — the data-driven complement of the mention/wikilink
    # coreference labels in 6b.
    if ifp_canonical:
        from .operators.sameas import (
            canonicalize_triples, ifp_sameas_candidates,
        )
        stage("kg_triples_ifp", lambda: canonicalize_triples(
            flat, ifp_sameas_candidates(flat.select("subj", "pred", "obj"))
            .select(F.col("subj_a").alias("src"), F.col("subj_b").alias("dst"))),
            "n_ifp_triples")

    # 6c: RDFS entailment materialization (operators/rdfs.rdfs_closure):
    # schema triples close on the tiny side, instance triples get one
    # broadcast pass — consumers query inherited types without per-query
    # reasoning.  Derived triples have no single source document, so the
    # entailed table is (subj, pred, obj) only, beside the doc-scoped one.
    if entailment:
        from .operators.rdfs import rdfs_closure
        stage("kg_triples_entailed", lambda: rdfs_closure(
            flat.select("subj", "pred", "obj", "obj_is_uri")), "n_entailed")

    # 6d: rule-based KB completion (operators/rulemine.py): AMIE-lite
    # path rules mined from the materialized graph, confident-rule
    # body instantiations whose head is missing become the INFERRED
    # triple table (with rule provenance + conf_ppm) beside the
    # asserted one — the cheap densifier before any learned link
    # predictor.
    if rule_completion:
        from .operators.rulemine import apply_rules, mine_path_rules

        def infer():
            base = flat.select("subj", "pred", "obj")
            rules = mine_path_rules(base, min_support=rule_min_support)
            return apply_rules(base, rules, min_conf_ppm=rule_min_conf_ppm)
        stage("kg_triples_inferred", infer, "n_inferred")

    # 7: serialization exports, reachable from the north-star job, not
    # just the operator API.  Each format is a per-document (source_doc,
    # payload) table; the three emitters are isomorphism-tested against
    # each other in tests/test_sinks_rdf.py.  At scale the table IS the
    # deliverable (one row per doc, written distributed); fixture-sized
    # runs can fan out files with sinks_ttl.write_turtle_files.
    for fmt in export_formats or ():
        mod_name, fn_name = _EXPORTERS[fmt]
        name = f"export_{fmt.replace('-', '_')}"
        stage(name, lambda: getattr(importlib.import_module(
            f".{mod_name}", __package__), fn_name)(flat), f"n_{name}")

    metrics["wall_s"] = round(time.time() - t_start, 3)
    sinks.write_metrics(spark, os.path.join(work_dir, "metrics"), "kg_job",
                        {k: float(v) for k, v in metrics.items()})
    return metrics
