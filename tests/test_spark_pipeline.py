"""End-to-end Spark pipeline vs golden TTLs — the primary correctness gate.

All 66 fixture documents go through ONE DataFrame job (mapInArrow
extraction -> SQL triple emission -> dedup), then per-document triple sets
are compared against the goldens exactly like the reference's own
isomorphism tests (tests/test_specifications.py:80-128; set equality
suffices — no blank nodes in the goldens).
"""

import pytest

from knowledgebase_processor_spark.goldens import SPECS_DIR, load_golden, spec_cases
from knowledgebase_processor_spark.pipeline import documents_to_triples

CASES = spec_cases()
CORPUS_KINDS_PREDS = None  # corpus handled separately below
needs_reference = pytest.mark.skipif(
    not SPECS_DIR.is_dir(), reason=f"reference specs absent ({SPECS_DIR})")


@pytest.fixture(scope="module")
def triples_by_doc(spark):
    docs = spark.createDataFrame(
        [(doc_id, md.read_text(encoding="utf-8")) for doc_id, md, _ in CASES],
        "doc_id string, text string",
    )
    out = documents_to_triples(docs).collect()
    by_doc = {}
    for r in out:
        flag = "uri" if r.obj_is_uri else r.obj_datatype
        by_doc.setdefault(r.source_doc, set()).add((r.subj, r.pred, r.obj, flag))
    return by_doc


@pytest.mark.parametrize(
    "doc_id,md,ttl",
    [c for c in CASES if c[0].startswith("test_cases/")],
    ids=[c[0] for c in CASES if c[0].startswith("test_cases/")])
def test_spark_unit_case_exact(triples_by_doc, doc_id, md, ttl):
    expected = load_golden(ttl)
    got = triples_by_doc.get(doc_id, set())
    assert got == expected, (
        f"extra={sorted(got - expected)[:5]} missing={sorted(expected - got)[:5]}")


@needs_reference
def test_spark_corpus_aggregate_pr(triples_by_doc):
    corpus = [c for c in CASES if c[0].startswith("test_corpus/")]
    corpus_kinds = {"Document", "TodoItem", "WikiLink"}
    inter = exp_n = got_n = 0
    for doc_id, _, ttl in corpus:
        expected = load_golden(ttl)
        got_all = triples_by_doc.get(doc_id, set())
        # project to the kinds the stale corpus goldens contain: keep
        # subjects whose rdf:type intersects the corpus kinds
        keep = {s for (s, p, o, f) in got_all
                if p.endswith("#type") and o.rsplit("#", 1)[-1] in corpus_kinds}
        got = {t for t in got_all if t[0] in keep}
        inter += len(expected & got)
        exp_n += len(expected)
        got_n += len(got)
    precision, recall = inter / got_n, inter / exp_n
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)


def test_spark_matches_python_reference_impl(spark, triples_by_doc):
    """The SQL emitter and the pure-Python oracle agree triple-for-triple."""
    from knowledgebase_processor_spark.extract.core import extract_entities
    from knowledgebase_processor_spark.extract.triples_py import entities_triples

    for doc_id, md, _ in CASES[:10]:
        ents = extract_entities(doc_id, md.read_text(encoding="utf-8"))
        py = entities_triples(ents)
        assert triples_by_doc.get(doc_id, set()) == py, doc_id


def test_session_leaves_local_dirs_to_spark_local_dirs(monkeypatch):
    """SPARK_LOCAL_DIRS overrides spark.local.dir, so with it set the
    session makes no directory and sets no spark.local.dir; without it
    the session picks its tmpfs dir."""
    import os
    import types

    from knowledgebase_processor_spark import pipeline

    class Builder:
        def __init__(self):
            self.conf = {}

        def appName(self, name):
            return self

        def master(self, master):
            return self

        def config(self, key, value):
            self.conf[key] = value
            return self

        def getOrCreate(self):
            return self.conf

    def session():
        monkeypatch.setattr(pipeline, "SparkSession",
                            types.SimpleNamespace(builder=Builder()))
        return pipeline.session(cpus=2)

    made = []
    monkeypatch.setattr(os, "makedirs", lambda path, **kw: made.append(path))
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))

    monkeypatch.setenv("SPARK_LOCAL_DIRS", "/somewhere/spark-local")
    conf = session()
    assert "spark.local.dir" not in conf and made == []
    assert conf["spark.sql.shuffle.partitions"] == "2"

    monkeypatch.delenv("SPARK_LOCAL_DIRS")
    conf = session()
    assert made and conf["spark.local.dir"] == made[0]
    assert made[0].endswith("kgp-spark-local")
