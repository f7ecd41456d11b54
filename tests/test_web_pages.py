"""web_pages source: deterministic synthesis + the byte-identical-text
invariant (BASELINE.json input_hint: extracted text per url must equal the
reference reader's Document.content — reader/reader.py:120 returns raw
file content unchanged)."""

from pathlib import Path

from pyspark.sql import functions as F

from knowledgebase_processor_spark.goldens import spec_cases
from knowledgebase_processor_spark.pipeline import web_pages_to_triples
from knowledgebase_processor_spark.sources.web_pages import (
    extract_text, fixture_pages, pages_from_notes, pages_to_documents,
)


def test_byte_identical_text_per_url(spark):
    pages = fixture_pages(spark)
    extracted = {r["url"]: r["text"]
                 for r in extract_text(pages).select("url", "text").collect()}
    for doc_id, md, _ in spec_cases():
        name = doc_id.split("/", 1)[1]
        url = f"https://kb.example.org/{name}.md"
        raw = Path(md).read_text(encoding="utf-8")
        assert extracted[url] == raw, f"text not byte-identical for {url}"


def test_extract_text_from_html_envelope(spark):
    pages = fixture_pages(spark).withColumn("text", F.lit(None).cast("string"))
    out = extract_text(pages).select("url", "text").collect()
    originals = {f"https://kb.example.org/{d.split('/', 1)[1]}.md":
                 Path(md).read_text(encoding="utf-8")
                 for d, md, _ in spec_cases()}
    for r in out:
        assert r["text"] == originals[r["url"]]


def test_synthesis_is_deterministic(spark):
    a = fixture_pages(spark, copies=2).orderBy("url").collect()
    b = fixture_pages(spark, copies=2).orderBy("url").collect()
    assert a == b
    assert len(a) == 2 * len(spec_cases())


def test_web_pages_pipeline_end_to_end(kg_pages):
    pages = kg_pages.limit(10)
    triples = web_pages_to_triples(pages)
    n = triples.count()
    assert n > 0
    # every subject's source document is a url-rooted node
    docs = pages_to_documents(pages)
    assert docs.filter(~F.col("doc_id").startswith("https://")).count() == 0


def test_pages_from_notes_round_trip(spark, note_corpus):
    notes = note_corpus.generate(3, 6, sections=2)
    pages = pages_from_notes(spark, notes)
    rows = pages.orderBy("warc_ts").collect()
    assert [r["url"] for r in rows] == [n.url for n in notes]
    assert [r["text"] for r in rows] == [n.text for n in notes]
    assert len({r["warc_ts"] for r in rows}) == len(notes)
    # the html envelope alone gives back each note's text byte for byte
    stripped = extract_text(pages.withColumn("text", F.lit(None).cast("string")))
    assert {r["url"]: r["text"] for r in stripped.collect()} == \
        {n.url: n.text for n in notes}
