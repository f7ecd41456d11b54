"""Property-based robustness (hypothesis): the extraction core must never
crash on arbitrary text, always produce well-formed entities, and the
pre-merged path must equal the flat path's deduplicated triple set."""

import re
import unicodedata

import pytest
from hypothesis import given, settings, strategies as st

from knowledgebase_processor_spark.extract.core import (
    ENTITY_FIELDS, extract_entities, extract_entities_merged,
)
from knowledgebase_processor_spark.extract.triples_py import entities_triples
from knowledgebase_processor_spark.rdf_schema import KIND_RULES
from knowledgebase_processor_spark.uris import normalize_for_id, resolve_uri

# Markdown-ish soup: text runs + the syntax fragments the extractors react to
_FRAGMENTS = st.sampled_from([
    "# ", "## ", "###### ", "- ", "- [ ] ", "- [x] ", "* ", "1. ",
    "```", "```python", "> ", ">> ", "[[", "]]", "|", "---", "+++",
    "[", "]", "(", ")", "#tag", "@cat/x", "\n", "\n\n", "    ", "\t",
])
_WORDS = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=12)
_DOC = st.lists(st.one_of(_FRAGMENTS, _WORDS), min_size=0, max_size=60).map("".join)


@settings(max_examples=200, deadline=None)
@given(_DOC)
def test_extraction_never_crashes_and_is_well_formed(text):
    ents = extract_entities("prop/doc", text)
    assert ents, "document entity must always exist"
    assert ents[0]["kind"] == "document"
    for e in ents:
        assert set(e) == set(ENTITY_FIELDS)
        assert e["kind"] in KIND_RULES
        assert e["kb_id"]
        # every kb_id resolves to an absolute IRI
        assert "://" in resolve_uri(e["kb_id"])


@settings(max_examples=200, deadline=None)
@given(_DOC)
def test_merged_representation_is_lossless(text):
    """Per (kind, kb_id): each merged field is exactly the ordered-distinct
    non-null values of the flat extraction — no value invented or lost."""
    flat = extract_entities("prop/doc", text)
    merged = {(m["kind"], m["kb_id"]): m
              for m in extract_entities_merged("prop/doc", text)}
    expected: dict = {}
    for e in flat:
        slot = expected.setdefault((e["kind"], e["kb_id"]), {})
        for f in ENTITY_FIELDS:
            if f in ("kind", "kb_id", "source_document_uri") or e[f] is None:
                continue
            vals = e[f] if f == "headers" else [e[f]]
            for v in vals:
                slot.setdefault(f, [])
                if v not in slot[f]:
                    slot[f].append(v)
    assert set(merged) == set(expected)
    for key, fields in expected.items():
        for f, vals in fields.items():
            assert merged[key][f] == vals, (key, f)


@settings(max_examples=100, deadline=None)
@given(_DOC, _DOC)
def test_deterministic(a, b):
    assert extract_entities("d", a) == extract_entities("d", a)
    ta = entities_triples(extract_entities("d", a))
    tb = entities_triples(extract_entities("d", b))
    if a == b:
        assert ta == tb


@settings(max_examples=500, deadline=None)
@given(st.one_of(_WORDS, st.text(alphabet="aZ9-_ .\t/é\u00bd\ufb01", max_size=30)))
def test_normalize_for_id_matches_two_pass_form(text):
    # the id normalization's original form: every non-alphanumeric -> "-",
    # then hyphen runs -> one "-"
    two_pass = re.sub(r"-+", "-", re.sub(
        r"[^a-z0-9]", "-", unicodedata.normalize("NFKD", text).lower()))
    assert normalize_for_id(text) == two_pass.strip("-")


# --- crawl-input kernels (html extraction, url canonicalization, openie) ---

_HTML_BITS = st.sampled_from([
    "<p>", "</p>", "<div>", "</div>", "<script>", "</script>", "<head>",
    "</head>", "<body>", "<form>", "</form>", "<a href='x'>", "</a>",
    "<pre>", "</pre>", "<nav>", "</nav>", "<br>", "<!--", "-->", "&amp;",
    "&#x27;", "<", ">", "\"", "'", "\n",
])
_HTML = st.lists(st.one_of(_HTML_BITS, _WORDS), min_size=0, max_size=50).map("".join)


@settings(max_examples=200, deadline=None)
@given(_HTML)
def test_html_extraction_never_crashes_and_is_deterministic(html):
    from knowledgebase_processor_spark.sources.html_extract import extract_main_text
    out = extract_main_text(html)
    assert isinstance(out, str)
    assert out == extract_main_text(html)
    # utf-8 bytes round trip through the binary-column path
    assert extract_main_text(html.encode("utf-8")) == out


_URL = st.one_of(
    st.text(min_size=0, max_size=40),
    st.builds(
        lambda h, p, q: f"https://{h}/{p}" + (f"?{q}" if q else ""),
        st.from_regex(r"[a-zA-Z0-9.-]{1,12}", fullmatch=True),
        st.from_regex(r"[a-zA-Z0-9/_%.-]{0,20}", fullmatch=True),
        st.from_regex(r"[a-zA-Z0-9=&_]{0,20}", fullmatch=True)))


@settings(max_examples=100, deadline=None)
@given(st.lists(_URL, min_size=1, max_size=8, unique=True))
def test_canonical_url_idempotent(_url_pool, urls):
    # canonical(canonical(u)) == canonical(u): canonicalization must be a
    # projection, or recrawl dedup diverges between passes.  Hypothesis
    # only accumulates the generated urls here; the two-job-per-example
    # Spark check runs ONCE over the whole pool in
    # test_canonical_url_idempotent_spark below (two Spark jobs total
    # instead of ~200).
    _url_pool.update(urls)


@pytest.fixture(scope="module")
def _url_pool():
    return set()


def test_canonical_url_idempotent_spark(spark, _url_pool):
    from pyspark.sql import functions as F

    from knowledgebase_processor_spark.functions.text import canonical_url
    urls = sorted(_url_pool) or ["https://example.org/a?b=1"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    mismatches = (df.select(
        F.col("url"),
        canonical_url(F.col("url")).alias("once"),
        canonical_url(canonical_url(F.col("url"))).alias("twice"))
        .filter(F.col("once") != F.col("twice"))
        .collect())
    assert mismatches == []


def test_regex_bombs_complete_quickly():
    """Pathological inputs that once drove the link/table regexes
    quadratic (73s and 43s respectively) must stay near-linear: every
    '[' / '(' / '|' is a candidate match start, so unbounded character
    classes re-scan the whole tail per failed start."""
    import time

    from knowledgebase_processor_spark.extract.core import extract_entities_merged
    from knowledgebase_processor_spark.operators.metadata import (
        parse_document_metadata)

    t0 = time.perf_counter()
    parse_document_metadata("d", "[" * 100_000, "p.md")
    parse_document_metadata("d", "(" * 100_000 + ", 2024", "p.md")
    extract_entities_merged("d", "|" + "a|" * 100_000)
    assert time.perf_counter() - t0 < 30


def test_pii_patterns_are_bounded():
    # unbounded email local-part / phone quantifiers went O(n^2) on long
    # dot/digit runs (200s+ measured); RFC-style bounds keep them linear
    import re
    import time

    from knowledgebase_processor_spark.functions.text import (
        PII_EMAIL, PII_PHONE)
    t0 = time.perf_counter()
    for text in ("1" + "." * 200_000, "1234567890 " * 50_000):
        re.findall(PII_EMAIL, text)
        re.findall(PII_PHONE, text)
    assert time.perf_counter() - t0 < 10
    assert re.search(PII_EMAIL, "write a.b+c@example.co.uk now")
    assert re.search(PII_PHONE, "+1 (555) 123-4567")


def test_yaml_frontmatter_bombs_are_inert():
    """A billion-laughs alias bomb (400 bytes -> gigabytes under plain
    safe_load) and multi-MB frontmatter must parse to nothing in
    milliseconds, while normal frontmatter still parses."""
    import time

    from knowledgebase_processor_spark.operators.metadata import (
        parse_document_metadata)

    bomb = "---\n" + "a: &a [x,x,x,x,x,x,x,x,x]\n" + "\n".join(
        f"{chr(98+i)}: &{chr(98+i)} ["
        + ",".join(f"*{chr(97+i)}" for _ in range(9)) + "]"
        for i in range(8)) + "\n---\nbody"
    t0 = time.perf_counter()
    m = parse_document_metadata("d", bomb, "p.md")
    big = parse_document_metadata("d", "---\n" + "k: v\n" * 500_000 + "---\nb",
                                  "p.md")
    assert time.perf_counter() - t0 < 10
    assert m["fm_custom"] in (None, "{}") and big["fm_custom"] in (None, "{}")
    ok = parse_document_metadata("d", "---\ntitle: T\ntags: [a]\n---\nb", "p.md")
    assert ok["title"] == "T" and ok["tags"] == ["a"]

    # The reader-style path (derive_title -> _reader_frontmatter) must be
    # equally inert: a bomb whose fence contains the token 'title' takes
    # the title fast path on ANY stem, and a generic stem (index.md)
    # forces the parse even without the token.  Both previously went
    # through plain yaml.safe_load and expanded the aliases.
    bomb_title = bomb.replace("a: &a", "title: t\na: &a", 1)
    t0 = time.perf_counter()
    mt = parse_document_metadata("d", bomb_title, "p.md")
    mi = parse_document_metadata("d", bomb, "index.md")
    assert time.perf_counter() - t0 < 10
    # alias parse fails -> reader sees no frontmatter -> stem fallback
    assert mt["title"] == "p" and mi["title"] == "index"
