import importlib.util
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    from knowledgebase_processor_spark.pipeline import session
    s = session("kgp-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
                shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def note_corpus():
    """The benchmark's seeded markdown-note generator, loaded by file
    path: ``perfbench`` is not part of the shipped package."""
    spec = importlib.util.spec_from_file_location(
        "_perfbench_corpus", os.path.join(ROOT, "perfbench", "corpus.py"))
    corpus = sys.modules[spec.name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(corpus)
    return corpus


@pytest.fixture(scope="session")
def kg_pages(spark, note_corpus):
    """web_pages rows for the kg_job tests: the reference fixture pages
    when the reference specs are present, else 24 seeded notes from the
    benchmark's markdown generator."""
    from knowledgebase_processor_spark.goldens import SPECS_DIR
    from knowledgebase_processor_spark.sources.web_pages import (
        fixture_pages, pages_from_notes)
    if SPECS_DIR.is_dir():
        return fixture_pages(spark)
    return pages_from_notes(
        spark, note_corpus.generate(7, 24, sections=2, links_per_para=2))
