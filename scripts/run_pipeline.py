#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Production invocation (north rule: "runs via spark-submit --py-files on a
multi-executor cluster"):

    python scripts/package_pyfiles.py            # -> dist/kgp_spark.zip
    spark-submit \\
        --master <cluster> \\
        --py-files dist/kgp_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.adaptive.skewJoin.enabled=true \\
        --conf spark.sql.execution.arrow.pyspark.enabled=true \\
        scripts/run_pipeline.py \\
        --input  <web_pages parquet/iceberg path> \\
        --output <work dir>

Local run (same code path):

    python scripts/run_pipeline.py --fixture-corpus --output /tmp/kgrun

``--fixture-corpus`` reads the reference fixture documents when the
reference specs (``goldens.SPECS_DIR``) hold any, each tiled ``--copies``
times; otherwise it reads 24 x ``--copies`` seeded notes from the
benchmark's generator ``perfbench/corpus.py``, loaded by file path on the
driver (executors only see the rows, so they still import only from the
zip).  With neither present it exits non-zero instead of building an empty
KG.  The source used is printed to stderr; stdout's last line is the
metrics JSON.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def seeded_notes(n: int) -> list:
    """``n`` notes from ``perfbench/corpus.py`` (seed 7, the parameters of
    the tests' ``kg_pages``); exits non-zero when the generator is absent."""
    path = os.path.join(ROOT, "perfbench", "corpus.py")
    if not os.path.exists(path):
        sys.exit("--fixture-corpus: the reference specs hold no fixture "
                 f"documents and the note generator {path} is absent")
    spec = importlib.util.spec_from_file_location("_perfbench_corpus", path)
    corpus = sys.modules[spec.name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(corpus)
    return corpus.generate(7, n, sections=2, links_per_para=2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="web_pages table path (url, warc_ts, html, text, lang)")
    ap.add_argument("--output", required=True, help="work/output directory")
    ap.add_argument("--fixture-corpus", action="store_true",
                    help="use the reference fixture documents, or seeded "
                         "notes from perfbench/corpus.py where the reference "
                         "specs are absent, instead of --input")
    ap.add_argument("--copies", type=int, default=1,
                    help="--fixture-corpus scale: each reference document "
                         "tiled this many times, or 24 x this many seeded notes")
    ap.add_argument("--force", action="store_true", help="ignore checkpoints")
    args = ap.parse_args()
    if args.copies < 1:
        ap.error("--copies must be at least 1")
    if not (args.fixture_corpus or args.input):
        ap.error("--input or --fixture-corpus required")

    from knowledgebase_processor_spark.goldens import spec_cases

    notes = None
    if args.fixture_corpus:
        n_cases = len(spec_cases())
        if n_cases:
            print(f"--fixture-corpus: {n_cases} reference fixture documents "
                  f"x {args.copies} copies", file=sys.stderr)
        else:
            notes = seeded_notes(24 * args.copies)
            print(f"--fixture-corpus: {len(notes)} seeded notes "
                  "(reference specs absent)", file=sys.stderr)

    from pyspark.sql import SparkSession

    from knowledgebase_processor_spark import kg_job
    from knowledgebase_processor_spark.sources.web_pages import (
        fixture_pages, latest_snapshot, pages_from_notes,
    )

    # Under spark-submit the session/config comes from the submit command;
    # getOrCreate attaches to it.  Standalone, fall back to a local session.
    spark = SparkSession.builder.appName("kgp-pipeline").getOrCreate()

    if not args.fixture_corpus:
        pages = spark.read.parquet(args.input)
    elif notes is None:
        pages = fixture_pages(spark, copies=args.copies)
    else:
        pages = pages_from_notes(spark, notes)

    pages = latest_snapshot(pages)
    metrics = kg_job.run(spark, pages, args.output, force=args.force)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
