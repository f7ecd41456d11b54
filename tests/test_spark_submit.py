"""End-to-end spark-submit --py-files smoke: the EXACT production
invocation shape from the north rule, against a fresh JVM — catches
packaging bugs (missing vendored deps in the zip, imports that only
work from the repo cwd) that in-process tests mask."""

import importlib.util
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_pipeline_module():
    spec = importlib.util.spec_from_file_location(
        "_run_pipeline", os.path.join(ROOT, "scripts", "run_pipeline.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_fixture_corpus_without_any_source_exits_nonzero(tmp_path, monkeypatch):
    mod = _run_pipeline_module()
    monkeypatch.setattr(mod, "ROOT", str(tmp_path))   # no perfbench/ here
    with pytest.raises(SystemExit) as e:
        mod.seeded_notes(24)
    assert e.value.code not in (0, None)
    assert "corpus.py" in str(e.value.code)


def test_run_pipeline_rejects_copies_below_one(tmp_path, monkeypatch):
    monkeypatch.setattr(sys, "argv", [
        "run_pipeline.py", "--fixture-corpus", "--copies", "0",
        "--output", str(tmp_path / "out")])
    with pytest.raises(SystemExit) as e:
        _run_pipeline_module().main()
    assert e.value.code == 2
    assert not (tmp_path / "out").exists()


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    zip_path = os.path.join(ROOT, "dist", "kgp_spark.zip")
    subprocess.run([sys.executable,
                    os.path.join(ROOT, "scripts", "package_pyfiles.py")],
                   check=True, capture_output=True)
    assert os.path.exists(zip_path)

    out = str(tmp_path / "kgrun")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)          # the zip must be self-sufficient
    r = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--py-files", zip_path,
         "--conf", "spark.sql.adaptive.enabled=true",
         "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
         "--conf", "spark.sql.shuffle.partitions=4",
         os.path.join(ROOT, "scripts", "run_pipeline.py"),
         "--fixture-corpus", "--output", out],
        capture_output=True, text=True, timeout=900, env=env,
        cwd=str(tmp_path))               # NOT the repo cwd
    assert r.returncode == 0, r.stderr[-3000:]
    metrics = json.loads(r.stdout.strip().splitlines()[-1])
    assert metrics["n_triples"] > 0 and metrics["n_entities"] > 0
    # the materialized table is on disk and readable
    assert os.path.exists(os.path.join(out, "kg_triples"))
