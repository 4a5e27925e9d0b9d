"""Corrupt-input-file contract: audit first, then read with
ignoreCorruptFiles, reconcile counts — no silent document loss."""

import os
from pathlib import Path

import pytest

from soda_core_spark.sources.tables import corrupt_file_audit
from soda_core_spark.sources.webtext_gen import write_web_pages_parquet

ROOT = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def broken_dataset(tmp_path_factory):
    p = tmp_path_factory.mktemp("corrupt")
    path = write_web_pages_parquet(str(p / "in"), 300, seed=3,
                                   rows_per_file=100)
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    assert len(files) == 3
    # truncate one file mid-body: footer gone -> unreadable
    victim = os.path.join(path, files[1])
    good = os.path.getsize(victim)
    with open(victim, "r+b") as fh:
        fh.truncate(good // 2)
    return path, victim


def test_audit_finds_the_corrupt_file(broken_dataset):
    path, victim = broken_dataset
    audit = corrupt_file_audit(path)
    assert audit["n_files"] == 3
    assert audit["n_corrupt"] == 1
    assert audit["corrupt_paths"] == [victim]
    assert audit["n_rows_readable"] == 200
    assert audit["sampled"] is False


def test_default_read_fails_loudly(spark, broken_dataset):
    path, _ = broken_dataset
    # loss must never be silent: without the explicit opt-in, the job dies
    assert spark.conf.get("spark.sql.files.ignoreCorruptFiles") == "false"
    with pytest.raises(Exception):
        spark.read.parquet(path).count()


def test_opt_in_read_reconciles_with_audit(spark, broken_dataset):
    path, _ = broken_dataset
    audit = corrupt_file_audit(path)
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        from soda_core_spark.operators.filter_pipeline import (
            QualityFilterPipeline,
        )

        res = QualityFilterPipeline().run(spark.read.parquet(path))
        # every surviving document accounted for: pipeline input ==
        # rows the audit proved readable
        assert res.n_input == audit["n_rows_readable"] == 200
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")


def test_sampled_audit(broken_dataset):
    path, _ = broken_dataset
    audit = corrupt_file_audit(path, sample=1)
    assert audit["sampled"] is True
    assert audit["n_audited"] == 1
    assert audit["n_files"] == 3


def test_cli_data_source_audit(broken_dataset, tmp_path):
    import json as _json
    import subprocess
    import sys

    path, victim = broken_dataset
    out = subprocess.run(
        [sys.executable, "-m", "soda_core_spark.cli", "data-source", "audit",
         "-ds", f"pages={path}"],
        capture_output=True, text=True, cwd=ROOT, timeout=120,
    )
    assert out.returncode == 1  # corrupt found -> check-failure exit code
    rep = _json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["dataset"] == "pages"
    assert rep["n_corrupt"] == 1 and rep["corrupt_paths"] == [victim]

    # clean dataset -> exit 0
    from soda_core_spark.sources.webtext_gen import write_web_pages_parquet

    clean = write_web_pages_parquet(str(tmp_path / "clean"), 100, seed=4)
    out2 = subprocess.run(
        [sys.executable, "-m", "soda_core_spark.cli", "data-source", "audit",
         "-ds", clean],
        capture_output=True, text=True, cwd=ROOT, timeout=120,
    )
    assert out2.returncode == 0
