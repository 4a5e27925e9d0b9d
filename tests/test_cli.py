"""CLI entrypoint end-to-end (argparse -> session -> pipeline -> JSON)."""

import json
import subprocess
import sys
from pathlib import Path

from soda_core_spark.sources.webtext_gen import write_web_pages_parquet

ROOT = Path(__file__).resolve().parents[1]


def test_cli_run(tmp_path):
    inp = write_web_pages_parquet(str(tmp_path / "in"), 400, seed=9)
    out = subprocess.run(
        [sys.executable, "-m", "soda_core_spark.cli",
         "--input", inp, "--output", str(tmp_path / "out"),
         "--lineage", str(tmp_path / "lineage"), "--local-cpus", "4"],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    summary = json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])
    assert summary["n_docs"] == 400
    assert 0 < summary["n_kept"] < 400


def test_cli_resumable(tmp_path):
    inp = write_web_pages_parquet(str(tmp_path / "in"), 400, seed=9)
    args = [sys.executable, "-m", "soda_core_spark.cli",
            "--input", inp, "--output", str(tmp_path / "out"),
            "--state", str(tmp_path / "state"), "--buckets", "3",
            "--local-cpus", "4"]
    out = subprocess.run(args, capture_output=True, text=True, cwd=ROOT, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    summary = json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])
    assert summary == {"buckets": 3, "n_docs": 400, "n_kept": summary["n_kept"]}
    # second invocation: everything already done, instant resume
    out2 = subprocess.run(args, capture_output=True, text=True, cwd=ROOT, timeout=300)
    summary2 = json.loads([l for l in out2.stdout.splitlines() if l.startswith("{")][-1])
    assert summary2 == summary


def test_cli_data_source_profile(tmp_path, spark):
    # in-process (use_active_session) so no new JVM spins up; the
    # handler path is identical to the subprocess form
    import pytest

    from soda_core_spark.cli import main

    df = spark.createDataFrame(
        [(float(i % 10), "hot" if i % 3 == 0 else f"k{i}") for i in range(60)],
        "score double, host string",
    )
    path = str(tmp_path / "pages")
    df.write.parquet(path)
    rc = main(
        [
            "data-source", "profile",
            "-ds", f"pages={path}",
            "--column", "score",
            "--key", "host",
            "--bins", "5",
            "--top-k", "3",
            "--use-active-session",
        ]
    )
    assert rc == 0


def test_cli_data_source_profile_errors(spark):
    from soda_core_spark.cli import main

    # nothing requested
    assert main(["data-source", "profile", "-ds", "x=/nope",
                 "--use-active-session"]) == 3
    # unreadable dataset
    assert main(["data-source", "profile", "-ds", "x=/nope",
                 "--column", "v", "--use-active-session"]) == 3


def test_cli_data_source_metrics(tmp_path, spark, capsys):
    from soda_core_spark import verify_contract
    from soda_core_spark.cli import main
    from soda_core_spark.plans.model import contract_from_dict
    from soda_core_spark.sources.sinks import write_scan_results

    sink = str(tmp_path / "wh")
    df = spark.createDataFrame([(1, 5.0), (2, 7.0)], ["id", "score"])
    contract = contract_from_dict(
        {
            "dataset": "docs",
            "checks": [{"metric": {"expression": "AVG(score)", "must_be": 6}}],
        }
    )
    import datetime as dt

    for day in (1, 2, 3):
        r = verify_contract(spark, contract, df)
        write_scan_results(
            spark, r, sink,
            scan_ts=dt.datetime(2026, 8, day, tzinfo=dt.timezone.utc),
        )
    rc = main(
        ["data-source", "metrics", "-dw", sink, "--use-active-session"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "docs" in out and "metric" in out and "value=6.0" in out
    assert "last 3 run(s)" in out

    # unreadable sink → exit 3
    rc2 = main(
        ["data-source", "metrics", "-dw", str(tmp_path / "nope"),
         "--use-active-session"]
    )
    assert rc2 == 3
