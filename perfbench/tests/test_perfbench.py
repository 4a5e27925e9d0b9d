"""Tests of the benchmark itself.

Run from the root of a checkout::

    python -m pytest perfbench/tests -q

The run tests start Spark on tiny inputs and take about a minute each.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import host  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from layers import parse_sql_metric  # noqa: E402

TINY = ["--seed", "3", "--seconds", "1", "--scale", "0.02"]


def _outlived_run() -> list[int]:
    """Processes the last run started that had not ended when it exited.

    This process is made their reaper, so each of them, running or ended
    since, is a child of it now; those still running are killed."""
    left = []
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return left
        if pid:
            left.append(pid)
            continue
        for pid in host.descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _bench(*args: str) -> tuple[int, list[str]]:
    host.adopt_orphans()
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900,
    )
    assert _outlived_run() == []
    return proc.returncode, proc.stdout.strip().splitlines()


def test_tiny_run_of_every_workload_prints_each_end_to_end_metric():
    code, lines = _bench("--workload", "all", "--trace", "0", *TINY)
    assert code == 0, lines
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 3
    for name in workloads.WORKLOADS:
        for metric, unit in run.END_TO_END_UNITS.items():
            got = last["metrics"][f"{name}.{metric}"]
            assert got["unit"] == unit and got["value"] > 0, (name, metric, got)
            line = next(ln for ln in lines if ln.startswith(f"{name} {metric}: "))
            assert unit in line and "n=" in line and "q1=" in line and "q3=" in line
        assert f"{name} failed_op_ratio: 0/" in "\n".join(lines)


def test_traced_run_reports_every_per_layer_metric_and_writes_spans():
    code, lines = _bench("--workload", "contract_scan", "--trace", "1", *TINY)
    assert code == 0, lines
    metrics = json.loads(lines[-1])["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == run.PER_LAYER_UNITS
    for k in ("engine.verify_s", "engine.spark_jobs", "sinks.write_scan_results_s",
              "spark.executor_run_s", "spark.tasks", "driver.self_s", "trace.read_s"):
        assert metrics[k]["value"] > 0, k
    path = next(ln for ln in lines if ln.startswith("trace written to ")).split(" to ")[1]
    spans = json.load(open(os.path.join(ROOT, path)))["spans"]
    ids = {s["span_id"] for s in spans}
    assert {s["kind"] for s in spans} >= {"op", "call", "job"}
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert all(s["end"] >= s["start"] and s["self_s"] <= s["end"] - s["start"] + 1e-9 for s in spans)


def test_run_in_a_directory_without_the_program_fails_without_a_result(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in ("run.py", "host.py", "layers.py", "workloads.py"):
        (bench / f).write_text(open(os.path.join(BENCH, f)).read())
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "webtext_filter", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=env,
        timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- correctness checks catch a planted wrong expected value ----------------


def _webtext_artifacts(tmp_path):
    out, lin = tmp_path / "out", tmp_path / "lineage"
    (out / "keep=true").mkdir(parents=True)
    (out / "keep=false").mkdir(parents=True)
    pq.write_table(pa.table({"url": ["u1", "u2"], "text_scrubbed": ["a [EMAIL]", "b"]}),
                   out / "keep=true" / "part-0.parquet")
    pq.write_table(pa.table({"url": ["u3"], "text_scrubbed": pa.array([None], pa.string())}),
                   out / "keep=false" / "part-0.parquet")
    lin.mkdir()
    pq.write_table(pa.table({"host": ["h"], "n_docs": [3], "n_kept": [2], "fail_min_chars": [1]}),
                   lin / "part-0.parquet")
    wl = workloads.WebtextFilter.__new__(workloads.WebtextFilter)
    wl.out, wl.lineage = str(out), str(lin)
    wl.result = SimpleNamespace(n_input=3, n_kept=2, per_rule_fail={"min_chars": 1})
    oracle = {"n": 3, "kept": 2, "fails": {"min_chars": 1},
              "sample": {"u1": "a [EMAIL]", "u3": None}}
    return wl, oracle


def test_webtext_check_fails_on_a_planted_wrong_expected_value(tmp_path):
    wl, oracle = _webtext_artifacts(tmp_path)
    assert wl.check(oracle) == []
    for planted in ({"kept": 1}, {"fails": {"min_chars": 2}},
                    {"sample": {"u1": "a user@example.com", "u3": None}}):
        assert wl.check({**oracle, **planted}), planted


def test_near_dup_check_fails_on_a_planted_wrong_expected_value(tmp_path):
    q = workloads.DEDUP_QUERIES[0]
    wl = workloads.NearDupPairs.__new__(workloads.NearDupPairs)
    wl.out = {q: str(tmp_path / "out")}
    os.makedirs(wl.out[q])
    pairs = {"id_a": [1, 2], "id_b": [5, 9], "jaccard": [0.5, 0.75]}
    pq.write_table(pa.table(pairs), os.path.join(wl.out[q], "part-0.parquet"))
    good, bad = str(tmp_path / "good.parquet"), str(tmp_path / "bad.parquet")
    pq.write_table(pa.table({"id_b": [9, 5], "id_a": [2, 1], "jaccard": [0.75, 0.5]}), good)
    pq.write_table(pa.table({**pairs, "jaccard": [0.5, 0.7]}), bad)
    assert wl.check({q: good}) == []
    assert wl.check({q: bad})


def test_contract_check_fails_on_a_planted_wrong_expected_value(tmp_path):
    from soda_core_spark.plans.results import Measurement

    sink = tmp_path / "check_results"
    sink.mkdir()
    pq.write_table(pa.table({"identity": ["a", "b"]}), sink / "part-0.parquet")
    wl = workloads.ContractScan.__new__(workloads.ContractScan)
    wl.check_results, wl.sink_rows = str(sink), 0
    wl.result = SimpleNamespace(
        measurements=[Measurement("rows|", 400, "check_rows_tested"),
                      Measurement("max|", workloads.SCAN_DATA_TS, "max(warc_ts)")],
        check_results=[object(), object()],
    )
    oracle = {"check_rows_tested": 400, "max(warc_ts)": "2026-07-02T00:00:00"}
    assert wl.check(oracle) == []
    wl.sink_rows = 0
    assert wl.check({**oracle, "check_rows_tested": 401})


# -- inputs come from the seed ----------------------------------------------


def test_documents_depend_on_the_seed_only():
    a, b = workloads.make_documents(300, 1), workloads.make_documents(300, 1)
    assert a.equals(b)
    assert not a["text"].equals(workloads.make_documents(300, 2)["text"])


def test_raw_pages_depend_on_the_seed_only():
    a, b = workloads.make_raw_pages(40, 1), workloads.make_raw_pages(40, 1)
    assert a.equals(b)
    assert not a.equals(workloads.make_raw_pages(40, 2))


def test_webtext_inputs_depend_on_the_seed_only(tmp_path):
    def texts(seed: int, work: str) -> list[str]:
        meta = workloads.WebtextFilter.prepare(seed, 0.01, work)
        return pq.read_table(meta["data"], columns=["text"]).column("text").to_pylist()

    first = texts(1, str(tmp_path / "a"))
    assert first == texts(1, str(tmp_path / "b"))
    assert first != texts(2, str(tmp_path / "a"))


@pytest.mark.parametrize("text,value", [
    ("2,000", 2000.0),
    ("6 ms", 0.006),
    ("total (min, med, max (stageId: taskId))\n219.5 MiB (1.0 MiB, 2.0 MiB, 3.0 MiB (stage 6.0: task 18))",
     219.5 * 2**20),
    ("total (min, med, max (stageId: taskId))\n1.2 s (271 ms, 320 ms, 332 ms (stage 6.0: task 17))", 1.2),
    ("(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 9.0: task 27))", None),
])
def test_sql_metric_text_is_parsed(text, value):
    got = parse_sql_metric(text)
    assert got is None if value is None else got == pytest.approx(value)
