"""transformWithStateInPandas variant of the stateful per-host totals
(Spark 4 successor of applyInPandasWithState). Runs in a SUBPROCESS with
its own SparkSession because transformWithState requires the RocksDB
state store provider, a session-construction-time config the shared test
session doesn't (and shouldn't) carry.

Skipped when protobuf is unavailable: transformWithState's Python state
server speaks a protobuf protocol (pyspark.sql.streaming.proto), and this
sandbox ships no google.protobuf — the operator is implemented and plans
correctly, but cannot execute here (documented in IMPLEMENTATION_STATUS
known gaps; applyInPandasWithState remains the executed-and-tested path).
"""

import importlib.util
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]

SCRIPT = r"""
import sys
from pyspark.sql import SparkSession, functions as F
from soda_core_spark.operators.filter_pipeline import QualityFilterPipeline
from soda_core_spark.sources.webtext_gen import write_web_pages_parquet
from soda_core_spark.streaming.quality_stream import (
    host_running_totals_tws,
    read_web_pages_stream,
)

tmp = sys.argv[1]
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

inp = write_web_pages_parquet(tmp + "/in", 300, seed=11)
pipeline = QualityFilterPipeline(scrub=False, langid=False, perplexity=False)
stream = read_web_pages_stream(spark, inp)
totals = host_running_totals_tws(pipeline.annotate(stream))
q = (
    totals.writeStream.format("memory")
    .queryName("tws_totals")
    .option("checkpointLocation", tmp + "/ckpt")
    .outputMode("update")
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination(180)

got = {
    r["host"]: r
    for r in spark.sql("SELECT * FROM tws_totals").orderBy("n_docs").collect()
}
batch = pipeline.annotate(spark.read.parquet(inp))
want = {
    r["host"]: r
    for r in batch.groupBy("host")
    .agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
    )
    .collect()
}
assert set(got) == set(want), (sorted(got), sorted(want))
for host, w in want.items():
    g = got[host]
    assert g["n_docs"] == w["n_docs"], host
    assert g["n_kept"] == w["n_kept"], host
    assert abs(g["keep_rate"] - w["n_kept"] / w["n_docs"]) < 1e-12, host
print("TWS_OK", len(want))
"""


def test_tws_plan_builds_and_schema(spark):
    """Analysis-only: the transformWithState plan constructs and carries
    the declared output schema (execution needs protobuf, skipped below)."""
    from soda_core_spark.streaming.quality_stream import host_running_totals_tws

    df = spark.createDataFrame(
        [("https://a.com/x", True), ("https://a.com/y", False)],
        "url string, keep boolean",
    ).selectExpr("regexp_extract(url, '^https?://([^/]+)', 1) AS host", "keep")
    out = host_running_totals_tws(df)
    assert [f.name for f in out.schema.fields] == [
        "host",
        "n_docs",
        "n_kept",
        "keep_rate",
    ]


def _has_protobuf() -> bool:
    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState needs protobuf (absent in sandbox)",
)
def test_host_running_totals_tws_matches_batch(tmp_path):
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path)],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=480,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "TWS_OK" in r.stdout
