"""The repository benchmark: one closed-loop client over a seeded workload.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload webtext_filter --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1

A run prepares the seeded input and its oracle (cached per seed), sets up
a Spark session on ``local[nproc]`` and runs the workload's warm-up
operations, then runs operations one after another for ``--seconds``
seconds of operation time. Every operation is checked against its oracle
outside the timed section. With ``--trace 0`` the last stdout line carries
the end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
from Spark's own counters and from timed calls into each layer, and the
spans are written as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [HERE, ROOT]

import host  # noqa: E402
from layers import Tracer  # noqa: E402
from workloads import WORKLOADS, median  # noqa: E402

#: explicit driver heap, well under the 15 GB of the reference host; its
#: initial size is its maximum, so GC behaviour and resident memory do not
#: depend on how far a run happened to grow the heap
HEAP = "3g"
#: fewest timed operations per run, whatever ``--seconds`` says
MIN_OPS = 3

END_TO_END_UNITS = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "output_bytes_per_doc": "B/doc",
}
PER_LAYER_UNITS = {
    "sources.scan_s": "s",
    "sources.input_mb": "MiB",
    "sources.write_s": "s",
    "sources.output_mb": "MiB",
    "functions.text.signals_s": "s",
    "functions.langid.self_s": "s",
    "functions.perplexity.self_s": "s",
    "functions.perplexity.arrow_to_py_mb": "MiB",
    "functions.scrub.self_s": "s",
    "functions.scrub.arrow_to_py_mb": "MiB",
    "functions.scrub.arrow_from_py_mb": "MiB",
    "filter_pipeline.annotate_s": "s",
    "filter_pipeline.observe_s": "s",
    "filter_pipeline.lineage_s": "s",
    "filter_pipeline.kept_ratio": "ratio",
    "python.worker_s": "s",
    "python.worker_init_s": "s",
    "python.arrow_to_py_mb": "MiB",
    "python.arrow_from_py_mb": "MiB",
    "engine.verify_s": "s",
    "engine.spark_jobs": "count",
    "engine.scan_mb": "MiB",
    "engine.shuffle_mb": "MiB",
    "sinks.write_scan_results_s": "s",
    "dedup.shingle_s": "s",
    "dedup.q18_s": "s",
    "dedup.q33_s": "s",
    "dedup.q34_s": "s",
    "dedup.shuffle_write_mb": "MiB",
    "dedup.spill_mb": "MiB",
    "dedup.q33_join_rows": "count",
    "dedup.q33_pair_yield": "ratio",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_read_mb": "MiB",
    "spark.spill_mb": "MiB",
    "driver.self_s": "s",
    "trace.read_s": "s",
    "trace.overhead_pct": "%",
}


def configure_env() -> None:
    """Environment inherited by the JVM and the Python workers it forks:
    the package importable from any checkout path, scratch space inside the
    checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session():
    from pyspark.sql import SparkSession

    n = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions", f"-Xms{HEAP} -XX:+UseParallelGC")
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@contextmanager
def session():
    spark = start_session()
    try:
        yield spark
    finally:
        stop_session(spark)


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and the Python workers it forked)
    have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def prepare_in_child(args) -> dict:
    """The workload's input and oracle, made by a child process so that its
    memory and worker pools are gone before the session starts."""
    cmd = [sys.executable, os.path.abspath(__file__), "--prepare-only",
           "--workload", args.workload, "--seed", str(args.seed), "--scale", str(args.scale)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


class Client:
    """Closed loop: each operation starts after the previous one finished
    and was checked."""

    def __init__(self, spark, wl, tracer):
        self.spark, self.wl, self.tracer = spark, wl, tracer
        self.attempted, self.failed, self.errors = 0, 0, []

    def attempt(self, label: str, traced: bool):
        """One operation, timed, then checked outside the timed section.
        Returns (seconds, docs, span), or None when it failed."""
        tr = self.tracer
        tr.enabled = traced
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span(label, "op") as span:
                docs = self.wl.op(self.spark, tr)
            dt = time.perf_counter() - t0
            errs = self.wl.check()
        except Exception:
            dt, errs = time.perf_counter() - t0, [traceback.format_exc(limit=3)]
        tr.enabled = tr.counters is not None
        tr.collect()
        if errs:
            self.failed += 1
            self.errors.extend(errs)
            return None
        return dt, docs, span


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def summary(values: list[float], unit: str) -> dict:
    q1, med, q3 = quartiles(values)
    return {"value": statistics.median(values), "unit": unit, "n": len(values),
            "q1": q1, "median": med, "q3": q3}


def run_workload(args) -> int:
    t_start = time.perf_counter()
    meta = prepare_in_child(args)
    prepare_s = time.perf_counter() - t_start
    t0 = time.perf_counter()
    with session() as spark:
        client, setup_s, m = measure(args, spark, meta, t0)

    for e in client.errors:
        print(f"operation failed: {e}", file=sys.stderr)
    ctx = host.context(HEAP)
    ctx["steal_pct"] = m["steal"]
    op_s = m["op_s"]
    correct = client.failed == 0 and bool(op_s)
    report = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "seconds": args.seconds, "op_s": op_s,
        "failed_op_ratio": client.failed / client.attempted, "host": ctx,
        "prepare_s": prepare_s, "wall_s": time.perf_counter() - t_start,
    }
    if op_s:
        report["end_to_end"] = {
            "docs_per_s": summary(m["docs_per_s"], "docs/s"),
            "setup_s": summary([setup_s], "s"),
            "peak_rss_mb": summary([m["peak_rss"] / 2**20], "MiB"),
            "output_bytes_per_doc": summary(m["out_per_doc"], "B/doc"),
        }
        for k, v in report["end_to_end"].items():
            print(f"{args.workload} {k}: {v['median']:.6g} {v['unit']} "
                  f"(n={v['n']}, q1={v['q1']:.6g}, q3={v['q3']:.6g})")
    print(f"{args.workload} failed_op_ratio: {client.failed}/{client.attempted}")
    layers = m["layers"]
    if layers:
        report["per_layer"] = layers
    print(json.dumps(report))
    if args.trace:
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": report["end_to_end"][k]["value"] if op_s else 0.0, "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({"correct": correct, "attempted": client.attempted,
                      "failed": client.failed, "metrics": metrics}))
    return 0 if correct else 1


def measure(args, spark, meta: dict, t0: float):
    """Set-up and the timed closed loop on an open session. Returns the
    client, the set-up seconds and the raw measurements."""
    wl = WORKLOADS[args.workload](meta, WORK)
    wl.open(spark)
    client = Client(spark, wl, Tracer(spark, enabled=bool(args.trace)))
    for i in range(wl.warmup_ops):
        if client.attempt(f"warm-up {i}", False):
            wl.output_bytes()
    setup_s = time.perf_counter() - t0

    op_s, docs_per_s, out_per_doc, op_spans, untraced_s = [], [], [], [], []
    steal0 = host.cpu_times()
    with host.PeakRss() as rss:
        spent, i = 0.0, 0
        while spent < args.seconds or len(op_s) < MIN_OPS:
            # a traced run alternates traced and untraced operations, so the
            # tracing overhead is measured within the run
            traced = bool(args.trace) and i % 2 == 0
            done = client.attempt(f"op {i}", traced)
            i += 1
            if done is None:
                if client.failed > 3 and not op_s:
                    break
                continue
            dt, docs, span = done
            spent += dt
            op_s.append(dt)
            docs_per_s.append(docs / dt)
            out_per_doc.append(wl.output_bytes() / docs)
            if traced:
                op_spans.append(span)
            else:
                untraced_s.append(dt)
    steal = host.steal_pct(steal0, host.cpu_times())

    layers = {}
    if args.trace and op_spans:
        layers = trace_layers(args, spark, wl, client.tracer, op_spans, untraced_s)
    return client, setup_s, {"op_s": op_s, "docs_per_s": docs_per_s, "out_per_doc": out_per_doc,
                             "peak_rss": rss.peak, "steal": steal, "layers": layers}


def trace_layers(args, spark, wl, tracer, op_spans: list, untraced_s: list[float]) -> dict:
    """Per-layer metrics of a traced run: the workload's own layers, Spark
    runtime totals per operation, the tracing overhead; spans go to JSON."""
    probes = wl.probes(spark, tracer)
    layers = {k: 0.0 for k in PER_LAYER_UNITS}
    layers.update(wl.layers(tracer, op_spans, probes))
    for k in ("executor_run_s", "gc_s", "tasks", "shuffle_read_mb", "spill_mb"):
        layers[f"spark.{k}"] = median([tracer.total(s, k) for s in op_spans])
    layers["spark.failed_tasks"] = sum(tracer.total(s, "failed_tasks") for s in op_spans)
    # driver time outside any Spark job: planning, commits, Python glue
    layers["driver.self_s"] = median([
        sum(tracer.self_seconds(c) for c in tracer.subtree(s) if c.kind != "job")
        for s in op_spans
    ])
    layers["trace.read_s"] = median(tracer.read_seconds)
    base = median(untraced_s)
    traced = median([s.seconds for s in op_spans])
    layers["trace.overhead_pct"] = 100.0 * (traced - base) / base if base else 0.0
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-{tracer.run_id}.json")
    tracer.dump(path, {"workload": args.workload, "seed": args.seed})
    print(f"trace written to {os.path.relpath(path, ROOT)}")
    return layers


def run_all(args) -> int:
    """Every workload, each in a fresh process; the last line merges them."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        code = code or proc.returncode
        try:
            last = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            merged["correct"] = False
            continue
        merged["correct"] &= last["correct"]
        merged["attempted"] += last["attempted"]
        merged["failed"] += last["failed"]
        for k, v in last["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return code


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (tests use small scales)")
    ap.add_argument("--prepare-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    try:
        import soda_core_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2
    configure_env()
    if args.prepare_only:
        print(json.dumps(WORKLOADS[args.workload].prepare(args.seed, args.scale, WORK)))
        return 0
    # every process started below, and every process those start, has ended
    # before this one exits, on every path out of it
    host.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.workload == "all":
            return run_all(args)
        return run_workload(args)
    finally:
        killed = host.reap_descendants()
        if killed:
            print(f"killed {len(killed)} processes left running: {killed}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
