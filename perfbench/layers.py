"""Layer counters and spans for the traced benchmark run.

Everything here reads state Spark already keeps, so the program under test
is not changed and no Spark job is added:

* job and stage metrics (run time, GC, input/output, shuffle, spill, task
  failures) from the app-status store behind ``statusTracker``;
* SQL plan metrics (ArrowEvalPython bytes to and from Python workers,
  Python worker time, join output rows) from the SQL status store.

Both stores exist with ``spark.ui.enabled=false``. Work is attributed to a
span through its Spark job group: each span sets its own group on entry, so
every job belongs to the innermost span that was open when it started.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Iterator, Optional

MIB = 1024.0 * 1024.0

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

#: stage fields summed per span: name -> (StageData accessor, scale)
_STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1 / MIB),
    "output_mb": ("outputBytes", 1 / MIB),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / MIB),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / MIB),
    "spill_mb": ("diskBytesSpilled", 1 / MIB),
    "tasks": ("numCompleteTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


def parse_sql_metric(text: str) -> Optional[float]:
    """Parse one formatted SQL metric value into a plain number: bytes for
    size metrics, seconds for timing metrics, a count for sum metrics.

    The SQL status store only keeps the rendered form, e.g. ``2,000``,
    ``6 ms`` or ``total (min, med, max (stageId: taskId))\\n219.5 MiB (…)``.
    Average metrics render no total and give None.
    """
    line = text.strip().splitlines()[-1]
    if line.startswith("("):
        return None
    parts = line.split(" (")[0].split()
    number = float(parts[0].replace(",", ""))
    if len(parts) == 1:
        return number
    unit = parts[1]
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    raise ValueError(f"unknown SQL metric unit in {text!r}")


class SparkCounters:
    """Reads per-job-group counters from the stores of one SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = self.sc.statusTracker()
        self._sql_seen = 0

    def set_group(self, group: Optional[str]) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until the listener bus has applied every event to the stores."""
        self._bus.waitUntilEmpty()

    def read(self, groups: list[str]) -> dict[str, dict[str, Any]]:
        """Counters per group: jobs (id, start, end), stage totals and SQL
        plan metrics of the executions those jobs ran in."""
        self.drain()
        out: dict[str, dict[str, Any]] = {}
        job_owner: dict[int, str] = {}
        for g in groups:
            rec: dict[str, Any] = {k: 0.0 for k in _STAGE_FIELDS}
            rec["jobs"], rec["sql"] = [], []
            stage_ids: set[int] = set()
            for jid in sorted(self._tracker.getJobIdsForGroup(g)):
                job = self._store.job(jid)
                start = job.submissionTime()
                end = job.completionTime()
                rec["jobs"].append(
                    {
                        "id": jid,
                        "start": start.get().getTime() / 1e3 if start.isDefined() else None,
                        "end": end.get().getTime() / 1e3 if end.isDefined() else None,
                        "status": str(job.status()),
                    }
                )
                info = self._tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
                job_owner[jid] = g
            for sid in sorted(stage_ids):
                self._add_stage(rec, sid)
            out[g] = rec
        self._read_sql(out, job_owner)
        return out

    def _add_stage(self, rec: dict[str, Any], stage_id: int) -> None:
        try:
            st = self._store.lastStageAttempt(stage_id)
        except Exception:  # py4j error: a stage the store never saw (skipped)
            return
        if str(st.status()) == "SKIPPED":
            return
        for name, (accessor, scale) in _STAGE_FIELDS.items():
            rec[name] += getattr(st, accessor)() * scale
        rec["stages"] = rec.get("stages", 0) + 1

    def _read_sql(self, out: dict[str, dict[str, Any]], job_owner: dict[int, str]) -> None:
        count = int(self._sql.executionsCount())
        if count <= self._sql_seen or not job_owner:
            self._sql_seen = max(self._sql_seen, count)
            return
        execs = self._sql.executionsList(self._sql_seen, count - self._sql_seen)
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs()
            owner = next((g for j, g in job_owner.items() if jobs.contains(j)), None)
            if owner is None:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            nodes = self._sql.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    value = parse_sql_metric(v.get()) if v.isDefined() else None
                    if value is not None:
                        out[owner]["sql"].append((node.name().strip(), m.name(), value))
        self._sql_seen = count


def sql_sum(rec: dict[str, Any], node_prefix: str, metric: str) -> float:
    return sum(v for n, m, v in rec["sql"] if n.startswith(node_prefix) and m == metric)


@dataclass
class Span:
    name: str
    kind: str  # "op", "call", "probe" or "job"
    span_id: str
    parent: Optional[str]
    start: float
    end: float = 0.0
    counters: dict[str, Any] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory, written as JSON when the run ends.

    Disabled, it records nothing and sets no job group, so untraced runs
    measure the program alone."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._pending: list[Span] = []
        self.counters = SparkCounters(spark) if enabled else None
        self.read_seconds: list[float] = []

    @contextmanager
    def span(self, name: str, kind: str = "call") -> Iterator[Optional[Span]]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, kind, f"{len(self.spans)}", parent.span_id if parent else None, time.time())
        self.spans.append(sp)
        self._pending.append(sp)
        self._stack.append(sp)
        self.counters.set_group(f"{self.run_id}/{sp.span_id}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.counters.set_group(
                f"{self.run_id}/{self._stack[-1].span_id}" if self._stack else None
            )

    def collect(self) -> None:
        """Read counters for spans closed since the last call and add their
        Spark jobs as child spans. Call outside timed sections."""
        if not self.enabled or not self._pending:
            return
        t0 = time.monotonic()
        by_group = {f"{self.run_id}/{s.span_id}": s for s in self._pending}
        for group, rec in self.counters.read(list(by_group)).items():
            sp = by_group[group]
            sp.counters = rec
            for job in rec["jobs"]:
                if job["start"] is not None and job["end"] is not None:
                    self.spans.append(
                        Span(f"job {job['id']}", "job", f"{len(self.spans)}", sp.span_id,
                             job["start"], job["end"])
                    )
        self._pending = []
        self.read_seconds.append(time.monotonic() - t0)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def subtree(self, span: Span) -> list[Span]:
        out = [span]
        for c in self.children(span):
            out.extend(self.subtree(c))
        return out

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part of it its children cover."""
        covered, cur_start, cur_end = 0.0, None, None
        for s in sorted(self.children(span), key=lambda c: c.start):
            a, b = max(s.start, span.start), min(s.end, span.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return span.seconds - covered

    def total(self, span: Span, counter: str) -> float:
        return sum(s.counters.get(counter, 0.0) for s in self.subtree(span))

    def sql_total(self, span: Span, node_prefix: str, metric: str) -> float:
        return sum(sql_sum(s.counters, node_prefix, metric)
                   for s in self.subtree(span) if s.counters)

    def dump(self, path: str, meta: dict[str, Any]) -> None:
        spans = [
            {
                "name": s.name, "kind": s.kind, "span_id": s.span_id,
                "parent": s.parent, "run_id": self.run_id,
                "start": s.start, "end": s.end,
                "self_s": self.self_seconds(s),
                "counters": {k: v for k, v in s.counters.items() if k != "sql"},
            }
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **meta, "spans": spans}, fh, indent=1)
