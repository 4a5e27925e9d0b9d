"""Host context, process-tree memory and process lifetime, via ``/proc``.

The context is recorded with every result and never gates a run.
"""

from __future__ import annotations

import ctypes
import os
import platform
import signal
import threading
import time
from importlib import metadata
from typing import Any

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(1, after[1] - before[1])


def _version(dist: str) -> str:
    try:
        return metadata.version(dist)
    except metadata.PackageNotFoundError:
        return "absent"


def context(heap: str) -> dict[str, Any]:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "mem_total_mb": os.sysconf("SC_PHYS_PAGES") * _PAGE / 2**20,
        "python": platform.python_version(),
        "pyspark": _version("pyspark"),
        "pyarrow": _version("pyarrow"),
        "duckdb": _version("duckdb"),
        "pandas": _version("pandas"),
        "driver_heap": heap,
    }


_PF_FORKNOEXEC = 0x40  # kernel task flag: forked, has not exec'd yet


def _process_table():
    """(children by parent pid, rss bytes, command name, pids forked but not
    yet exec'd) of every process now running."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    comm: dict[int, str] = {}
    unexeced: set[int] = set()
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                name, fields = fh.read().rsplit(")", 1)
        except OSError:  # the process ended while we looked
            continue
        pid, fields = int(entry), fields.split()
        comm[pid] = name.split("(", 1)[1]
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * _PAGE
        if int(fields[6]) & _PF_FORKNOEXEC:
            unexeced.add(pid)
    return children, rss, comm, unexeced


def descendants(root: int) -> list[int]:
    children = _process_table()[0]
    found, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def tree_rss_bytes(root: int) -> int:
    """Combined resident set of ``root`` and all its descendants.

    A child of the JVM that has forked but not yet exec'd is skipped: it is
    the JVM starting a helper process (Hadoop runs shell commands without
    its native library) and still reports all of the JVM's pages."""
    children, rss, comm, unexeced = _process_table()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(c for c in children.get(pid, [])
                    if not (c in unexeced and comm.get(pid) == "java"))
    return total


class PeakRss:
    """Samples the combined RSS of this process tree until stopped."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of any descendant whose own parent ends
    first, so it can wait for it: the Python worker daemon outlives the JVM
    that forked it, a multiprocessing resource tracker outlives its pool's
    owner."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def reap_descendants(grace_s: float = 20.0) -> list[int]:
    """Wait until every descendant of this process has ended; kill those
    still running after ``grace_s``. Returns the pids that had to be killed.

    Needs ``adopt_orphans()`` first: then every descendant is a child or the
    descendant of one, and no child left means no descendant left."""
    deadline = time.monotonic() + grace_s
    killed: list[int] = []
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return killed
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                    killed.append(pid)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.02)
