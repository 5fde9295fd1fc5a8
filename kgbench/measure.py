"""Measurement plumbing for the KG benchmark: spans, job counts, RSS, tails.

Spans are recorded only by the benchmark's own files, around its calls
into the program's public functions. They live in memory and are written
out once, when the run ends. A disabled :class:`Tracer` records nothing
and costs one attribute test per span, so the untraced run measures the
program without the tracing overhead.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: (name, start, end, parent, run id)."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def durations(self, name: str, since: float = 0.0, until: float | None = None) -> list[float]:
        """Durations of the spans called ``name`` that started in [since, until)."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name
                and s["start"] >= since and (until is None or s["start"] < until)]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            d = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


class JobCounter:
    """Spark jobs per operation, counted from outside via job groups.

    Job groups are thread-local on the Spark side, so concurrent clients
    each tag their own operations."""

    def __init__(self, sc):
        self._sc = sc
        self._n = 0
        self._lock = threading.Lock()

    @contextmanager
    def group(self, label: str, counts: list[int]):
        with self._lock:
            self._n += 1
            gid = f"kgbench-{label}-{self._n}"
        self._sc.setJobGroup(gid, label)
        try:
            yield
        finally:
            counts.append(len(self._sc.statusTracker().getJobIdsForGroup(gid)))


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Summed peak RSS (VmHWM) of ``root`` and every live descendant.

    Read once, before the session stops: the JVM and its reused Python
    workers are still alive, and each process's kernel-kept peak is exact,
    unlike a sampled one."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    hwm: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/status") as f:
                kb = next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0)
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(name))
        hwm[int(name)] = kb
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += hwm.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / 1024.0


def cpu_jiffies() -> list[int]:
    """The host's summed CPU time per state from ``/proc/stat``: user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time between two readings that the
    hypervisor gave to other machines: a contended run shows here."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with ten samples beyond
    it, i.e. the eleventh-largest sample; the maximum below twenty samples.

    The percentile moves smoothly with the sample count, so runs that
    complete a few more or fewer operations report comparable tails."""
    n = len(xs)
    if n < 20:
        return 100.0, max(xs, default=0.0)
    return 100.0 * (n - 10) / n, sorted(xs)[n - 11]


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total
