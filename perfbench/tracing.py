"""In-memory spans and counts for the traced run, plus the Spark-side
accounting (job groups) and process memory the benchmark reports.

Spans are recorded from the benchmark's side only: :meth:`Tracer.wrap`
replaces a public function of a program module with a timing wrapper
for the duration of the traced run, and restores it afterwards.
"""

from __future__ import annotations

import functools
import json
import os
import resource
import statistics
import subprocess
import time
from contextlib import contextmanager


class Tracer:
    """Spans as (trace_id, span_id, parent_id, name, start, end) with
    ``time.perf_counter`` clocks, and named counts. A disabled tracer
    records no spans; ``enabled`` is flipped to trace single ops."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self._trace_id = 0
        self._next_id = 1
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str, root: bool = False):
        if not self.enabled:
            yield
            return
        if root:
            self._trace_id += 1
        sid, self._next_id = self._next_id, self._next_id + 1
        parent = self._stack[-1] if self._stack and not root else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append((self._trace_id, sid, parent, name, t0, time.perf_counter()))

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def patch(self, owner, attr: str, replacement) -> None:
        """Replace ``owner.attr`` until :meth:`unwrap`."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span around every call of ``module.attr``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self.patch(module, attr, traced)

    def unwrap(self) -> None:
        while self._patches:
            module, attr, fn = self._patches.pop()
            setattr(module, attr, fn)

    def durations(self, name: str) -> list[float]:
        return [e - s for _, _, _, n, s, e in self.spans if n == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for t, sid, parent, name, s, e in sorted(self.spans, key=lambda x: x[4]):
                f.write(json.dumps({"trace": t, "span": sid, "parent": parent,
                                    "name": name, "start": s, "end": e}) + "\n")
            f.write(json.dumps({"counts": self.counts}) + "\n")


class JobGroups:
    """Spark jobs/tasks per benchmark operation, read back through
    ``SparkContext.statusTracker`` from the job group set around it."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"bench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def stats(self, gid: str) -> dict[str, int]:
        """{"jobs", "tasks", "failed_tasks"} of every job in ``gid``."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, waiting for it to exit so
    its peak RSS lands in this process's child rusage."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """Driver Python high-water RSS + the largest exited child's (the
    JVM once :func:`stop_spark` has reaped it), in MiB."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    child = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + child) / 1024.0


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path`` (hidden and
    underscore-prefixed bookkeeping files excluded)."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def tree_bytes(path: str) -> int:
    """Every byte under ``path``, bookkeeping files included."""
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files
    )
