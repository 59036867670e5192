"""Session set-up, tracing and statistics shared by the workloads.

Everything here observes the program from outside: it times the calls
the benchmark makes into the package, tags them with Spark job groups,
and reads Spark's public status surfaces (``StreamingQuery``
progress, and the event log turned on through launch conf). No module of the package is edited or patched, with one
exception made only in traced runs: ``Tracer.wrap`` swaps a module
attribute for a timing shim so a call the package makes internally
(``load_table`` from the API facade) gets its own span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return float(s[k])


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- spans ---------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children: list[int] = field(default_factory=list)


class Tracer:
    """Spans (workload → operation → phase) kept in memory, plus the
    Spark job group each operation runs under.

    With ``enabled=False`` every method is a cheap no-op, so the same
    workload code serves the untraced run that gives end-to-end
    numbers."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._group: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent))
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextlib.contextmanager
    def group(self, name: str):
        """Run the block's Spark jobs under job group ``name``."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        prev = self._group
        sc.setJobGroup(name, name)
        self._group = name
        try:
            yield
        finally:
            self._group = prev
            if prev is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev, prev)

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` with a shim that records a span per call
        (traced runs only, for the rest of the process)."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        def shim(*a, **kw):
            with self.span(span_name):
                return orig(*a, **kw)

        setattr(module, attr, shim)

    def reset(self) -> None:
        """Forget the spans recorded so far (untimed warm-up work)."""
        self.spans.clear()

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self seconds. Self time is the
        span's duration minus the union of its children's intervals."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for s in self.spans:
            dur = s.end - s.start
            covered, cur_end = 0.0, s.start
            for c in sorted((self.spans[i] for i in s.children), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            rec = out[s.name]
            rec["count"] += 1
            rec["total_s"] += dur
            rec["self_s"] += dur - covered
        return {k: {kk: round(vv, 6) for kk, vv in v.items()} for k, v in out.items()}


# -- event log -----------------------------------------------------------------


@dataclass
class GroupWork:
    jobs: int = 0
    tasks: int = 0
    task_failures: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_rows: int = 0

    def add(self, o: "GroupWork") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


def fold_event_log(log_dir: str, app_id: str) -> dict[str, GroupWork]:
    """Fold one application's (uncompressed, non-rolling) event log into
    work per job group: jobs, tasks, failures, executor run/CPU/GC
    time, shuffle bytes, spill and input rows."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if app_id in os.path.basename(p)]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    stage_group: dict[int, str] = {}
    work: dict[str, GroupWork] = defaultdict(GroupWork)
    with open(paths[0]) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                work[grp].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, grp)
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                w = work[stage_group.get(ev["Stage ID"], "")]
                w.tasks += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    w.task_failures += 1
                m = ev.get("Task Metrics") or {}
                w.run_ms += m.get("Executor Run Time", 0)
                w.cpu_ns += m.get("Executor CPU Time", 0)
                w.gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                w.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                w.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                w.spill += m.get("Disk Bytes Spilled", 0)
                w.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return dict(work)


def sum_work(work: dict[str, GroupWork], pred) -> GroupWork:
    total = GroupWork()
    for grp, w in work.items():
        if pred(grp):
            total.add(w)
    return total


def operator_metrics(w: GroupWork, n_ops: int) -> dict[str, float]:
    """The ``operators.*`` per-layer metrics: executed task work of the
    timed region, per workload operation."""
    n = max(n_ops, 1)
    return {
        "operators.executor_run_s": w.run_ms / 1e3 / n,
        "operators.executor_cpu_s": w.cpu_ns / 1e9 / n,
        "operators.gc_s": w.gc_ms / 1e3 / n,
        "operators.shuffle_read_bytes": w.shuffle_read / n,
        "operators.shuffle_write_bytes": w.shuffle_write / n,
        "operators.spill_bytes": w.spill / n,
        "operators.tasks": w.tasks / n,
        "operators.task_failures": w.task_failures / n,
    }


# -- session -------------------------------------------------------------------


class Session:
    """The ``session`` layer: ``get_spark`` plus warm-up, started once,
    cold, in the run's own process, as a user of the program starts it.
    Its time is the run's ``setup_s``; a new sample needs a fresh
    process, so the spread of ``setup_s`` is taken across runs."""

    def __init__(self, cpus: int):
        self.cpus = cpus
        self.spark = None
        self.jvm_start_s = self.warm_s = self.setup_s = 0.0

    def start(self, warm_table_dir: str) -> None:
        from strava_data_pipeline_spark.session import get_spark
        from strava_data_pipeline_spark.sources.catalog import load_table

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        # Fork and warm one Python worker per core, and touch a parquet
        # footer, so no timed operation pays either first.
        self.spark.range(0, self.cpus, 1, self.cpus).mapInPandas(
            _warm_worker, "id long"
        ).write.format("noop").mode("overwrite").save()
        load_table(self.spark, warm_table_dir, "events").count()
        t2 = time.perf_counter()
        self.jvm_start_s, self.warm_s, self.setup_s = t1 - t0, t2 - t1, t2 - t0

    def driver_rss_mb(self) -> float:
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return rss_mb(jvm_pid) + rss_mb(os.getpid())

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def metrics(self) -> dict[str, float]:
        return {
            "session.jvm_start_s": self.jvm_start_s,
            "session.worker_warm_s": self.warm_s,
        }


def _warm_worker(it):
    import numpy  # noqa: F401  (the Arrow UDF stages import it)

    return it


def bounded_wait(query, timeout_s: float) -> None:
    """Wait for a streaming query; a trigger that does not finish in
    ``timeout_s`` fails the run with the query's exception and last
    progress instead of stalling it."""
    if not query.awaitTermination(int(timeout_s)):
        exc, last = query.exception(), query.lastProgress
        query.stop()
        raise TimeoutError(
            f"stream {query.name or query.id} did not finish in {timeout_s}s; "
            f"exception={exc}; lastProgress={json.dumps(last)[:2000]}"
        )
    exc = query.exception()
    if exc is not None:
        raise RuntimeError(f"stream {query.id} failed: {exc}")
