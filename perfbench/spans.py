"""Outside-in layer tracing for the benchmark's traced run.

Spans are recorded in the benchmark's own code, around calls into each
module's public functions: ``Tracer.wrap`` swaps each listed function for
a wrapper (in every loaded ``string_grouper_spark`` module that bound it),
and ``Tracer.uninstall`` puts the originals back.  A wrapper

  * opens a span named after the layer and sets it as the Spark job group,
    so every job the call starts carries the innermost layer's name;
  * forces a returned DataFrame inside the span (``persist`` + ``count``),
    so the layer's lazy plan executes where it is attributed.  This
    persisting happens in the traced run only; untraced runs execute the
    program's plan unchanged;
  * records counts at the same boundary.

Work the tracer adds only to take a count runs in ``trace.counters`` spans,
which are subtracted from the traced wall time and reported as overhead.

Spark task metrics come from the uncompressed event log (enabled through
session conf by ``run.py`` in traced runs only); ``event_log_metrics``
groups them by the job group of the job that ran each stage.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager

COUNTERS = "trace.counters"


class Span:
    __slots__ = ("name", "start", "end", "child_s")

    def __init__(self, name, start):
        self.name = name
        self.start = start
        self.end = None
        self.child_s = 0.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self.stack: list = []
        self.counts: dict = {}
        self._patched: list = []

    # -- spans ---------------------------------------------------------------
    def _set_group(self, name):
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name, False)

    @contextmanager
    def span(self, name):
        parent = self.stack[-1] if self.stack else None
        sp = Span(name, time.perf_counter())
        self.stack.append(sp)
        self._set_group(name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                parent.child_s += sp.end - sp.start
            self._set_group(self.stack[-1].name if self.stack else None)
            self.spans.append(sp)

    def count(self, key, value):
        self.counts[key] = self.counts.get(key, 0) + value

    def counter_job(self, fn):
        """Run an instrumentation-only Spark action outside layer time."""
        with self.span(COUNTERS):
            return fn()

    def force(self, df):
        """Execute ``df`` here (persist + count); returns its row count."""
        if not df.storageLevel.useMemory and not df.storageLevel.useDisk:
            df.persist()
        return df.count()

    # -- patching ------------------------------------------------------------
    def wrap(self, module, attr, layer, after=None, force=True):
        """Replace ``module.attr`` (and every alias of it in loaded package
        modules) by a traced wrapper.  ``after(tracer, result, rows, args,
        kwargs)`` records counts inside the span; ``rows`` are
        the row counts of the forced DataFrames."""
        orig = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(layer):
                out = orig(*args, **kwargs)
                rows = [tracer.force(df) for df in _dataframes(out)] if force else []
                if after is not None:
                    after(tracer, out, rows, args, kwargs)
                return out

        wrapper.__wrapped__ = orig
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if not name.startswith("string_grouper_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapper)
                    self._patched.append((mod, key, orig))
        if getattr(module, attr) is not wrapper:  # a class attribute
            setattr(module, attr, wrapper)
            self._patched.append((module, attr, orig))

    def uninstall(self):
        for mod, key, orig in reversed(self._patched):
            setattr(mod, key, orig)
        self._patched.clear()

    # -- reporting -----------------------------------------------------------
    def table(self) -> dict:
        """``{span name: [calls, total_s, self_s]}`` over recorded spans."""
        out: dict = {}
        for sp in self.spans:
            row = out.setdefault(sp.name, [0, 0.0, 0.0])
            row[0] += 1
            row[1] += sp.end - sp.start
            row[2] += (sp.end - sp.start) - sp.child_s
        return out


def _dataframes(out):
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        return [out]
    if isinstance(out, tuple):
        return [o for o in out if isinstance(o, DataFrame)]
    return []


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

EVENT_FIELDS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb", "failed_tasks",
    "jobs",
)


def event_log_metrics(path: str) -> dict:
    """``{job_group: {metric: value}}`` from one uncompressed event log.

    ``peak_exec_mem_mb`` is the largest single-task peak; the others are
    sums over tasks.  ``jobs`` counts jobs started under the group.
    """
    stage_group: dict = {}
    out: dict = {}

    def acc(group):
        return out.setdefault(group, {k: 0.0 for k in EVENT_FIELDS})

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untraced"
                acc(group)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), "untraced")
                a = acc(group)
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                if reason != "Success":
                    a["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                if not m:
                    continue
                a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                a["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 2**20
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                a["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 2**20
                a["peak_exec_mem_mb"] = max(
                    a["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / 2**20
                )
    return out
