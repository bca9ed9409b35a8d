"""In-memory spans around the engine's public calls, plus readers for
Spark's own status stores.

Spans are recorded from the benchmark's side only: :meth:`Tracer.wrap`
replaces a module or class attribute with a timing wrapper, and
:meth:`Tracer.span` times a block at a call site. A span records its
name, start, end and parent; a layer's self time is its spans'
duration minus the time covered by their child spans. Everything stays
in memory until :meth:`Tracer.dump` writes it at the end of a run.

``SparkCounters`` reads work counts that Spark itself keeps, with the
UI disabled: job -> stage ids from ``statusTracker()``, per-stage task
metrics from the application status store, and per-operator SQL
metrics from ``sharedState().statusStore()``.
"""

from __future__ import annotations

import functools
import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Single-threaded span recorder (the benchmark drives the engine
    from one thread; Spark's own threads are read through counters)."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, on_enter=None, on_exit=None):
        """Replace ``owner.attr`` with a wrapper that records a span.

        ``on_enter()`` returns a token handed to ``on_exit(rec, token)``
        after the call, for counters read around the call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            token = on_enter() if on_enter else None
            with self.span(name) as rec:
                try:
                    return fn(*args, **kwargs)
                finally:
                    if on_exit:
                        on_exit(rec, token)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def mark(self) -> int:
        """Index of the next span; spans after it belong to one pass."""
        return len(self.spans)

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Layer name -> summed self time of its spans after ``since``."""
        spans = self.spans[since:]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def totals(self, since: int = 0, key: str | None = None) -> dict[str, float]:
        """Layer name -> summed span duration (or summed attribute ``key``)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans[since:]:
            out[s["name"]] += (s["end"] - s["start"]) if key is None else s.get(key, 0)
        return dict(out)

    def counts(self, since: int = 0) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans[since:]:
            out[s["name"]] += 1
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([-\d,.]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Numeric value of a formatted SQL metric: ``1,345``, ``2.1 MiB``,
    ``2.6 s``, or the ``total (min, med, max ...)\\n<total> (...)`` form.
    Sizes come back in bytes and timings in seconds."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkCounters:
    """Work counts for the jobs of one job group and the SQL executions
    started in an interval, read from Spark's status stores."""

    STAGE_FIELDS = ("tasks", "failed_tasks", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "executor_run_s",
                    "executor_cpu_s")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._no_status = self.sc._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    def job_ids(self, group: str) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(group))

    def executions(self) -> int:
        return self.sql.executionsCount()

    def stages(self, job_ids) -> dict[str, float]:
        """Executed stages of ``job_ids`` and their task metrics
        (skipped stages, whose shuffle output was reused, count as 0)."""
        out = dict.fromkeys(("stages",) + self.STAGE_FIELDS, 0.0)
        seen = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                data = self.store.stageData(sid, False, self._no_status, False,
                                            self._no_quantiles)
                for i in range(data.size()):
                    s = data.apply(i)
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numTasks()
                    out["failed_tasks"] += s.numFailedTasks()
                    out["shuffle_read_bytes"] += s.shuffleReadBytes()
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    out["executor_run_s"] += s.executorRunTime() / 1e3
                    out["executor_cpu_s"] += s.executorCpuTime() / 1e9
        return out

    def sql_metrics(self, first: int, last: int) -> dict[str, float]:
        """Per-operator SQL metrics of executions ``first..last-1``:
        rows produced by every operator, broadcast exchanges, the
        Python-worker boundary, and the executions' wall time."""
        out = dict.fromkeys(("executions", "exec_s", "output_rows",
                             "broadcast_exchanges", "py_rows", "py_bytes_sent",
                             "py_bytes_returned", "py_time_s"), 0.0)
        if last <= first:
            return out
        execs = self.sql.executionsList(first, last - first)
        for i in range(execs.size()):
            e = execs.apply(i)
            out["executions"] += 1
            done = e.completionTime()
            if done.isDefined():
                out["exec_s"] += (done.get().getTime() - e.submissionTime()) / 1e3
            values = self.sql.executionMetrics(e.executionId())
            nodes = self.sql.planGraph(e.executionId()).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                metrics = {}
                ms = node.metrics()
                for k in range(ms.size()):
                    pm = ms.apply(k)
                    v = values.get(pm.accumulatorId())
                    metrics[pm.name()] = parse_metric(v.get()) if v.isDefined() else 0.0
                out["output_rows"] += metrics.get("number of output rows", 0.0)
                if node.name() == "BroadcastExchange":
                    out["broadcast_exchanges"] += 1
                if "data sent to Python workers" in metrics:
                    out["py_rows"] += metrics.get("number of output rows", 0.0)
                    out["py_bytes_sent"] += metrics["data sent to Python workers"]
                    out["py_bytes_returned"] += metrics.get(
                        "data returned from Python workers", 0.0)
                    out["py_time_s"] += metrics.get("time to run Python workers", 0.0)
        return out
