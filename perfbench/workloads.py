"""The benchmark's workloads.

``llm-pipeline``
    Three documents/embeddings operators at a small scale, chosen so
    that together they cover every analytics layer: a power iteration
    whose build runs eager convergence jobs, an Arrow pair kernel and a
    ``mapInArrow`` batch kernel on the Python worker tier, table loads,
    Catalyst, joins and aggregates. Query build is about 45% of a
    pass, execution about 40%.
``repl-users``
    Scripted sessions through ``Repl.handle_line`` on a fresh table
    directory: three sessions of inserts with about 5% invalid lines,
    ``select`` after every 20 inserts and on every reopen, ``.btree``
    once, ``.exit`` after each session (one new parquet file per
    flush), then a fourth session that reads the last flush back. The
    only workload on ``repl``, ``plans`` and ``storage``.

Streaming twins are deliberately not measured: their spin-up is to be
measured once, not tracked.

Every workload exposes the same steps to ``run.py``: ``stage`` (one
set-up round), ``warm_up``, ``check``, ``one_pass`` and the metric
reductions.
"""

from __future__ import annotations

import io
import os
import shutil
import statistics
import time
from collections import defaultdict

import datagen
from oracle import DuckOracle, spark_digest
from spans import SparkCounters, Tracer


#: End-to-end metrics printed by ``--trace 0``, with units. Apart from
#: set-up time and memory they are CPU time of the engine's processes,
#: not wall time: on a shared host the hypervisor gives the CPUs to
#: other guests for minutes at a time (steal), which slows every wall
#: time of a run and is not charged to any process. ``run.py`` scales
#: them to a reference job timed in the same run.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "query_cpu_geomean_s": "s",
    "select_cpu_ms.p50": "ms",
    "select_cpu_ms.p90": "ms",
    "exit_cpu_ms.p50": "ms",
    "open_cpu_ms.p50": "ms",
    "peak_rss_mb": "MB",
}

#: The same reductions over wall time, printed in the report only.
WALL = {"pass_cpu_s": "pass_s", "query_cpu_geomean_s": "query_geomean_s",
        "select_cpu_ms.p50": "select_ms.p50", "select_cpu_ms.p90": "select_ms.p90",
        "exit_cpu_ms.p50": "exit_ms.p50", "open_cpu_ms.p50": "open_ms.p50"}

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its live descendants (the driver JVM, the Python workers), each
    including its reaped children. The kernel charges a process only
    for time it ran, so time stolen by the hypervisor is left out."""
    parent, used = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        parent[pid] = int(fields[1])
        used[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    children = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(children[pid])
    return total / _TICK


#: Per-layer metrics printed by ``--trace 1``, with units. Every
#: workload prints all of them (0 where a layer is not on its path).
PER_LAYER = {
    "session.get_spark_s": "s",
    "operators.load_all_s": "s",
    "catalog.load_table.calls": "count",
    "catalog.load_table.s": "s",
    "catalog.load_table.jobs": "count",
    "operators.build.self_s": "s",
    "operators.build.driver_s": "s",
    "operators.build.eager_jobs": "count",
    "operators.build.eager_sql_executions": "count",
    "operators.build.eager_exec_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.span_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.output_rows": "count",
    "exec.broadcast_exchanges": "count",
    "python_worker.rows": "count",
    "python_worker.bytes_sent": "B",
    "python_worker.bytes_returned": "B",
    "python_worker.time_s": "s",
    "plans.prepare.s": "s",
    "repl.handle_line.self_s": "s",
    "storage.open.s": "s",
    "storage.open.jobs": "count",
    "storage.insert.s": "s",
    "storage.select_rows.s": "s",
    "storage.select_rows.jobs": "count",
    "storage.keys_in_order.s": "s",
    "storage.flush.s": "s",
    "storage.flush.jobs": "count",
    "storage.files": "count",
    "storage.bytes_per_user_byte": "ratio",
    "bench.loop_s": "s",
    "trace.collect_s": "s",
    "trace.self_sum_s": "s",
    "trace.pass_traced_s": "s",
    "trace.pass_untraced_s": "s",
    "trace.overhead_s": "s",
    "determinism.checked_ops": "count",
    "determinism.mismatched_ops": "count",
}

#: Span name -> per-layer metric holding its self time.
SELF_TIME = {
    "catalog.load_table": "catalog.load_table.s",
    "operators.build": "operators.build.self_s",
    "catalyst": "catalyst.span_s",
    "exec": "exec.s",
    "plans.prepare": "plans.prepare.s",
    "repl.handle_line": "repl.handle_line.self_s",
    "storage.open": "storage.open.s",
    "storage.insert": "storage.insert.s",
    "storage.select_rows": "storage.select_rows.s",
    "storage.keys_in_order": "storage.keys_in_order.s",
    "storage.flush": "storage.flush.s",
    "trace.collect": "trace.collect_s",
    "bench.loop": "bench.loop_s",
}

#: Work counters that must repeat exactly between traced passes.
DETERMINISTIC = ("exec.jobs", "exec.stages", "exec.tasks",
                 "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
                 "exec.output_rows", "operators.build.eager_jobs", "jobs")


class Workload:
    #: Untraced passes a run makes at least, so per-op medians have
    #: more than one sample.
    min_passes = 2

    def __init__(self, seed: int, cores: int) -> None:
        self.seed, self.cores = seed, cores
        self.spark = None
        self.counters: SparkCounters | None = None
        self.round_dir: str | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def _new_round(self, spark, round_dir: str) -> None:
        if self.round_dir:
            shutil.rmtree(self.round_dir, ignore_errors=True)
        self.spark, self.round_dir = spark, round_dir
        os.makedirs(round_dir)

    def bind(self, spark) -> None:
        """Read Spark's status stores for traced passes."""
        self.counters = SparkCounters(spark)

    def set_group(self, group: str | None) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    def job_counter_hooks(self) -> dict:
        """Hooks for a span that counts the Spark jobs it started in the
        current job group (used only while tracing)."""
        def on_enter():
            if self.counters is None:
                return None
            group = self.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            return group, self.counters.job_ids(group)

        def on_exit(rec, token):
            if token is not None:
                group, before = token
                rec["jobs"] = len(self.counters.job_ids(group) - before)

        return {"on_enter": on_enter, "on_exit": on_exit}

    def layer_metrics(self, passes: list[dict], cold: dict) -> dict:
        traced = [p for p in passes if p["traced"]]
        untraced = [p for p in passes if not p["traced"]]
        n = len(traced)
        out = dict.fromkeys(PER_LAYER, 0.0)
        out["session.get_spark_s"] = cold["session.get_spark"]
        out["operators.load_all_s"] = cold["operators.load_all"]
        for p in traced:
            for span, metric in SELF_TIME.items():
                out[metric] += p["self"].get(span, 0.0) / n
            out["catalog.load_table.calls"] += p["counts"].get("catalog.load_table", 0) / n
            for span in ("catalog.load_table", "storage.open", "storage.select_rows",
                         "storage.flush"):
                out[f"{span}.jobs"] += p["jobs"].get(span, 0) / n
            for op in p["ops"]:
                for key, value in op.get("counters", {}).items():
                    if key in PER_LAYER:
                        out[key] += value / n
        out["operators.build.driver_s"] = (out["operators.build.self_s"]
                                           - out["operators.build.eager_exec_s"])
        out["trace.self_sum_s"] = sum(sum(p["self"].values()) for p in traced) / n
        out["trace.pass_traced_s"] = statistics.mean(p["s"] for p in traced)
        out["trace.pass_untraced_s"] = statistics.mean(p["s"] for p in untraced)
        out["trace.overhead_s"] = out["trace.pass_traced_s"] - out["trace.pass_untraced_s"]
        checked, mismatched = self.determinism(traced)
        out["determinism.checked_ops"] = checked
        out["determinism.mismatched_ops"] = len(mismatched)
        self.nondeterministic = mismatched
        return {k: (v, PER_LAYER[k]) for k, v in out.items()}

    @staticmethod
    def determinism(traced: list[dict]) -> tuple[int, list[str]]:
        """Compare each op's work counters across traced passes; returns
        (ops compared, descriptions of those that differed)."""
        def signature(p):
            sig = defaultdict(lambda: defaultdict(float))
            for op in p["ops"]:
                for key in DETERMINISTIC:
                    sig[op["name"]][key] += op.get("counters", {}).get(key, 0)
            return sig

        first, mismatched, checked = signature(traced[0]), [], 0
        for p in traced[1:]:
            for name, counts in signature(p).items():
                checked += 1
                diff = {k: (first[name][k], v) for k, v in counts.items()
                        if first[name][k] != v}
                if diff:
                    mismatched.append(f"{name}: {dict(diff)}")
        return checked, mismatched


class LlmPipeline(Workload):
    """Registered queries, each built and materialized with the noop
    sink; the seed sets the query order of every pass."""

    queries = ("pca_power_iteration", "embedding_neardup_pairs",
               "arrow_batch_token_stats")
    sf = 0.01
    #: Three passes of 5-7 s, so the median drops one slow pass.
    min_passes = 3
    #: The tables are the same in every run: the work of these queries
    #: depends on the data (power-iteration rounds, near-duplicate
    #: pairs, document lengths), and across data seeds one pass took up
    #: to 1.2 times the CPU of another.
    data_seed = 1

    def stage(self, spark, round_dir: str) -> None:
        from sql_database_engine_spark import operators

        self._new_round(spark, round_dir)
        missing = [q for q in self.queries if q not in operators.ORACLES]
        if missing:
            raise KeyError(f"queries without a DuckDB twin: {missing}")
        self.sf_dir = os.path.join(round_dir, "base")
        datagen.generate(self.sf_dir, self.data_seed, self.sf)

    def install_trace(self, tracer) -> None:
        """Query callables are spanned at their call site in ``one_pass``."""

    def warm_up(self) -> None:
        """First execution of every query, collecting its rows for the
        output check; then one pass of the timed path, because a query's
        second run still took up to 1.5 times its later CPU time."""
        from sql_database_engine_spark.operators import QUERIES

        self.digests = {}
        for name in self.queries:
            self.attempted += 1
            try:
                self.digests[name] = spark_digest(QUERIES[name](self.spark, self.sf_dir))
            except Exception as e:  # a failing query is a counted failure
                self._fail(f"{name} (warm-up): {type(e).__name__}: {str(e)[:300]}")
        for name in self.digests:
            self._run_query(name, Tracer())

    def check(self) -> None:
        from sql_database_engine_spark.operators import ORACLES

        oracle = DuckOracle(self.sf_dir, self.cores)
        try:
            for name, got in self.digests.items():
                self.attempted += 1
                if oracle.digest(ORACLES[name]) != got:
                    self._fail(f"{name}: result differs from its DuckDB twin")
        finally:
            oracle.close()

    def one_pass(self, rng, tracer) -> list[dict]:
        order = list(self.queries)
        rng.shuffle(order)
        ops = []
        for name in order:
            self.attempted += 1
            try:
                ops.append(self._run_query(name, tracer))
            except Exception as e:
                self._fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        return ops

    def _run_query(self, name: str, tracer) -> dict:
        """Build and drain one query; returns its op record (build and
        total seconds, plus Spark counters while tracing)."""
        from sql_database_engine_spark.operators import QUERIES

        t0 = time.perf_counter()
        if not tracer.enabled:
            c0 = tree_cpu_s()
            df = QUERIES[name](self.spark, self.sf_dir)
            t1, c1 = time.perf_counter(), tree_cpu_s()
            df.write.format("noop").mode("overwrite").save()
            t2, c2 = time.perf_counter(), tree_cpu_s()
            return {"name": name, "s": t2 - t0, "build_s": t1 - t0, "exec_s": t2 - t1,
                    "cpu_s": c2 - c0, "build_cpu_s": c1 - c0, "exec_cpu_s": c2 - c1}
        c = self.counters
        build, run = f"q:{name}:build", f"q:{name}:exec"
        self.set_group(build)
        jobs0, x0, mark = c.job_ids(build), c.executions(), tracer.mark()
        with tracer.span("operators.build"):
            df = QUERIES[name](self.spark, self.sf_dir)
        jobs1, x1 = c.job_ids(build), c.executions()
        load_jobs = sum(s.get("jobs", 0) for s in tracer.spans[mark:]
                        if s["name"] == "catalog.load_table")
        with tracer.span("catalyst"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
        self.set_group(run)
        ejobs0 = c.job_ids(run)
        with tracer.span("exec"):
            df.write.format("noop").mode("overwrite").save()
        ejobs1, x2 = c.job_ids(run), c.executions()
        self.set_group(None)
        with tracer.span("trace.collect"):
            eager = c.sql_metrics(x0, x1)
            ex = c.sql_metrics(x1, x2)
            stages = c.stages(ejobs1 - ejobs0)

            def phase(key):
                opt = phases.get(key)
                return opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0

            counters = {
                "operators.build.eager_jobs": len(jobs1 - jobs0) - load_jobs,
                "operators.build.eager_sql_executions": eager["executions"],
                "operators.build.eager_exec_s": eager["exec_s"],
                "catalyst.analysis_s": phase("analysis"),
                "catalyst.optimization_s": phase("optimization"),
                "catalyst.planning_s": phase("planning"),
                "exec.jobs": len(ejobs1 - ejobs0),
                "exec.output_rows": ex["output_rows"],
                "exec.broadcast_exchanges": ex["broadcast_exchanges"],
                "python_worker.rows": ex["py_rows"] + eager["py_rows"],
                "python_worker.bytes_sent": ex["py_bytes_sent"] + eager["py_bytes_sent"],
                "python_worker.bytes_returned": (ex["py_bytes_returned"]
                                                 + eager["py_bytes_returned"]),
                "python_worker.time_s": ex["py_time_s"] + eager["py_time_s"],
            }
            counters.update({f"exec.{k}": v for k, v in stages.items()})
        return {"name": name, "s": time.perf_counter() - t0, "counters": counters}

    def latencies(self, untraced, clock: str) -> dict:
        """Samples in seconds of ``clock`` (``"s"`` wall, ``"cpu_s"``
        CPU). A query is opened by building its DataFrame and exited by
        draining it; ``select`` is both. ``select`` samples are per-query
        medians, each query counted once; ``open`` and ``exit`` samples
        are each pass's mean over its queries. (A percentile over the
        raw samples of three queries of very different lengths is one
        query's time, and jumps between queries from run to run.)"""
        samples = defaultdict(list)
        for p in untraced:
            for op in p["ops"]:
                samples[op["name"]].append(op[clock])
        total = [statistics.median(v) for v in samples.values()]

        def pass_means(key: str) -> list[float]:
            return [statistics.mean(op[key] for op in p["ops"]) for p in untraced]

        return {"per_query": total, "select": total,
                "exit": pass_means(f"exec_{clock}"), "open": pass_means(f"build_{clock}")}


# Reference REPL contract (exact output lines).
EXECUTED = "Executed."
NEGATIVE_ID = "ID must be positive."
STRING_TOO_LONG = "String is too long."
TABLE_FULL = "Error: Table full"
TABLE_MAX_ROWS = 1400


class UsersModel:
    """Expected REPL output for a statement stream: the acknowledged
    rows in insertion order."""

    def __init__(self) -> None:
        self.rows: list[tuple[int, str, str]] = []
        self.pending = 0  # acknowledged inserts not yet flushed

    def expect(self, line: str) -> list[str]:
        if line[:6] == "insert":
            row_id, user, email = line[6:].split()
            if int(row_id) < 0:
                return [NEGATIVE_ID]
            if len(user) > 32 or len(email) > 255:
                return [STRING_TOO_LONG]
            if len(self.rows) >= TABLE_MAX_ROWS:
                return [TABLE_FULL]
            self.rows.append((int(row_id), user, email))
            self.pending += 1
            return [EXECUTED]
        if line == "select":
            return [f"({i}, {u}, {e})" for i, u, e in self.rows] + [EXECUTED]
        if line == ".btree":
            return (["Tree:", f"leaf (size {len(self.rows)})"]
                    + [f"  - {k} : {r[0]}" for k, r in enumerate(self.rows)])
        if line == ".exit":
            self.pending = 0
            return []
        return [f"Unrecognized keyword at start of '{line}'"]


class ReplUsers(Workload):
    """Three open -> statements -> ``.exit`` sessions per table, then
    one open -> ``select`` -> ``.exit`` session that reads the last
    flush back; a new table directory every pass."""

    SESSIONS = 3  # sessions that insert
    INSERTS_PER_SESSION = 20
    SELECT_EVERY = 20
    INVALID_SHARE = 0.05

    def stage(self, spark, round_dir: str) -> None:
        self._new_round(spark, round_dir)
        self.passes = 0

    def install_trace(self, tracer) -> None:
        from sql_database_engine_spark import repl, storage

        hooks = self.job_counter_hooks()
        tracer.wrap(repl.Repl, "handle_line", "repl.handle_line")
        tracer.wrap(repl, "prepare", "plans.prepare")
        tracer.wrap(storage.UsersTable, "__init__", "storage.open", **hooks)
        tracer.wrap(storage.UsersTable, "insert", "storage.insert")
        tracer.wrap(storage.UsersTable, "select_rows", "storage.select_rows", **hooks)
        tracer.wrap(storage.UsersTable, "keys_in_order", "storage.keys_in_order", **hooks)
        tracer.wrap(storage.UsersTable, "flush", "storage.flush", **hooks)

    @staticmethod
    def _insert_line(rng) -> str:
        user = f"user{rng.randrange(10**6)}"
        if rng.random() >= ReplUsers.INVALID_SHARE:
            return f"insert {rng.randrange(10**6)} {user} {user}@example.com"
        kind = rng.randrange(3)
        if kind == 0:
            return f"insert -{rng.randrange(1, 1000)} {user} {user}@example.com"
        if kind == 1:
            return f"insert {rng.randrange(10**6)} {'u' * 33} {user}@example.com"
        return f"update {rng.randrange(10**6)} {user} {user}@example.com"

    def _script(self, rng, session: int) -> list[str]:
        # Every reopen first reads back what earlier sessions flushed.
        lines = ["select"] if session > 0 else []
        if session < self.SESSIONS:
            for k in range(1, self.INSERTS_PER_SESSION + 1):
                lines.append(self._insert_line(rng))
                if k % self.SELECT_EVERY == 0:
                    lines.append("select")
            if session == self.SESSIONS - 1:
                lines.append(".btree")
        return lines + [".exit"]

    def _open(self, path: str, ops: list, reopen: bool):
        from sql_database_engine_spark.repl import Repl

        out = io.StringIO()
        self.attempted += 1
        c = tree_cpu_s()
        t = time.perf_counter()
        r = Repl(self.spark, path, out=out)
        ops.append({"name": "open", "s": time.perf_counter() - t,
                    "cpu_s": tree_cpu_s() - c, "reopen": reopen})
        return r, out

    def _drive(self, r, out, model: UsersModel, line: str, ops: list, traced: bool) -> None:
        self.attempted += 1
        kind = line.split(" ", 1)[0].lstrip(".") if line[:6] != "insert" else "insert"
        start = out.tell()
        buffered = model.pending > 0
        jobs0 = self.counters.job_ids(f"repl:{kind}") if traced else None
        if traced:
            self.set_group(f"repl:{kind}")
        # Inserts take microseconds; reading CPU time around them would
        # cost more than they do.
        c = tree_cpu_s() if kind != "insert" else 0.0
        t = time.perf_counter()
        r.handle_line(line)
        elapsed = time.perf_counter() - t
        op = {"name": kind, "s": elapsed, "buffered": buffered}
        if kind != "insert":
            op["cpu_s"] = tree_cpu_s() - c
        if traced:
            op["counters"] = {"jobs": len(self.counters.job_ids(f"repl:{kind}") - jobs0)}
            self.set_group(None)
        ops.append(op)
        got = out.getvalue()[start:].splitlines()
        want = model.expect(line)
        if got != want:
            self._fail(f"repl line {line[:60]!r}: expected {len(want)} lines "
                       f"{want[-1:]!r}, got {len(got)} lines {got[-1:]!r}")

    #: Every statement path once: ``select`` on buffered rows only, on
    #: stored rows only and on both, ``.btree``, flush and reopen.
    WARM_UP = (["insert 1 warm warm@example.com", "select", ".exit"],
               ["select", "insert 2 warm warm@example.com", "select", ".btree", ".exit"])

    def warm_up(self) -> None:
        """Run every statement path once, so the timed passes do not pay
        its first run; then the capacity scenario: fill one table to the
        row cap, check that the next insert is refused, and that every
        row survives a reopen in insertion order."""
        self._sessions(os.path.join(self.round_dir, "warm"), self.WARM_UP, traced=False)
        fill = [f"insert {k} user{k} user{k}@example.com" for k in range(TABLE_MAX_ROWS + 1)]
        self._sessions(os.path.join(self.round_dir, "cap"),
                       (fill + [".exit"], ["select", "insert 1 late late@example.com", ".exit"]),
                       traced=False)

    def check(self) -> None:
        """REPL output is checked line by line as it runs."""

    def one_pass(self, rng, tracer) -> list[dict]:
        path = os.path.join(self.round_dir, f"pass{self.passes}")
        self.passes += 1
        scripts = [self._script(rng, k) for k in range(self.SESSIONS + 1)]
        model, ops = self._sessions(path, scripts, tracer.enabled)
        if tracer.enabled:
            files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            stored = sum(os.path.getsize(os.path.join(path, f)) for f in files)
            user_bytes = sum(4 + len(u) + len(e) for _, u, e in model.rows)
            ops.append({"name": "storage", "s": 0.0, "counters": {
                "storage.files": len(files),
                "storage.bytes_per_user_byte": stored / max(user_bytes, 1)}})
        return ops

    def _sessions(self, path: str, scripts, traced: bool):
        """Open ``path`` once per script and drive its lines; returns
        the model of the table and the op records."""
        model, ops = UsersModel(), []
        for k, lines in enumerate(scripts):
            if traced:
                self.set_group("repl:open")
            r, out = self._open(path, ops, reopen=k > 0)
            for line in lines:
                self._drive(r, out, model, line, ops, traced)
        return model, ops

    def latencies(self, untraced, clock: str) -> dict:
        """Samples in seconds of ``clock`` (``"s"`` wall, ``"cpu_s"``
        CPU) of ``select`` and ``.exit`` while the session holds
        unflushed inserts (a merge of stored files and buffer, and a
        flush), and of reopens of a stored table. Read-back selects
        right after a reopen and the final session's empty ``.exit`` are
        checked but not timed here: they are different, much cheaper
        operations, and mixing them in would put p50 between two
        modes."""
        by_kind = defaultdict(list)
        for p in untraced:
            for op in p["ops"]:
                if op["name"] != "insert" and (op.get("buffered") or op.get("reopen")):
                    by_kind[op["name"]].append(op[clock])
        p50 = [statistics.median(by_kind[k]) for k in ("select", "exit", "open")]
        return {"per_query": p50, **{k: by_kind[k] for k in ("select", "exit", "open")}}


WORKLOADS = {"llm-pipeline": LlmPipeline, "repl-users": ReplUsers}
