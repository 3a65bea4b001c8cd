"""Span tracing for the traced run.

The tracer wraps public functions of the engine's modules from the
outside (no engine file changes). Each call becomes a span with a name,
start, end, parent span and operation id; spans stay in memory and are
written once the run ends. A span's layer is the first component of its
name (``tables.update`` -> ``tables``); a layer's self time is the time
in its spans minus the time in their child spans.

Spark-side counters come from the JVM status store after the run: each
job is assigned to the operation whose wall-clock window holds the
job's submission time.
"""

from __future__ import annotations

import functools
import importlib
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable

PKG = "databricks_delta_lake_project_spark"

# (module, attribute path, span name). The span name may be a callable
# that picks a name from the call's arguments.
LOG_STATE = (
    "active_files",
    "schema_at",
    "table_properties",
    "partition_columns",
    "latest_checkpoint",
)


def _to_df_name(args: tuple, kwargs: dict) -> str:
    travel = kwargs.get("version") is not None or kwargs.get("timestamp_ms") is not None
    return "tables.time_travel" if travel or len(args) > 1 else "tables.read"


TARGETS: list[tuple[str, str, Any]] = [
    ("tables.table", "LakeTable.create", "tables.create"),
    ("tables.table", "LakeTable.overwrite", "tables.overwrite"),
    ("tables.table", "LakeTable.append", "tables.append"),
    ("tables.table", "LakeTable.update", "tables.update"),
    ("tables.table", "LakeTable.delete", "tables.delete"),
    ("tables.table", "MergeBuilder.execute", "tables.merge"),
    ("tables.table", "LakeTable.read_where", "tables.read"),
    ("tables.table", "LakeTable.to_df", _to_df_name),
    ("tables.table", "LakeTable.__init__", "tables.open"),
    ("tables.delta_log", "DeltaLogBackend.commit", "tables.log_commit"),
    ("tables.log", "commit", "tables.log_commit"),
    *[("tables.delta_log", f"DeltaLogBackend.{m}", "tables.log_state") for m in LOG_STATE],
    *[("tables.log", m, "tables.log_state") for m in LOG_STATE],
    ("queries.sqlpack", "run_statement", "tables.sql_frontend"),
    ("queries.catalog", "load", "queries.load"),
    ("pipelines.customer360", "load", "queries.load"),
    ("sources.autoload", "read_file_stream", "sources.read_stream"),
    ("streaming.ops", "sessionized_stream", "streaming.plan"),
    ("streaming.sink", "merge_stream", "streaming.start"),
    ("plans.pipeline", "Pipeline.run", "plans.run"),
    ("quality.expectations", "QualityEngine.apply", "quality.apply"),
    ("quality.event_log", "record_flow_progress", "quality.event_log"),
    ("governance.systables", "record_lineage", "governance.lineage"),
]


class Tracer:
    def __init__(self) -> None:
        # [name, start, end, parent index, op id]
        self.spans: list[list[Any]] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        # (op id, counter) -> value, and every count with its wall time
        self.counters: dict[tuple[int | None, str], float] = defaultdict(float)
        self.events: list[tuple[float, str, float]] = []
        self._patched: list[tuple[Any, str, Any]] = []

    # -- spans -------------------------------------------------------------

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        # a span is always closed innermost-first
        while self._stack and self._stack[-1] != idx:
            self._stack.pop()
        if self._stack:
            self._stack.pop()

    @contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def count(self, name: str, value: float = 1.0) -> None:
        self.counters[(self.op_id, name)] += value
        self.events.append((time.time(), name, value))

    # -- wrappers ----------------------------------------------------------

    def _wrap(self, fn: Callable, name: Any) -> Callable:
        tracer = self
        commit = name == "tables.log_commit"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span_name = name(args, kwargs) if callable(name) else name
            if span_name == "tables.log_state":
                tracer.count("tables.log_state_calls")
            if commit:
                tracer._count_commit(args, kwargs)
            idx = tracer._open(span_name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(idx)
            if span_name == "quality.apply":
                tracer.count("quality.rows_dropped", _dropped(out))
            return out

        return wrapper

    def _count_commit(self, args: tuple, kwargs: dict) -> None:
        # commit(root, operation, add, remove, schema_json, ...) on both
        # log backends; a bound method carries ``self`` first
        if args and not isinstance(args[0], str):
            args = args[1:]
        add = kwargs.get("add", args[2] if len(args) > 2 else []) or []
        remove = kwargs.get("remove", args[3] if len(args) > 3 else []) or []
        self.count("tables.commits")
        self.count("tables.files_added", len(add))
        self.count("tables.files_removed", len(remove))
        self.count("tables.dvs_added", sum(1 for a in add if a.get("deletionVector")))
        self.count(
            "tables.bytes_written",
            sum(int(a.get("bytes") or a.get("size") or 0) for a in add),
        )
        metrics = kwargs.get("metrics") or (args[6] if len(args) > 6 else None) or {}
        self.count("tables.rows_changed", _rows_changed(metrics))

    def install(self) -> None:
        for mod_name, attr, name in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner = mod
            parts = attr.split(".")
            for p in parts[:-1]:
                owner = getattr(owner, p)
            original = owner.__dict__[parts[-1]] if isinstance(owner, type) else getattr(owner, parts[-1])
            wrapped = self._wrap(_unwrap_descriptor(original), name)
            if isinstance(original, classmethod):
                wrapped = classmethod(wrapped)
            elif isinstance(original, staticmethod):
                wrapped = staticmethod(wrapped)
            setattr(owner, parts[-1], wrapped)
            self._patched.append((owner, parts[-1], original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- summaries ---------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Self time per layer, in seconds."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] >= 0 and s[2] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s[2] is not None:
                out[s[0].split(".")[0]] += (s[2] - s[1]) - child[i]
        return dict(out)

    def span_totals(self) -> dict[str, float]:
        """Inclusive time per span name, counting only spans with no
        ancestor of the same name (re-entrant calls count once)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s[2] is None:
                continue
            p = s[3]
            nested = False
            while p >= 0:
                if self.spans[p][0] == s[0]:
                    nested = True
                    break
                p = self.spans[p][3]
            if not nested:
                out[s[0]] += s[2] - s[1]
        return dict(out)

    def self_by_name(self) -> dict[str, float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] >= 0 and s[2] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s[2] is not None:
                out[s[0]] += (s[2] - s[1]) - child[i]
        return dict(out)

    def counter_totals(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for (_op, name), v in self.counters.items():
            out[name] += v
        return dict(out)

    def dump(self) -> list[dict[str, Any]]:
        return [
            {"name": s[0], "start": s[1], "end": s[2], "parent": s[3], "op": s[4]}
            for s in self.spans
        ]


def _dropped(applied: Any) -> int:
    """Rows failing DROP rules, from ``QualityEngine.apply``'s results."""
    _df, results = applied
    return sum(
        r.n_fail for r in results
        if str(getattr(r.rule.action, "value", r.rule.action)).lower() == "drop"
    )


def _unwrap_descriptor(obj: Any) -> Callable:
    if isinstance(obj, (classmethod, staticmethod)):
        return obj.__func__
    return obj


_ROW_KEYS = (
    "numOutputRows",
    "numUpdatedRows",
    "numDeletedRows",
    "numInsertedRows",
    "numTargetRowsUpdated",
    "numTargetRowsInserted",
    "numTargetRowsDeleted",
)


def _rows_changed(metrics: dict) -> int:
    total = 0
    for k in _ROW_KEYS:
        try:
            total += int(metrics.get(k) or 0)
        except (TypeError, ValueError):
            pass
    return total


def harvest_jobs(spark) -> list[dict[str, Any]]:
    """Every job the JVM status store still holds, with its stages'
    shuffle and spill bytes."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stages: dict[int, tuple[int, int]] = {}
    sl = store.stageList(None, False, False, getattr(store, "stageList$default$4")(), None)
    for i in range(sl.size()):
        s = sl.apply(i)
        sid = int(s.stageId())
        w, sp = stages.get(sid, (0, 0))
        stages[sid] = (
            w + int(s.shuffleWriteBytes()),
            sp + int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
        )
    jobs = []
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        sub = j.submissionTime()
        if not sub.isDefined():
            continue
        ids = j.stageIds()
        sids = [int(ids.apply(k)) for k in range(ids.size())]
        jobs.append(
            {
                "submit_ms": int(sub.get().getTime()),
                "tasks": int(j.numTasks()),
                "failed_tasks": int(j.numFailedTasks()),
                "shuffle_write": sum(stages.get(s, (0, 0))[0] for s in sids),
                "spill": sum(stages.get(s, (0, 0))[1] for s in sids),
            }
        )
    return jobs


def python_worker_bytes(spark) -> int:
    """Bytes sent to Python workers, summed over the SQL metrics of
    every execution the SQL status store holds."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    execs = store.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        names: dict[int, str] = {}
        nodes = store.planGraph(e.executionId()).allNodes()
        for k in range(nodes.size()):
            ms = nodes.apply(k).metrics()
            for m in range(ms.size()):
                metric = ms.apply(m)
                if metric.name() == "data sent to Python workers":
                    names[int(metric.accumulatorId())] = metric.name()
        if not names:
            continue
        values = store.executionMetrics(e.executionId())
        for acc in names:
            v = values.get(acc)
            if v.isDefined():
                total += _parse_size(v.get())
    return total


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _parse_size(text: str) -> int:
    """First size in a formatted SQL metric, e.g. ``"12.3 MiB"`` or
    ``"total (min, med, max)\\n12.3 MiB (...)"``."""
    for line in str(text).splitlines():
        parts = line.replace(",", "").split()
        if len(parts) >= 2 and parts[1] in _UNITS:
            try:
                return int(float(parts[0]) * _UNITS[parts[1]])
            except ValueError:
                continue
    return 0
