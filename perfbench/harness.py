"""Per-run state shared by the workloads: the Spark session, the work
directory, the operation log and (in a traced run) the tracer."""

from __future__ import annotations

import os
import resource
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

from .trace import Tracer


@dataclass
class Op:
    kind: str
    round: int
    start: float  # perf_counter seconds
    end: float
    wall_start: float  # epoch seconds, to line up with Spark job times
    wall_end: float
    ok: bool = True
    error: str | None = None
    result: Any = None
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Harness:
    def __init__(self, spark, work: Path, seed: int, tracer: Tracer | None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.ops: list[Op] = []
        self.round = 0
        self.tracing = False

    # -- operations --------------------------------------------------------

    @contextmanager
    def op(self, kind: str, **info):
        """Time one closed-loop operation. An exception inside marks the
        operation failed and is swallowed: the run goes on."""
        rec = Op(kind, self.round, 0.0, 0.0, time.time(), 0.0, info=dict(info))
        self.ops.append(rec)
        span = None
        if self.tracing:
            self.tracer.op_id = len(self.ops) - 1
            span = self.tracer._open("bench.op")
        rec.start = time.perf_counter()
        try:
            yield rec
        except Exception as exc:  # noqa: BLE001 - counted, never fatal
            rec.ok = False
            rec.error = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
        finally:
            rec.end = time.perf_counter()
            rec.wall_end = time.time()
            if span is not None:
                self.tracer._close(span)
                self.tracer.op_id = None

    @contextmanager
    def span(self, name: str):
        """A tracer span when tracing, nothing otherwise."""
        if self.tracing:
            with self.tracer.span(name):
                yield
        else:
            yield

    def collect(self, df) -> list:
        """A Spark action issued by the benchmark itself. In a traced run
        the action's Catalyst phase times are added to the session layer
        counters."""
        with self.span("session.action"):
            rows = df.collect()
        if self.tracing:
            phases = df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                opt = phases.get(phase)
                if opt.isDefined():
                    self.tracer.count(f"session.{phase}_s", opt.get().durationMs() / 1000.0)
        return rows

    def ops_of(self, *kinds: str) -> list[Op]:
        return [o for o in self.ops if o.kind in kinds]

    # -- housekeeping ------------------------------------------------------

    def fresh_dir(self, name: str) -> Path:
        d = self.work / name
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        return d


def dir_bytes(*roots: Path) -> int:
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                try:
                    total += os.lstat(os.path.join(dirpath, f)).st_size
                except OSError:
                    pass
    return total


def _jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def cpu_seconds(spark) -> float:
    """CPU time, user plus system, of this Python process and the driver
    JVM so far."""
    t = os.times()
    with open(f"/proc/{_jvm_pid(spark)}/stat") as fh:
        # the fields after the parenthesised command name; utime and
        # stime are the 14th and 15th fields of the whole line
        fields = fh.read().rsplit(")", 1)[1].split()
    return t.user + t.system + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        with open(f"/proc/{_jvm_pid(spark)}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except (OSError, ValueError):
        pass
    return (py_kb + jvm_kb) / 1024.0
