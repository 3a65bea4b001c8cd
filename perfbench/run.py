"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lake_dml --seed 1 --seconds 30 --trace 0

Every run does a fixed amount of work: each workload's ``ROUNDS``
rounds. ``--seconds`` is accepted for the caller's interface and
recorded in the stamp; it does not change the work, so a faster engine
runs the same operations as a slower one.

Every metric is printed as ``metric <name> = <value> <unit>``; the last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the JSON
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones of a traced round (see README.md). Full results, and in
a traced run every span, are written under ``.perfbench/`` at the root
of the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))
PKG_DIR = ROOT / "databricks_delta_lake_project_spark"

WORKLOADS = ("lake_dml", "stream_ingest", "medallion_refresh", "catalog_scan")
DRIVER_MEM = "1g"

# The metrics of the result line, as listed in BENCHMARK.json: the
# end-to-end ones of an untraced run, the per-layer ones of a traced run.
# Every other metric is printed and written to the results file. The
# round's CPU time is gated rather than its wall time: on a machine shared
# with other tenants, the quartile spread of ten runs' wall times reached
# 0.3-0.5 of the median, that of their CPU times 0.06-0.13 (README.md).
E2E_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
    "stored_mb": "MB",
    "peak_rss_mb": "MB",
}
# Per-layer metrics that both gated workloads produce and that an
# optimisation can move. A layer time that one workload never enters
# (streaming on lake_dml, DML on stream_ingest) is printed but left out,
# as it reads 0 on every run; so are counts fixed by the inputs.
PER_LAYER = (
    "self.bench_s", "self.tables_s",
    "trace.wall_s", "trace.overhead_s", "trace.self_sum_ratio",
    "session.jobs", "session.tasks", "session.shuffle_write_mb",
    "tables.merge_s", "tables.log_state_s", "tables.log_state_calls", "tables.log_commit_s",
    "tables.commits", "tables.files_added", "tables.files_removed",
    "tables.bytes_written_per_row_changed",
    *(f"ops.{kind}.{key}" for kind in (
        "sql_insert", "update", "sql_delete", "merge", "point_read", "count", "time_travel", "batch",
    ) for key in ("jobs", "log_state_calls", "files_added")),
)


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _session(work: Path, nproc: int, trace: bool):
    from databricks_delta_lake_project_spark.session import get_spark

    tmp = work / "tmp"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp / "spark"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": str(tmp / "hadoop"),
        "spark.driver.extraJavaOptions": (
            # initial heap = maximum heap: the heap's share of the RSS
            # does not depend on when the collector chose to grow it
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={work / 'derby'}"
        ),
    }
    if trace:
        # keep every job and stage for the per-operation counters
        conf.update(
            {
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    # recorded only: the work per run is fixed (see the module docstring)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (PKG_DIR / "__init__.py").is_file():
        print(f"perfbench: engine package not found at {PKG_DIR}", file=sys.stderr)
        return 2

    nproc = _nproc()
    out_dir = ROOT / ".perfbench"
    work = out_dir / f"work-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp" / "spark").mkdir(parents=True)
    # keep every temporary file of this process and its children inside
    # the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp" / "spark")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    import tempfile

    tempfile.tempdir = str(work / "tmp")

    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, nproc, bool(args.trace))
        start_s = time.perf_counter() - t0
        result = _run(spark, args, work, nproc, start_s)
    finally:
        if spark is not None:
            spark.stop()
            # the JVM exits when its stdin closes; wait until it has
            from pyspark import SparkContext

            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    out_dir.mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (out_dir / name).write_text(json.dumps(result["full"], indent=1, default=str))
    for k, (v, unit) in sorted(result["printed"].items()):
        print(f"metric {k} = {v} {unit}")
    print(json.dumps(result["line"]))
    return 0


def _run(spark, args, work: Path, nproc: int, start_s: float) -> dict:
    import pyspark

    from perfbench import stats
    from perfbench.harness import Harness, cpu_seconds, peak_rss_mb
    from perfbench.trace import Tracer, python_worker_bytes

    wl = importlib.import_module(f"perfbench.{args.workload}")
    tracer = Tracer() if args.trace else None
    h = Harness(spark, work, args.seed, tracer)

    # an untimed pass over the code paths a round uses and set-up does
    # not, so that the rounds measure the engine's work rather than class
    # loading and compilation in a fresh JVM; in a traced run the untraced
    # round does that for the traced one
    warm_up_s = None
    if hasattr(wl, "warm_up") and not args.trace:
        t0 = time.perf_counter()
        wl.warm_up(h)
        warm_up_s = time.perf_counter() - t0

    # a traced run reports no setup_s, so it sets up once
    setup_times = []
    for rep in range(1 if args.trace else wl.SETUP_REPS):
        t0 = time.perf_counter()
        st = wl.setup(h, rep)
        setup_times.append(time.perf_counter() - t0)

    # a fixed number of untraced rounds
    walls, cpus = [], []
    for r in range(wl.ROUNDS):
        h.round = r
        c0 = cpu_seconds(spark)
        walls.append(wl.run_round(h, st, r))
        cpus.append(cpu_seconds(spark) - c0)
    untraced_ops = list(h.ops)
    # the timed rounds' memory, before the traced round and the oracles
    rss = peak_rss_mb(spark)

    traced = {}
    if tracer is not None:
        h.round = len(walls)
        first_op = len(h.ops)
        tracer.install()
        h.tracing = True
        try:
            traced_wall = wl.run_round(h, st, h.round)
        finally:
            h.tracing = False
            tracer.uninstall()
        # the untraced rounds are the reference for the tracing overhead;
        # a second pass over the same work runs warmer, so the overhead
        # reads low (see README.md)
        traced_ops = h.ops[first_op:]
        reference = statistics.median(walls)
        traced = _per_layer(h, st, tracer, spark, traced_ops, traced_wall, reference, wl)
        traced["session.python_mb"] = python_worker_bytes(spark) / 1e6

    t0 = time.perf_counter()
    extra_attempted, extra_failed, notes = wl.check(h, st)
    check_s = time.perf_counter() - t0

    ops = untraced_ops
    extra = wl.extra_e2e(h, st, ops, walls)
    lat = [o.seconds for o in ops]
    # the number of operations is fixed by the workload, so the choice
    # of percentile does not depend on how fast the engine is
    tail_p = stats.tail_percentile(len(lat))
    e2e = {
        "setup_s": statistics.median(setup_times),
        "cpu_s": statistics.median(cpus),
        "stored_mb": extra.pop("stored_mb")[0],
        "peak_rss_mb": rss,
    }
    attempted = len(h.ops) + extra_attempted
    failed = sum(1 for o in h.ops if not o.ok) + extra_failed
    printed = {k: (v, E2E_UNITS[k]) for k, v in e2e.items() if v is not None}
    printed["wall_s"] = (statistics.median(walls), "s")
    printed["op_p50_s"] = (stats.percentile(lat, 50), "s")
    # with fewer than 40 operations the tail is the median (see stats)
    printed["op_tail_s"] = (stats.percentile(lat, tail_p), "s")
    printed["failed_ratio"] = (failed / attempted, "ratio")
    printed["spark_start_s"] = (start_s, "s")
    if warm_up_s is not None:
        printed["warm_up_s"] = (warm_up_s, "s")
    printed["check_s"] = (check_s, "s")
    printed.update(extra)
    for k, v in traced.items():
        printed[k] = (v, _unit(k))

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "spark_version": pyspark.__version__,
        "sf": getattr(wl, "SF", None),
        "tail_percentile": tail_p,
        "samples": len(lat),
        "rounds": len(walls),
    }
    metrics = (
        {k: {"value": traced[k], "unit": _unit(k)} for k in PER_LAYER}
        if args.trace
        else {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    )
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    full = {
        "stamp": stamp,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in printed.items()},
        "setup_times": setup_times,
        "round_walls": walls,
        "mismatches": notes,
        "errors": [f"{o.kind}: {o.error}" for o in h.ops if o.error],
        "ops": [
            {"kind": o.kind, "round": o.round, "seconds": o.seconds, "ok": o.ok, **o.info}
            for o in h.ops
        ],
    }
    if tracer is not None:
        full["spans"] = tracer.dump()
    print(f"stamp {json.dumps(stamp)}")
    for n in notes[:20]:
        print(f"mismatch {n}")
    for e in full["errors"][:20]:
        print(f"error {e}")
    return {"printed": printed, "line": line, "full": full}


LAYERS = ("bench", "session", "queries", "tables", "streaming", "sources", "plans", "quality", "governance")


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("per_row_changed"):
        return "B/row"
    return "count"


def _per_layer(h, st, tracer, spark, ops: list, traced_wall: float, untraced_wall: float, wl) -> dict:
    from perfbench.trace import harvest_jobs

    selfs = tracer.self_times()
    totals = tracer.span_totals()
    by_name_self = tracer.self_by_name()
    counters = tracer.counter_totals()
    out: dict[str, float] = {}
    for layer in LAYERS:
        out[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    self_sum = sum(selfs.values())
    out["trace.wall_s"] = traced_wall
    out["trace.untraced_wall_s"] = untraced_wall
    out["trace.overhead_s"] = traced_wall - untraced_wall
    out["trace.self_sum_ratio"] = self_sum / untraced_wall if untraced_wall else 0.0

    # Spark jobs, assigned to operations by submission time
    jobs = harvest_jobs(spark)
    per_op_jobs = [0] * len(ops)
    sess = {"jobs": 0, "tasks": 0, "failed_tasks": 0, "shuffle_write": 0, "spill": 0}
    spans = [(o.wall_start, o.wall_end) for o in ops]
    lo = min((s for s, _ in spans), default=0.0)
    hi = max((e for _, e in spans), default=0.0)
    for j in jobs:
        t = j["submit_ms"] / 1000.0
        if not (lo <= t <= hi):
            continue
        sess["jobs"] += 1
        sess["tasks"] += j["tasks"]
        sess["failed_tasks"] += j["failed_tasks"]
        sess["shuffle_write"] += j["shuffle_write"]
        sess["spill"] += j["spill"]
        for i, (s, e) in enumerate(spans):
            if s <= t <= e:
                per_op_jobs[i] += 1
                break
    out["session.jobs"] = sess["jobs"]
    out["session.tasks"] = sess["tasks"]
    out["session.failed_tasks"] = sess["failed_tasks"]
    out["session.shuffle_write_mb"] = sess["shuffle_write"] / 1e6
    out["session.spill_mb"] = sess["spill"] / 1e6
    for phase in ("analysis", "optimization", "planning"):
        out[f"session.{phase}_s"] = counters.get(f"session.{phase}_s", 0.0)

    out["queries.build_s"] = totals.get("queries.build", 0.0)
    out["queries.load_s"] = totals.get("queries.load", 0.0)
    for name in ("append", "update", "delete", "merge", "read", "time_travel", "open", "create", "overwrite", "log_state", "log_commit"):
        out[f"tables.{name}_s"] = totals.get(f"tables.{name}", 0.0)
    out["tables.sql_frontend_s"] = by_name_self.get("tables.sql_frontend", 0.0)
    out["tables.log_state_calls"] = counters.get("tables.log_state_calls", 0.0)
    out["tables.commits"] = counters.get("tables.commits", 0.0)
    out["tables.files_added"] = counters.get("tables.files_added", 0.0)
    out["tables.files_removed"] = counters.get("tables.files_removed", 0.0)
    out["tables.dvs_added"] = counters.get("tables.dvs_added", 0.0)
    rows_changed = counters.get("tables.rows_changed", 0.0)
    out["tables.bytes_written_per_row_changed"] = (
        counters.get("tables.bytes_written", 0.0) / rows_changed if rows_changed else 0.0
    )
    out["sources.read_stream_s"] = totals.get("sources.read_stream", 0.0)
    out["plans.self_s"] = selfs.get("plans", 0.0)
    out["quality.apply_s"] = totals.get("quality.apply", 0.0)
    out["quality.rows_dropped"] = counters.get("quality.rows_dropped", 0.0)
    out["quality.event_log_s"] = totals.get("quality.event_log", 0.0)
    out["governance.lineage_s"] = totals.get("governance.lineage", 0.0)

    batches = [o for o in ops if o.kind == "batch"]
    add = sum(o.info["add_batch_s"] for o in batches)
    out["streaming.batches"] = len(batches)
    out["streaming.add_batch_s"] = add
    out["streaming.trigger_overhead_s"] = sum(o.seconds for o in batches) - add
    out["streaming.state_commit_s"] = sum(o.info["state_commit_s"] for o in batches)
    out["streaming.state_rows"] = max((o.info["state_rows"] for o in batches), default=0)
    out["streaming.state_mb"] = max((o.info["state_bytes"] for o in batches), default=0) / 1e6
    out["sources.rescued_rows"] = 0
    out.update(wl.traced_metrics(h, st, ops))

    # exact-repeating per-operation counters, averaged per operation kind;
    # counts are assigned to operations by wall-clock time, like jobs
    per_op: dict[str, list[float]] = {
        "jobs": per_op_jobs,
        "log_state_calls": [0.0] * len(ops),
        "files_added": [0.0] * len(ops),
    }
    for t, name, value in tracer.events:
        key = name.removeprefix("tables.")
        if key in per_op:
            for i, (s, e) in enumerate(spans):
                if s <= t <= e:
                    per_op[key][i] += value
                    break
    for i, o in enumerate(ops):
        o.info.update({key: values[i] for key, values in per_op.items()})
    for kind in OP_KINDS:
        idx = [i for i, o in enumerate(ops) if o.kind == kind]
        for key, values in per_op.items():
            out[f"ops.{kind}.{key}"] = sum(values[i] for i in idx) / (len(idx) or 1)
    return out


# operation kinds of every workload's rounds
OP_KINDS = (
    "sql_insert", "update", "sql_delete", "merge", "point_read", "count",
    "time_travel", "batch", "materialize", "query",
)


if __name__ == "__main__":
    sys.exit(main())
