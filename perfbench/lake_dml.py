"""``lake_dml``: small writes and interleaved reads on a Delta-format
orders table whose log is past its first checkpoint.

Set-up writes sf0.01 orders (15k rows), creates a ``format="delta"``
table partitioned by status and appends until the log passes the v10
checkpoint. Each round works on a fresh copy of that directory and runs
a fixed sequence of operation kinds with seeded arguments; the writes go
half through the builder API and half as SQL through
``queries.sqlpack.run_statement``. The oracle replays the same
operation list in DuckDB.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path
from typing import Any

import duckdb
import numpy as np
import pyarrow as pa

from . import datagen, stats
from .harness import Harness, dir_bytes

ROUNDS = 1
SETUP_REPS = 3
SF = 0.01
N_ORDERS = int(1_500_000 * SF)
N_CUST = int(150_000 * SF)
TABLE_NAME = "perfbench_orders"
WRITE_KINDS = ("append", "sql_insert", "update", "sql_update", "sql_delete", "merge")
READ_KINDS = ("point_read", "count", "time_travel")
# One round: an insert, an update, a delete and a merge, two through the
# builder API and two as SQL, each followed by a read. The order is the
# same for every seed: the first operations on a fresh copy run colder,
# and a seeded order would move that cost between kinds.
ROUND_MIX = [
    "point_read", "sql_insert", "count", "update",
    "time_travel", "sql_delete", "point_read", "merge",
]
# set-up: ten appends after CREATE; the tenth writes the v10 checkpoint
SETUP_MIX = ["append"] * 10
WARM_UP_ROWS = 300
COLS = [f.name for f in datagen.ORDERS_SCHEMA]


def _rows(r: np.random.Generator, keys: np.ndarray, base: pa.Table | None = None) -> list[dict]:
    """Order rows for ``keys``; a key inside ``base`` keeps its status so
    an upsert never moves a row between partitions."""
    out = []
    for k in keys.tolist():
        status = (
            base.column("o_orderstatus")[k].as_py()
            if base is not None and k < base.num_rows
            else str(datagen.STATUSES[r.integers(0, 3)])
        )
        out.append(
            {
                "o_orderkey": int(k),
                "o_custkey": int(r.integers(0, N_CUST)),
                "o_orderstatus": status,
                "o_totalprice": int(r.integers(100_000, 50_000_000)) / 100.0,
                "o_orderdate": f"{1995 + int(r.integers(0, 7))}-0{1 + int(r.integers(0, 9))}-1{int(r.integers(0, 9))} 00:00:00",
                "o_orderpriority": str(datagen.PRIORITIES[r.integers(0, 5)]),
            }
        )
    return out


def _gen_op(r: np.random.Generator, kind: str, key: int, base: pa.Table) -> tuple[dict, int]:
    """One operation of ``kind``; new rows take keys from ``key`` on.
    Returns the operation and the next free key."""
    op: dict[str, Any] = {"kind": kind}
    n = base.num_rows
    if kind == "append":
        op["rows"] = _rows(r, np.arange(key, key + 10))
        key += 10
    elif kind == "sql_insert":
        op["rows"] = _rows(r, np.arange(key, key + 5))
        key += 5
    elif kind in ("update", "sql_update"):
        lo = int(r.integers(0, n - 200))
        op["where"] = f"o_orderkey BETWEEN {lo} AND {lo + int(r.integers(20, 200))}"
        op["delta"] = float(r.integers(1, 40)) * 0.25
        op["priority"] = str(datagen.PRIORITIES[r.integers(0, 5)])
    elif kind == "sql_delete":
        op["where"] = f"o_custkey = {int(r.integers(0, N_CUST))}"
    elif kind == "merge":
        old = r.choice(n, 10, replace=False)
        op["rows"] = _rows(r, np.concatenate([np.sort(old), np.arange(key, key + 10)]), base)
        key += 10
    elif kind == "point_read":
        op["key"] = int(r.integers(0, key))
    elif kind == "time_travel":
        op["pick"] = int(r.integers(0, 1 << 30))
    return op, key


def make_ops(seed: int, base: pa.Table) -> tuple[list[dict], list[dict]]:
    """The set-up commits and a round's operations, ``ROUND_MIX`` with
    seeded arguments. Every round replays the same list on a fresh copy
    of the set-up table, so rounds are comparable."""
    r = datagen.rng(seed, "lake_dml.ops")
    key = N_ORDERS
    setup = []
    for kind in SETUP_MIX:
        op, key = _gen_op(r, kind, key, base)
        setup.append(op)
    ops = []
    for kind in ROUND_MIX:
        op, key = _gen_op(r, kind, key, base)
        ops.append(op)
    return setup, ops


def _rows_table(rows: list[dict]) -> pa.Table:
    cols = {c: [row[c] for row in rows] for c in COLS}
    cols["o_orderdate"] = pa.array(
        np.array(cols["o_orderdate"], dtype="datetime64[us]"), pa.timestamp("us")
    )
    return pa.table(cols, schema=datagen.ORDERS_SCHEMA)


def _spark_df(spark, rows: list[dict]):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(_rows_table(rows).to_pandas())
    return df.withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))


def _sql_values(rows: list[dict]) -> str:
    return ", ".join(
        f"({x['o_orderkey']}, {x['o_custkey']}, '{x['o_orderstatus']}', "
        f"{x['o_totalprice']!r}, TIMESTAMP'{x['o_orderdate']}', '{x['o_orderpriority']}')"
        for x in rows
    )


# -- workload ---------------------------------------------------------------


def _create(h: Harness, d: Path, base: pa.Table):
    from pyspark.sql import functions as F

    from databricks_delta_lake_project_spark.tables import LakeTable
    from databricks_delta_lake_project_spark.tables.sqldml import register_table

    datagen.write_parquet(base, d / "orders.parquet")
    src = h.spark.read.parquet(str(d / "orders.parquet")).withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp")
    )
    t = LakeTable.create(
        h.spark, str(d / "table"), df=src, format="delta", partition_by=["o_orderstatus"]
    )
    register_table(h.spark, TABLE_NAME, t)
    return t


def warm_up(h: Harness) -> None:
    """Run each operation kind of a round once on a small scratch table,
    so that the round does not pay for loading and compiling the UPDATE,
    DELETE and MERGE paths, which set-up does not run."""
    d = h.fresh_dir("lake_dml/warm_up")
    base = datagen.orders(h.seed, WARM_UP_ROWS, N_CUST)
    t = _create(h, d, base)
    r = datagen.rng(h.seed, "lake_dml.warm_up")
    key = WARM_UP_ROWS
    for kind in dict.fromkeys(ROUND_MIX):
        op, key = _gen_op(r, kind, key, base)
        _execute(h, t, dict(op, version=0))


def setup(h: Harness, rep: int) -> dict:
    """Write the orders, create the table and commit ``SETUP_MIX``: the
    last commit writes the v10 checkpoint."""
    d = h.fresh_dir(f"lake_dml/setup{rep}")
    base = datagen.orders(h.seed, N_ORDERS, N_CUST)
    setup_ops, round_ops = make_ops(h.seed, base)
    t = _create(h, d, base)
    versions = [t.version()]
    for op in setup_ops:
        _execute(h, t, op)
        versions.append(t.version())
    # the first read through the checkpoint belongs to set-up, not to
    # whichever operation a round happens to start with
    t.to_df().count()
    return {
        "dir": d,
        "base": base,
        "setup_ops": setup_ops,
        "round_ops": round_ops,
        "setup_version": t.version(),
        "setup_versions": versions,
        "results": [],
    }


def _execute(h: Harness, t, op: dict) -> Any:
    """Run one operation against the engine; reads return their result."""
    from pyspark.sql import functions as F

    from databricks_delta_lake_project_spark.queries import sqlpack

    spark, kind = h.spark, op["kind"]
    if kind == "append":
        t.append(_spark_df(spark, op["rows"]))
    elif kind == "sql_insert":
        sqlpack.run_statement(spark, f"INSERT INTO {TABLE_NAME} VALUES {_sql_values(op['rows'])}").collect()
    elif kind == "update":
        t.update(op["where"], {
            "o_totalprice": f"o_totalprice + {op['delta']!r}",
            "o_orderpriority": f"'{op['priority']}'",
        })
    elif kind == "sql_update":
        sqlpack.run_statement(
            spark,
            f"UPDATE {TABLE_NAME} SET o_totalprice = o_totalprice + {op['delta']!r}, "
            f"o_orderpriority = '{op['priority']}' WHERE {op['where']}",
        ).collect()
    elif kind == "sql_delete":
        sqlpack.run_statement(spark, f"DELETE FROM {TABLE_NAME} WHERE {op['where']}").collect()
    elif kind == "merge":
        (
            t.merge(_spark_df(spark, op["rows"]), "t.o_orderkey = s.o_orderkey")
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
    elif kind == "point_read":
        rows = h.collect(t.read_where(f"o_orderkey = {op['key']}").select(*_canon_cols()))
        return sorted(tuple(x) for x in rows)
    elif kind == "count":
        return h.collect(t.to_df().groupBy().count())[0][0]
    elif kind == "time_travel":
        agg = t.to_df(version=op["version"]).agg(
            F.count(F.lit(1)), F.sum("o_orderkey"), F.sum("o_custkey")
        )
        return tuple(h.collect(agg)[0])
    return None


def run_round(h: Harness, st: dict, r: int) -> float:
    """One round on a fresh copy of the set-up table; returns its wall
    seconds (the copy is not timed)."""
    import time

    from databricks_delta_lake_project_spark.tables import LakeTable
    from databricks_delta_lake_project_spark.tables.sqldml import register_table

    root = st["dir"] / f"round{r}"
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(st["dir"] / "table", root)
    ops = st["round_ops"]
    # time travel targets versions at or after the checkpoint, so every
    # seed reads through it
    versions = [st["setup_version"]]
    out = {"root": root, "ops": ops, "versions": {}, "op_index": []}
    t0 = time.perf_counter()
    with h.span("bench.round"):
        t = LakeTable.for_path(h.spark, str(root))
        register_table(h.spark, TABLE_NAME, t)
        for i, op in enumerate(ops):
            if op["kind"] == "time_travel":
                op = dict(op, version=versions[op["pick"] % len(versions)])
            with h.op(op["kind"], i=i) as rec:
                rec.result = _execute(h, t, op)
                if op["kind"] == "time_travel":
                    rec.info["version"] = op["version"]
            if op["kind"] in WRITE_KINDS:
                v = t.version()
                versions.append(v)
                out["versions"][i] = v
            out["op_index"].append(len(h.ops) - 1)
    out["wall"] = time.perf_counter() - t0
    st["results"].append(out)
    return out["wall"]


def _canon_cols():
    from pyspark.sql import functions as F

    return [
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice"),
        F.unix_micros("o_orderdate").alias("o_orderdate"),
        F.col("o_orderpriority"),
    ]


# An order-insensitive digest of a table state that both engines compute
# with exact integer arithmetic; every column enters it, weighted by key.
_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"
FINGERPRINT = (
    "count(*)",
    "sum(o_orderkey)",
    "sum(o_custkey * 3 + o_orderkey % 7)",
    f"sum({_CENTS})",
    f"sum(({_CENTS} % 1009) * o_orderkey)",
    "sum((unix_micros(o_orderdate) DIV 1000000) % 100003)",
    "sum(ascii(o_orderpriority) * o_orderkey)",
    "sum(ascii(o_orderstatus) * o_orderkey)",
)
_DUCK_CANON = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
    "epoch_us(o_orderdate) AS o_orderdate, o_orderpriority"
)


class Replay:
    """The DuckDB twin of the table: the same operations, applied in
    order, with a snapshot per committed version."""

    def __init__(self, base: pa.Table, setup_ops: list[dict], versions: list[int]):
        self.con = duckdb.connect()
        self.con.register("base_arrow", base)
        self.con.execute("CREATE TABLE t AS SELECT * FROM base_arrow")
        self.snaps: dict[int, str] = {}
        self._snap(versions[0])
        for op, v in zip(setup_ops, versions[1:]):
            self.apply(op, v)

    def _snap(self, version: int) -> None:
        name = f"snap_{version}"
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM t")
        self.snaps[version] = name

    def apply(self, op: dict, version: int | None = None) -> Any:
        kind = op["kind"]
        c = self.con
        if kind in ("append", "sql_insert"):
            c.register("src", _rows_table(op["rows"]))
            c.execute("INSERT INTO t SELECT * FROM src")
        elif kind in ("update", "sql_update"):
            c.execute(
                f"UPDATE t SET o_totalprice = o_totalprice + {op['delta']!r}, "
                f"o_orderpriority = '{op['priority']}' WHERE {op['where']}"
            )
        elif kind == "sql_delete":
            c.execute(f"DELETE FROM t WHERE {op['where']}")
        elif kind == "merge":
            c.register("src", _rows_table(op["rows"]))
            sets = ", ".join(f"{k} = s.{k}" for k in COLS if k != "o_orderkey")
            c.execute(f"UPDATE t SET {sets} FROM src s WHERE t.o_orderkey = s.o_orderkey")
            c.execute("INSERT INTO t SELECT * FROM src WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)")
        elif kind == "point_read":
            rows = c.execute(f"SELECT {_DUCK_CANON} FROM t WHERE o_orderkey = {op['key']}").fetchall()
            return sorted(tuple(x) for x in rows)
        elif kind == "count":
            return c.execute("SELECT count(*) FROM t").fetchone()[0]
        elif kind == "time_travel":
            snap = self.snaps.get(version)
            if snap is None:
                return None
            return tuple(c.execute(f"SELECT count(*), sum(o_orderkey), sum(o_custkey) FROM {snap}").fetchone())
        if version is not None:
            self._snap(version)
        return None

    def fingerprint(self, version: int | None = None) -> tuple:
        src = "t" if version is None else self.snaps[version]
        sql = ", ".join(FINGERPRINT).replace("unix_micros(", "epoch_us(").replace(" DIV ", " // ")
        return tuple(self.con.execute(f"SELECT {sql} FROM {src}").fetchone())


def check(h: Harness, st: dict) -> tuple[int, int, list[str]]:
    """Replay every round in DuckDB; compare each read's result, the
    final table and a time-travelled mid-round state. A wrong read marks its
    operation failed; the state comparisons count as extra operations.
    Returns (extra attempted, extra failed, a note per mismatch)."""
    from databricks_delta_lake_project_spark.tables import LakeTable

    attempted, failed, notes = 0, 0, []
    for r, out in enumerate(st["results"]):
        rep = Replay(st["base"], st["setup_ops"], st["setup_versions"])
        for i, op in enumerate(out["ops"]):
            rec = h.ops[out["op_index"][i]]
            version = rec.info.get("version") if op["kind"] == "time_travel" else out["versions"].get(i)
            expect = rep.apply(op, version)
            if not rec.ok:
                continue  # already failed
            if op["kind"] in READ_KINDS and _norm(rec.result) != _norm(expect):
                rec.ok = False
                notes.append(f"round {r} op {i} {op['kind']}: got {rec.result!r}, want {expect!r}")
        t = LakeTable.for_path(h.spark, str(out["root"]))
        written = sorted(out["versions"].values())
        for label, version in (
            ("final", None),
            ("mid-round", written[len(written) // 2] if written else None),
        ):
            if label == "mid-round" and version is None:
                continue
            df = t.to_df() if version is None else t.to_df(version=version)
            got = tuple(df.selectExpr(*FINGERPRINT).collect()[0])
            attempted += 1
            if _norm(got) != _norm(rep.fingerprint(version)):
                failed += 1
                notes.append(f"round {r}: {label} state (version {version}) differs from replay")
    return attempted, failed, notes


def _norm(v: Any) -> Any:
    """Python ints and floats from both engines, compared exactly."""
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, np.generic):
        return v.item()
    return v


def extra_e2e(h: Harness, st: dict, ops: list, walls: list[float]) -> dict[str, tuple]:
    out = {"stored_mb": (dir_bytes(st["results"][-1]["root"]) / 1e6, "MB")}
    for label, kinds in (("write", WRITE_KINDS), ("read", READ_KINDS)):
        lat = [o.seconds for o in ops if o.kind in kinds]
        out[f"{label}_p50_s"] = (stats.percentile(lat, 50), "s")
        out[f"{label}_tail_s"] = (stats.percentile(lat, stats.tail_percentile(len(lat))), "s")
    return out


def traced_metrics(h: Harness, st: dict, ops: list) -> dict[str, float]:
    return {}


def inputs_digest(seed: int) -> str:
    """A stable digest of every generated input, for the determinism test."""
    import hashlib

    base = datagen.orders(seed, N_ORDERS, N_CUST)
    setup_ops, round_ops = make_ops(seed, base)
    sink = pa.BufferOutputStream()
    import pyarrow.parquet as pq

    pq.write_table(base, sink, compression="snappy")
    hsh = hashlib.sha256(sink.getvalue().to_pybytes())
    hsh.update(json.dumps([setup_ops, round_ops], sort_keys=True).encode())
    return hsh.hexdigest()
