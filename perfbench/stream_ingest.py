"""``stream_ingest``: drain a backlog of small landed files through the
engine's file-stream source, one file per micro-batch.

* Upsert stage: transactions as CSV (unique keys per file, keys repeat
  across files, a seeded share of malformed rows) read by
  ``sources.autoload.read_file_stream`` and upserted by
  ``streaming.sink.merge_stream`` into a default-format LakeTable.
* Sessionization stage: clickstream parquet read the same way, through
  ``streaming.ops.sessionized_stream`` into a parquet sink with RocksDB
  state. A sentinel file, landed last, moves the watermark past every
  real session so the output is complete.

Both stages use availableNow triggers. Set-up lands the backlog and
registers both feeds with the engine's schema registry, as the first
deployment of a feed does. The twins are DuckDB SQL over the generated
files.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa

from . import datagen
from .harness import Harness, Op, dir_bytes

ROUNDS = 1
SETUP_REPS = 5  # a set-up takes under a second: more of them steady the median
N_TX_FILES = 8
TX_ROWS = 1000
N_CUSTOMERS = 2000
MALFORMED_SHARE = 0.02
N_CLICK_FILES = 3
CLICK_ROWS = 2500
CLICK_USERS = 300
FILE_SPAN_US = 6 * 3600 * 1_000_000  # each clickstream file covers 6 hours
SF = None  # not a catalog scale factor: sizes are the constants above
TX_HINTS = "txn_id string, customer_id string, amount double, quantity int"
CLICK_SCHEMA = pa.schema(
    [("user_id", pa.int64()), ("event_type", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))]
)


def write_backlog(seed: int, d: Path) -> dict:
    """Land the CSV and parquet backlogs under ``d``; file modification
    times increase with the file index, which fixes the stream order."""
    r = datagen.rng(seed, "stream_ingest")
    tx_dir, click_dir = d / "tx", d / "click"
    tx_dir.mkdir(parents=True)
    click_dir.mkdir(parents=True)
    base_mtime = 1_700_000_000
    seen: list[int] = []
    for i in range(N_TX_FILES):
        n_old = min(len(seen), TX_ROWS * 3 // 10)
        old = r.choice(np.array(seen), n_old, replace=False) if n_old else np.array([], dtype=np.int64)
        new = np.arange(len(seen), len(seen) + TX_ROWS - n_old)
        seen.extend(new.tolist())
        keys = np.concatenate([old, new])[r.permutation(TX_ROWS)]
        amount = [f"{c // 100}.{c % 100:02d}" for c in r.integers(100, 100_000, TX_ROWS)]
        qty = [str(q) for q in r.integers(1, 6, TX_ROWS)]
        bad = r.random(TX_ROWS) < MALFORMED_SHARE
        which = r.integers(0, 2, TX_ROWS)
        lines = ["txn_id,customer_id,amount,quantity"]
        for j, k in enumerate(keys.tolist()):
            a, q = amount[j], qty[j]
            if bad[j]:
                if which[j]:
                    a = "n/a"
                else:
                    q = "x"
            lines.append(f"TXN-{k:08d},C-{int(r.integers(0, N_CUSTOMERS)):05d},{a},{q}")
        p = tx_dir / f"tx-{i:04d}.csv"
        p.write_text("\n".join(lines) + "\n")
        os.utime(p, (base_mtime + i, base_mtime + i))
    for i in range(N_CLICK_FILES):
        t = datagen.events(seed, CLICK_ROWS, CLICK_USERS, first_id=i * CLICK_ROWS,
                           start_us=i * FILE_SPAN_US, span_us=FILE_SPAN_US)
        tbl = pa.table(
            {
                "user_id": t.column("user_id"),
                "event_type": t.column("event_type"),
                "ts": t.column("ts").cast(pa.timestamp("us", tz="UTC")),
            },
            schema=CLICK_SCHEMA,
        )
        p = click_dir / f"click-{i:04d}.parquet"
        datagen.write_parquet(tbl, p)
        os.utime(p, (base_mtime + i, base_mtime + i))
    # the sentinel: one event 75 minutes past the last real one
    last = datagen.EVENT_EPOCH + dt.timedelta(microseconds=N_CLICK_FILES * FILE_SPAN_US + 75 * 60 * 1_000_000)
    sentinel = pa.table(
        {
            "user_id": pa.array([-1], pa.int64()),
            "event_type": pa.array(["view"]),
            "ts": pa.array([last], pa.timestamp("us")).cast(pa.timestamp("us", tz="UTC")),
        },
        schema=CLICK_SCHEMA,
    )
    p = click_dir / "zz-sentinel.parquet"
    datagen.write_parquet(sentinel, p)
    os.utime(p, (base_mtime + N_CLICK_FILES, base_mtime + N_CLICK_FILES))
    return {"tx": tx_dir, "click": click_dir}


def setup(h: Harness, rep: int) -> dict:
    """Land the backlog and register both feeds' schemas: the first
    ``read_file_stream`` on a schema location infers the schema and
    saves it."""
    from databricks_delta_lake_project_spark.sources import autoload

    d = h.fresh_dir(f"stream_ingest/setup{rep}")
    landed = write_backlog(h.seed, d)
    autoload.read_file_stream(h.spark, str(landed["tx"]), "csv", str(d / "tx_schema"), hints=TX_HINTS)
    autoload.read_file_stream(h.spark, str(landed["click"]), "parquet", str(d / "click_schema"))
    return {"dir": d, **landed, "results": []}


def _progress_ops(h: Harness, query, stage: str) -> int:
    """Record one operation per micro-batch from the query's progress;
    returns the input rows."""
    rows = 0
    for p in query.recentProgress:
        dur = p.get("durationMs") or {}
        trig = dur.get("triggerExecution", 0) / 1000.0
        start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=dt.timezone.utc
        ).timestamp()
        state = (p.get("stateOperators") or [{}])[0] if p.get("stateOperators") else {}
        h.ops.append(
            Op(
                "batch", h.round, 0.0, trig, start, start + trig,
                info={
                    "stage": stage,
                    "rows": p.get("numInputRows", 0),
                    "add_batch_s": dur.get("addBatch", 0) / 1000.0,
                    "state_commit_s": state.get("commitTimeMs", 0) / 1000.0,
                    "state_rows": state.get("numRowsTotal", 0),
                    "state_bytes": state.get("memoryUsedBytes", 0),
                },
            )
        )
        rows += p.get("numInputRows", 0)
    return rows


def run_round(h: Harness, st: dict, r: int) -> float:
    from databricks_delta_lake_project_spark.sources import autoload
    from databricks_delta_lake_project_spark.streaming import ops as sops
    from databricks_delta_lake_project_spark.streaming import sink
    from databricks_delta_lake_project_spark.tables import LakeTable

    spark = h.spark
    d = h.fresh_dir(f"stream_ingest/round{r}")
    t0 = time.perf_counter()
    with h.span("bench.round"):
        with h.span("streaming.drain"):
            tx = autoload.read_file_stream(
                spark, str(st["tx"]), "csv", str(d / "tx_schema"), hints=TX_HINTS,
                max_files_per_trigger=1,
            )
            table = LakeTable.create(spark, str(d / "upserts"), schema=tx.schema)
            q = sink.merge_stream(tx, table, key="txn_id", checkpoint=str(d / "tx_ckpt"))
            q.awaitTermination()
        with h.span("streaming.drain"):
            clicks = autoload.read_file_stream(
                spark, str(st["click"]), "parquet", str(d / "click_schema"),
                max_files_per_trigger=1,
            )
            sessions = sops.sessionized_stream(clicks, ts_col="ts", user_col="user_id")
            q2 = (
                sessions.writeStream.format("parquet")
                .option("path", str(d / "sessions"))
                .option("checkpointLocation", str(d / "click_ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q2.awaitTermination()
    wall = time.perf_counter() - t0
    rows = _progress_ops(h, q, "upsert") + _progress_ops(h, q2, "sessions")
    st["results"].append({"dir": d, "wall": wall, "rows": rows})
    return wall


# -- twins --------------------------------------------------------------------


def _upsert_twin(con, tx_dir: Path) -> list[tuple]:
    return con.execute(
        f"""
        WITH raw AS (
          SELECT *
          FROM read_csv('{tx_dir}/*.csv', header = true, all_varchar = true, filename = true)
        ), typed AS (
          SELECT txn_id, customer_id,
                 TRY_CAST(amount AS DOUBLE) AS amount,
                 TRY_CAST(quantity AS INTEGER) AS quantity,
                 CASE WHEN TRY_CAST(amount AS DOUBLE) IS NULL OR TRY_CAST(quantity AS INTEGER) IS NULL
                      THEN concat_ws(',', txn_id, customer_id, amount, quantity) END AS rescued,
                 filename
          FROM raw
        )
        SELECT txn_id, customer_id, amount, quantity, rescued
        FROM typed
        QUALIFY row_number() OVER (PARTITION BY txn_id ORDER BY filename DESC) = 1
        ORDER BY txn_id
        """
    ).fetchall()


def _sessions_twin(con, click_dir: Path) -> list[tuple]:
    return con.execute(
        f"""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS us, event_type
          FROM read_parquet('{click_dir}/click-*.parquet')
        ), flagged AS (
          SELECT user_id, us,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
                 CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS new_s
          FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us)
        ), sess AS (
          SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
          FROM flagged
        )
        SELECT min(us), max(us) + 1800000000, user_id, count(*), CAST(sum(is_p) AS BIGINT)
        FROM sess GROUP BY user_id, sid ORDER BY user_id, 1
        """
    ).fetchall()


def check(h: Harness, st: dict) -> tuple[int, int, list[str]]:
    """Compare the upsert table, the rescued-row count and the session
    output against their twins: three checks per round."""
    from pyspark.sql import functions as F

    from databricks_delta_lake_project_spark.tables import LakeTable

    con = duckdb.connect()
    want_up = _upsert_twin(con, st["tx"])
    want_rescued = sum(1 for row in want_up if row[4] is not None)
    want_sess = _sessions_twin(con, st["click"])
    attempted, failed, notes = 0, 0, []
    for r, out in enumerate(st["results"]):
        d = out["dir"]
        got_up = sorted(
            tuple(x)
            for x in LakeTable.for_path(h.spark, str(d / "upserts"))
            .to_df()
            .select("txn_id", "customer_id", "amount", "quantity", "_rescued_data")
            .collect()
        )
        got_sess = sorted(
            tuple(x)
            for x in h.spark.read.parquet(str(d / "sessions"))
            .where("user_id >= 0")
            .select(
                F.unix_micros("session_start"), F.unix_micros("session_end"),
                "user_id", "n_events", "n_purchases",
            )
            .collect()
        )
        for label, ok in (
            ("upsert table", got_up == want_up),
            ("rescued rows", sum(1 for x in got_up if x[4] is not None) == want_rescued),
            ("sessions", got_sess == sorted(want_sess)),
        ):
            attempted += 1
            if not ok:
                failed += 1
                notes.append(f"round {r}: {label} differs from its twin")
    return attempted, failed, notes


def extra_e2e(h: Harness, st: dict, ops: list, walls: list[float]) -> dict[str, tuple]:
    n = len(walls)
    rows = sum(out["rows"] for out in st["results"][:n])
    return {
        "rows_per_s": (rows / sum(walls), "1/s"),
        "stored_mb": (dir_bytes(st["results"][-1]["dir"] / "upserts", st["results"][-1]["dir"] / "sessions") / 1e6, "MB"),
    }


def traced_metrics(h: Harness, st: dict, ops: list) -> dict[str, float]:
    from databricks_delta_lake_project_spark.tables import LakeTable

    table = LakeTable.for_path(h.spark, str(st["results"][-1]["dir"] / "upserts"))
    return {"sources.rescued_rows": table.to_df().where("_rescued_data IS NOT NULL").count()}
