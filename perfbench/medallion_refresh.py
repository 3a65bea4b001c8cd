"""``medallion_refresh``: the Customer-360 Bronze -> Silver -> Gold
pipeline (``pipelines.customer360.run_customer360``) over a seeded
landing copy.

The landing copy carries duplicate rows (exact copies, and copies with
an older date), null keys and non-positive prices, so the silver dedup
and the DROP expectations do real work. A round is one full build into
a fresh root, then refresh cycles; before each refresh a new increment
of orders and events lands. An operation is one table materialization.
Set-up writes the landing copy and reads each landing table once
through ``queries.catalog.load``, checking its row count. The twins
recompute the three gold tables with DuckDB SQL.
"""

from __future__ import annotations

import datetime as dt
import shutil
import time
from pathlib import Path
from typing import Any

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import datagen
from .harness import Harness, Op, dir_bytes

ROUNDS = 1
SETUP_REPS = 3
SF = 0.01
N_ORDERS = int(1_500_000 * SF)
N_CUST = int(150_000 * SF)
N_EVENTS = int(1_000_000 * SF)
REFRESHES = 1
INC_ORDERS = N_ORDERS // 20
INC_EVENTS = N_EVENTS // 20
GOLD = ("gold_customer_360", "gold_revenue_daily", "gold_rfm_segments")


def _days(n: int) -> pa.Scalar:
    return pa.scalar(dt.timedelta(days=n), pa.duration("us"))


def _dirty_orders(seed: int, t: pa.Table, tag: str) -> pa.Table:
    """Append exact duplicates, older-dated duplicates, null keys and
    non-positive prices to ``t``."""
    r = datagen.rng(seed, f"dirty:{tag}")
    n = t.num_rows
    dup = t.take(r.choice(n, n // 50, replace=False))
    older = t.take(r.choice(n, n // 50, replace=False))
    older = older.set_column(
        older.schema.get_field_index("o_orderdate"), "o_orderdate",
        pc.subtract(older.column("o_orderdate"), _days(3)),
    )
    nulls = t.take(r.choice(n, max(1, n // 200), replace=False))
    nulls = nulls.set_column(0, "o_orderkey", pa.nulls(nulls.num_rows, pa.int64()))
    nocust = t.take(r.choice(n, max(1, n // 200), replace=False))
    nocust = nocust.set_column(1, "o_custkey", pa.nulls(nocust.num_rows, pa.int64()))
    neg = t.take(r.choice(n, max(1, n // 200), replace=False))
    neg = neg.set_column(3, "o_totalprice", pc.negate(neg.column("o_totalprice")))
    # a negative-price copy dated later than the original replaces it
    neg = neg.set_column(
        4, "o_orderdate", pc.add(neg.column("o_orderdate"), _days(1))
    )
    return pa.concat_tables([t, dup, older, nulls, nocust, neg]).cast(datagen.ORDERS_SCHEMA)


def _dirty_events(seed: int, t: pa.Table, tag: str) -> pa.Table:
    r = datagen.rng(seed, f"dirty-ev:{tag}")
    n = t.num_rows
    dup = t.take(r.choice(n, n // 50, replace=False))
    nulls = t.take(r.choice(n, max(1, n // 200), replace=False))
    nulls = nulls.set_column(0, "event_id", pa.nulls(nulls.num_rows, pa.int64()))
    return pa.concat_tables([t, dup, nulls]).cast(datagen.EVENTS_SCHEMA)


def write_landing(seed: int, d: Path) -> dict:
    """The base landing copy and one increment per refresh cycle."""
    base = d / "base"
    datagen.write_parquet(datagen.customers(seed, N_CUST), base / "customer.parquet")
    o = datagen.orders(seed, N_ORDERS, N_CUST)
    datagen.write_parquet(_dirty_orders(seed, o, "base"), base / "orders.parquet" / "part-0000.parquet")
    e = datagen.events(seed, N_EVENTS, N_CUST)
    datagen.write_parquet(_dirty_events(seed, e, "base"), base / "events.parquet" / "part-0000.parquet")
    incs = []
    for c in range(1, REFRESHES + 1):
        inc = d / f"inc{c}"
        o = datagen.orders(seed, INC_ORDERS, N_CUST, first_key=N_ORDERS + c * INC_ORDERS)
        datagen.write_parquet(_dirty_orders(seed, o, f"inc{c}"), inc / "orders.parquet" / f"part-{c:04d}.parquet")
        e = datagen.events(seed, INC_EVENTS, N_CUST, first_id=N_EVENTS + c * INC_EVENTS)
        datagen.write_parquet(_dirty_events(seed, e, f"inc{c}"), inc / "events.parquet" / f"part-{c:04d}.parquet")
        incs.append(inc)
    return {"base": base, "incs": incs}


def setup(h: Harness, rep: int) -> dict:
    """Write the landing copy and count each landing table through the
    engine's loader; a count that differs from the files' metadata is a
    failed check."""
    import pyarrow.parquet as pq

    from databricks_delta_lake_project_spark.queries.catalog import load

    d = h.fresh_dir(f"medallion/setup{rep}")
    landed = write_landing(h.seed, d)
    counts = {}
    for table in ("customer", "orders", "events"):
        got = load(h.spark, str(landed["base"]), table).count()
        path = landed["base"] / f"{table}.parquet"
        files = [path] if path.is_file() else [f for f in path.rglob("*.parquet") if f.is_file()]
        want = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        counts[table] = (got, want)
    return {"dir": d, **landed, "landing_counts": counts, "results": []}


def _land(src: Path, dst: Path) -> None:
    for f in src.rglob("*.parquet"):
        if f.is_file():
            target = dst / f.relative_to(src)
            target.parent.mkdir(parents=True, exist_ok=True)
            shutil.copy2(f, target)


def run_round(h: Harness, st: dict, r: int) -> float:
    from databricks_delta_lake_project_spark.pipelines import customer360
    from databricks_delta_lake_project_spark.quality import event_log

    d = h.fresh_dir(f"medallion/round{r}")
    landing, root = d / "landing", d / "lake"
    _land(st["base"], landing)
    marks: list[tuple[str, float, float]] = []
    original = event_log.record_flow_progress

    def stamp(spark, flow_name, **kw):
        original(spark, flow_name, **kw)
        marks.append((flow_name, time.perf_counter(), time.time()))

    # completion times of each materialization, from the runner's own
    # per-table progress event
    event_log.record_flow_progress = stamp
    wall = 0.0
    rows_in = 0
    try:
        for cycle in range(REFRESHES + 1):
            if cycle:
                _land(st["incs"][cycle - 1], landing)  # new increment, not timed
            rows_in += _landing_rows(landing)
            start, wall_start = time.perf_counter(), time.time()
            marks.clear()
            with h.span("bench.round"):
                customer360.run_customer360(h.spark, str(landing), str(root))
            wall += time.perf_counter() - start
            prev, prev_wall = start, wall_start
            for name, t, tw in marks:
                h.ops.append(Op("materialize", h.round, prev, t, prev_wall, tw, info={"table": name, "cycle": cycle}))
                prev, prev_wall = t, tw
    finally:
        event_log.record_flow_progress = original
    st["results"].append({"dir": d, "landing": landing, "root": root, "rows": rows_in, "wall": wall})
    return wall


def _landing_rows(landing: Path) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in landing.rglob("*.parquet") if f.is_file())


# -- twins --------------------------------------------------------------------

_TWIN = """
WITH o AS (
  SELECT * FROM read_parquet('{L}/orders.parquet/*.parquet')
  QUALIFY row_number() OVER (
    PARTITION BY o_orderkey ORDER BY o_orderdate DESC, o_custkey DESC) = 1
), so AS (
  SELECT *, CAST(o_orderdate AS DATE) AS order_date FROM o
  WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL AND o_totalprice > 0
), se AS (
  SELECT * FROM read_parquet('{L}/events.parquet/*.parquet')
  WHERE event_id IS NOT NULL
  QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) = 1
), order_agg AS (
  SELECT o_custkey AS customer_id, count(*) AS order_count,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spent,
         max(order_date) AS last_order_date
  FROM so GROUP BY 1
), event_agg AS (
  SELECT user_id AS customer_id, count(*) AS event_count,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchase_events
  FROM se GROUP BY 1
), c360 AS (
  SELECT c.c_custkey AS customer_id, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
         coalesce(a.order_count, 0) AS order_count,
         coalesce(a.total_spent, 0.0) AS total_spent,
         a.last_order_date,
         coalesce(e.event_count, 0) AS event_count,
         coalesce(e.purchase_events, 0) AS purchase_events
  FROM read_parquet('{L}/customer.parquet') c
  LEFT JOIN order_agg a ON a.customer_id = c.c_custkey
  LEFT JOIN event_agg e ON e.customer_id = c.c_custkey
), daily AS (
  SELECT order_date, sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev, count(*) AS n_orders
  FROM so GROUP BY 1
), rfm AS (
  SELECT o_custkey AS customer_id,
         date_diff('day', max(order_date), DATE '2001-09-01') AS recency_days,
         count(*) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS monetary
  FROM so GROUP BY 1
), scored AS (
  SELECT *,
    6 - ntile(5) OVER (ORDER BY recency_days, customer_id) AS r_score,
    ntile(5) OVER (ORDER BY frequency, customer_id) AS f_score,
    ntile(5) OVER (ORDER BY monetary, customer_id) AS m_score
  FROM rfm
)
"""

TWIN_SQL = {
    "gold_customer_360": """
      SELECT customer_id, order_count, total_spent, CAST(epoch(last_order_date) AS BIGINT) AS last_order_date,
             event_count, purchase_events,
             CASE WHEN total_spent > 400000 THEN 'platinum' WHEN total_spent > 200000 THEN 'gold'
                  WHEN total_spent > 50000 THEN 'silver' ELSE 'bronze' END AS value_tier
      FROM c360""",
    "gold_revenue_daily": """
      SELECT CAST(epoch(order_date) AS BIGINT) AS order_date, n_orders, CAST(rev AS DOUBLE) AS revenue,
             CAST(sum(rev) OVER (ORDER BY order_date ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue
      FROM daily""",
    "gold_rfm_segments": """
      SELECT customer_id, recency_days, frequency, monetary, r_score, f_score, m_score,
             CASE WHEN r_score + f_score + m_score >= 13 THEN 'champion'
                  WHEN r_score + f_score + m_score >= 10 THEN 'loyal'
                  WHEN r_score + f_score + m_score >= 7 THEN 'potential'
                  WHEN r_score + f_score + m_score >= 5 THEN 'at_risk'
                  ELSE 'hibernating' END AS segment
      FROM scored""",
}

SPARK_COLS = {
    "gold_customer_360": [
        "customer_id", "order_count", "total_spent", "CAST(unix_date(last_order_date) AS BIGINT) * 86400",
        "event_count", "purchase_events", "value_tier",
    ],
    "gold_revenue_daily": ["CAST(unix_date(order_date) AS BIGINT) * 86400", "n_orders", "revenue", "cum_revenue"],
    "gold_rfm_segments": [
        "customer_id", "recency_days", "frequency", "monetary", "r_score", "f_score", "m_score", "segment",
    ],
}


def _canon(rows) -> list[tuple]:
    out = []
    for row in rows:
        out.append(tuple(int(x) if isinstance(x, (int, np.integer)) and not isinstance(x, bool) else x for x in row))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def check(h: Harness, st: dict) -> tuple[int, int, list[str]]:
    """Each gold table of each round against its twin, row for row."""
    from databricks_delta_lake_project_spark.tables import LakeTable

    attempted, failed, notes = 0, 0, []
    for table, (got, want) in st["landing_counts"].items():
        attempted += 1
        if got != want:
            failed += 1
            notes.append(f"set-up: landing {table} reads {got} rows through the engine, the files hold {want}")
    for r, out in enumerate(st["results"]):
        con = duckdb.connect()
        prefix = _TWIN.format(L=out["landing"])
        for name in GOLD:
            want = _canon(con.execute(prefix + TWIN_SQL[name]).fetchall())
            df = LakeTable.for_path(h.spark, str(out["root"] / name)).to_df()
            got = _canon(df.selectExpr(*SPARK_COLS[name]).collect())
            attempted += 1
            if got != want:
                failed += 1
                notes.append(f"round {r}: {name} differs from its twin ({len(got)} vs {len(want)} rows)")
        con.close()
    return attempted, failed, notes


def extra_e2e(h: Harness, st: dict, ops: list, walls: list[float]) -> dict[str, tuple]:
    n = len(walls)
    rows = sum(out["rows"] for out in st["results"][:n])
    return {
        "rows_per_s": (rows / sum(walls), "1/s"),
        "stored_mb": (dir_bytes(st["results"][-1]["root"]) / 1e6, "MB"),
    }


def traced_metrics(h: Harness, st: dict, ops: list) -> dict[str, Any]:
    return {}
