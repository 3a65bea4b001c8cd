"""``catalog_scan``: the read-only catalog queries, each forced through
the noop sink, in a seed-permuted order.

The tables are a fixed fixture (``FIXTURE_SEED``), so every seed runs
the same data and the oracle results do not depend on the seed; the
seed permutes the query order. Catalyst and Spark execution under
``queries``/``operators``/``functions`` do the work and ``tables`` and
``streaming`` do none, so a log-layer change should read flat here.

Not part of ``BENCHMARK.json``: one run needs a timed pass and an
oracle pass, about 105 s at sf0.01 on a 4-CPU machine, which does not
fit the benchmark's run budget next to the gated workloads. Run it
directly with ``--workload catalog_scan``.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

from . import datagen, stats
from .harness import Harness

ROUNDS = 1
SETUP_REPS = 3
SF = 0.01
FIXTURE_SEED = 42
# DML and streaming entries that stage their own tables
SKIP = ("q48", "q50", "q52", "q53")
WORDS = np.array(
    "a the spark table row key value part hash merge scan join filter group order "
    "window batch stream column data line sort agg vector customer fast slow small "
    "big sql query".split()
)
ADJ = np.array("blue red old new small big hot cold".split())
NOUN = np.array("anvil bolt gear ring widget nut spring valve".split())


def write_tables(d, sf: float = SF, seed: int = FIXTURE_SEED) -> None:
    """The ten fixture tables as ``<d>/<table>.parquet``."""
    r = datagen.rng(seed, "catalog")
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = int(15_000 * sf), max(50, int(50_000 * sf))

    def put(name, cols):
        datagen.write_parquet(pa.table(cols), d / f"{name}.parquet")

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    datagen.write_parquet(datagen.customers(seed, n_cust), d / "customer.parquet")
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": datagen.cents(r, -999, 9999, n_supp),
    })
    keys = np.arange(n_part, dtype=np.int64)
    price = 900.0 + (keys % 1000) / 10.0
    put("part", {
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(ADJ[r.integers(0, 8, n_part)], NOUN[r.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price,
    })
    datagen.write_parquet(datagen.orders(seed, n_ord, n_cust), d / "orders.parquet")
    pk = r.integers(0, n_part, n_line)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    put("lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": pk.astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pk], 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            np.datetime64("1995-01-02", "us") + r.integers(0, 2500, n_line) * np.timedelta64(1, "D"),
            pa.timestamp("us"),
        ),
    })
    datagen.write_parquet(datagen.events(seed, n_ev, n_users), d / "events.parquet")
    texts = [" ".join(WORDS[r.integers(0, len(WORDS), int(r.integers(10, 100)))]) for _ in range(n_docs)]
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "fr", "es", "zh"])[r.integers(0, 7, n_docs)],
        "source": [f"src{s}" for s in r.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = r.normal(0, 0.15, (n_docs, 64)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_docs), pa.int32()),
    })


def _queries() -> list[tuple[str, object, object, str | None]]:
    from databricks_delta_lake_project_spark.queries.catalog import PRODUCTION_OVERRIDES, QUERIES

    return [
        (name, PRODUCTION_OVERRIDES.get(name, fn), fn, sql)
        for name, (fn, sql) in QUERIES.items()
        if not name.startswith(SKIP)
    ]


def setup(h: Harness, rep: int) -> dict:
    """Write the fixture and read every table's schema once through
    ``queries.catalog.load``, as a metastore would serve it."""
    from databricks_delta_lake_project_spark.queries.catalog import TABLES, load

    d = h.fresh_dir(f"catalog/setup{rep}")
    write_tables(d)
    for t in TABLES:
        load(h.spark, str(d), t)
    order = datagen.rng(h.seed, "catalog.order").permutation(len(_queries()))
    return {"dir": d, "order": order.tolist(), "results": []}


def run_round(h: Harness, st: dict, r: int) -> float:
    qs = _queries()
    t0 = time.perf_counter()
    with h.span("bench.round"):
        for i in st["order"]:
            name, timed, _fn, _sql = qs[i]
            with h.op("query", name=name):
                with h.span("queries.build"):
                    df = timed(h.spark, str(st["dir"]))
                with h.span("session.action"):
                    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    st["results"].append(wall)
    return wall


def check(h: Harness, st: dict) -> tuple[int, int, list[str]]:
    """Every query with an oracle against DuckDB over the same files;
    a mismatch marks that query's operations failed."""
    from databricks_delta_lake_project_spark.parity import compare, duckdb_connection

    con = duckdb_connection(str(st["dir"]))
    notes = []
    for name, _timed, fn, sql in _queries():
        if sql is None:
            continue
        try:
            ok = compare(fn(h.spark, str(st["dir"])), con, sql)["values_match"]
        except Exception as exc:  # noqa: BLE001 - a failed check, not a crash
            ok, name = False, f"{name} ({type(exc).__name__})"
        if not ok:
            notes.append(f"{name} differs from its oracle")
            for o in h.ops:
                if o.info.get("name") == name.split(" ")[0]:
                    o.ok = False
    con.close()
    return 0, 0, notes


def extra_e2e(h: Harness, st: dict, ops: list, walls: list[float]) -> dict[str, tuple]:
    return {
        "query_geomean_s": (stats.geomean([o.seconds for o in ops]), "s"),
        "stored_mb": (None, "MB"),
    }


def traced_metrics(h: Harness, st: dict, ops: list) -> dict[str, float]:
    return {}
