"""Partitioned-lakehouse DML catalog entry (q50): a full DELETE →
UPDATE → MERGE sequence against a hive-PARTITIONED Delta table whose
final state has an exact DuckDB oracle — so partitioned write-back
(the reference's Silver/Gold write surface,
``transform_customers.py:166-204`` + ``partitionBy`` table layout)
gets a driver correctness row, not only pytest coverage.

Determinism design: all money math runs in integer CENTS
(``floor(o_totalprice*100)`` at ingest; later steps are integer
add/div/multiply) so the result is bit-identical regardless of
micro-ordering, file split, or engine float behavior — the oracle
replays the same three steps as CASE expressions over the raw orders
table.

Scale shape: the DELETE predicate is the partition column, so the
touched-file probe prunes to ONE partition via the partitionValues
point-interval stats (no footer read, no other partition scanned);
the UPDATE's mixed predicate prunes by partition stats then footer
stats; the MERGE's copy-on-write touches only files whose key range
overlaps the source. Steady-state cost is O(touched partition), never
O(table) — the property that matters when the table is 100 TB and the
DML targets one day.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import LakeTable
from .catalog import bench_fast, load


def q50_partitioned_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Create a Delta table partitioned by order status, run the DML
    sequence, and return the per-status rollup of the final state."""
    work = Path(tempfile.mkdtemp(prefix="q50_lakedml_"))
    table_path = work / "orders_part"

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    if bench_fast():
        orders = orders.where("pmod(o_orderkey, 4) = 0")
    t = LakeTable.create(
        spark,
        str(table_path),
        df=orders,
        format="delta",
        partition_by=["status"],
    )
    # 1) partition-predicate DELETE: prunes to the 'P' partition via
    #    partitionValues stats — no other partition's files probed
    t.delete("status = 'P'")
    # 2) mixed-predicate UPDATE: +10% (integer cents, div → exact) on
    #    small F-status orders
    t.update(
        "status = 'F' AND price_cents < 10000000",
        {"price_cents": "price_cents + (price_cents div 10)"},
    )
    # 3) MERGE: double every 7th order key (source pre-filtered to the
    #    surviving statuses so no spurious not-matched inserts)
    src = orders.filter(
        (F.col("o_orderkey") % 7 == 0) & (F.col("status") != "P")
    ).select("o_orderkey")
    (
        t.merge(src, "t.o_orderkey = s.o_orderkey")
        .whenMatchedUpdate({"price_cents": "t.price_cents * 2"})
        .execute()
    )
    return (
        t.to_df()
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_cents").alias("total_cents"),
        )
    )


Q50_SQL = """
WITH base AS (
    SELECT o_orderkey,
           o_orderstatus AS status,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS c0
    FROM orders
    WHERE o_orderstatus <> 'P'
), upd AS (
    SELECT o_orderkey, status,
           CASE WHEN status = 'F' AND c0 < 10000000
                THEN c0 + (c0 // 10) ELSE c0 END AS c1
    FROM base
), mrg AS (
    SELECT status,
           CASE WHEN o_orderkey % 7 = 0 THEN c1 * 2 ELSE c1 END AS c2
    FROM upd
)
SELECT status,
       COUNT(*) AS n_orders,
       CAST(SUM(c2) AS BIGINT) AS total_cents
FROM mrg
GROUP BY status
"""


def q52_sql_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-MERGE CDC driven through the SQL-STRING entry path (the
    reference's own MERGE surface, ``delta_lake_features.py:308-323``):
    the statement is parsed by ``tables/sqldml.py`` and routed to the
    engine MergeBuilder — delete + conditional update + conditional
    insert in one statement against a Delta-format table, with the
    final table state checked row-for-row against a DuckDB oracle.

    All arithmetic is integer cents, so the result is bit-exact at any
    partitioning. Scale shape is the MERGE's: stats-pruned touched-file
    probe, one full-outer join on the key, O(touched files) rewrite.
    """
    from ..tables import LakeTable, sqldml
    from .sqlpack import register_views, run_statement

    work = Path(tempfile.mkdtemp(prefix="q52_sqlmerge_"))
    base = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("acct_cents"),
    )
    t = LakeTable.create(
        spark,
        str(work / "silver_customers"),
        df=base.repartition(4),
        format="delta",
    )
    sqldml.register_table(spark, "silver_customers", t)
    register_views(spark, sf_dir)
    run_statement(
        spark,
        """
        -- CDC batch synthesized deterministically from the customer view:
        -- delete every id % 7 = 3, bump every other id % 5 = 0 by 10000
        -- cents, insert a fresh id + 10000000 row per id % 11 = 0
        MERGE INTO silver_customers AS target
        USING (
            SELECT c_custkey AS id, c_mktsegment AS segment,
                   CAST(FLOOR(c_acctbal * 100) AS BIGINT) + 10000 AS acct_cents,
                   CASE WHEN c_custkey % 7 = 3 THEN 'delete' ELSE 'update' END AS op
            FROM customer WHERE c_custkey % 7 = 3 OR c_custkey % 5 = 0
            UNION ALL
            SELECT c_custkey + 10000000 AS id, c_mktsegment AS segment,
                   CAST(5000 AS BIGINT) AS acct_cents, 'insert' AS op
            FROM customer WHERE c_custkey % 11 = 0
        ) AS source
        ON target.id = source.id
        WHEN MATCHED AND source.op = 'delete' THEN DELETE
        WHEN MATCHED THEN UPDATE SET
            target.acct_cents = source.acct_cents,
            target.segment = source.segment
        WHEN NOT MATCHED AND source.op != 'delete' THEN
            INSERT (id, segment, acct_cents)
            VALUES (source.id, source.segment, source.acct_cents)
        """,
    )
    return t.to_df().select("id", "segment", "acct_cents")


Q52_SQL = """
WITH base AS (
    SELECT c_custkey AS id, c_mktsegment AS segment,
           CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acct_cents
    FROM customer
), survivors AS (
    SELECT id, segment,
           CASE WHEN id % 5 = 0 THEN acct_cents + 10000 ELSE acct_cents END
             AS acct_cents
    FROM base
    WHERE id % 7 <> 3
)
SELECT id, segment, acct_cents FROM survivors
UNION ALL
SELECT id + 10000000 AS id, segment, CAST(5000 AS BIGINT) AS acct_cents
FROM base WHERE id % 11 = 0
"""


LAKEDML_QUERIES = {
    "q50_partitioned_dml": (q50_partitioned_dml, Q50_SQL),
    "q52_sql_merge_cdc": (q52_sql_merge_cdc, Q52_SQL),
}
