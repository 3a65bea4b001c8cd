"""REORG TABLE ... APPLY (PURGE) + SHOW PARTITIONS.

REORG physically rewrites files carrying deletion vectors so
soft-deleted bytes are gone (the documented GDPR-erasure prep);
SHOW PARTITIONS answers from the commit log's partitionValues —
O(files) driver metadata, never a scan. Both are beyond the reference
repo's surface (Databricks-public semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from databricks_delta_lake_project_spark.queries.sqlpack import run_statement
from databricks_delta_lake_project_spark.tables import LakeTable, sqldml


def _dv_table(spark, tmp_path, name, partitioned=False):
    rows = [Row(day="d1", id=i) for i in range(8)] + [
        Row(day="d2", id=8),
        Row(day="d2", id=9),
    ]
    t = LakeTable.create(
        spark,
        str(tmp_path / name),
        df=spark.createDataFrame(rows).coalesce(1),
        format="delta",
        partition_by=["day"] if partitioned else None,
        properties={"delta.enableDeletionVectors": "true"},
    )
    sqldml.register_table(spark, name, t)
    return t


def test_reorg_purge_drops_dv_and_erases_bytes(spark, tmp_path):
    t = _dv_table(spark, tmp_path, "reorg_t")
    r = t.delete("id = 3")
    assert r["strategy"] == "dv"
    assert any(e.get("deletionVector") for e in t._files())

    res = run_statement(
        spark, "REORG TABLE reorg_t APPLY (PURGE)"
    ).collect()[0]
    assert res["numFilesRemoved"] >= 1 and res["numRowsRewritten"] == 9

    # no live entry carries a DV, logical data unchanged
    assert not any(e.get("deletionVector") for e in t._files())
    assert sorted(x["id"] for x in t.to_df().collect()) == [
        0, 1, 2, 4, 5, 6, 7, 8, 9,
    ]
    # the PURGE promise: raw bytes of the live files no longer hold
    # the deleted row (pre-REORG they did — DV masking only)
    raw = spark.read.parquet(
        *[f"{t.root}/{e['path']}" for e in t._files()]
    )
    assert sorted(x["id"] for x in raw.collect()) == [
        0, 1, 2, 4, 5, 6, 7, 8, 9,
    ]
    # time travel across the REORG commit still sees DV semantics
    assert t.to_df(version=1).count() == 9
    assert t.to_df(version=0).count() == 10


def test_reorg_purge_where_scopes_partitions(spark, tmp_path):
    t = _dv_table(spark, tmp_path, "reorg_p", partitioned=True)
    t.delete("id = 3")  # DV on the d1 file
    t.delete("id = 8")  # DV on the d2 file
    assert (
        sum(1 for e in t._files() if e.get("deletionVector")) == 2
    )

    res = run_statement(
        spark, "REORG TABLE reorg_p WHERE day = 'd1' APPLY (PURGE)"
    ).collect()[0]
    assert res["numFilesRemoved"] == 1

    dvd = [e for e in t._files() if e.get("deletionVector")]
    assert len(dvd) == 1 and dvd[0]["partitionValues"]["day"] == "d2"
    # rewritten d1 files keep hive layout + partitionValues
    d1 = [
        e
        for e in t._files()
        if e.get("partitionValues", {}).get("day") == "d1"
    ]
    assert d1 and all("day=d1" in e["path"] for e in d1)
    assert sorted(x["id"] for x in t.to_df().collect()) == [
        0, 1, 2, 4, 5, 6, 7, 9,
    ]


def test_reorg_purge_noop_without_dvs(spark, tmp_path):
    t = _dv_table(spark, tmp_path, "reorg_n")
    v = t._log.latest_version(t.root)
    res = t.reorg_purge()
    assert res == {
        "numFilesRemoved": 0,
        "numFilesAdded": 0,
        "numRowsRewritten": 0,
    }
    # no-op stages no commit
    assert t._log.latest_version(t.root) == v


def test_show_partitions_typed_from_log(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "sp"),
        df=spark.createDataFrame(
            [Row(day="d1", bucket=1, id=0), Row(day="d2", bucket=2, id=1)]
        ),
        format="delta",
        partition_by=["day", "bucket"],
    )
    sqldml.register_table(spark, "sp_t", t)
    out = run_statement(spark, "SHOW PARTITIONS sp_t")
    assert out.columns == ["day", "bucket"]
    # values come back TYPED under the table schema, not hive strings
    assert dict(out.dtypes)["bucket"] == "bigint"
    assert [(r["day"], r["bucket"]) for r in out.collect()] == [
        ("d1", 1),
        ("d2", 2),
    ]

    # partitions are a log fact: a metadata-only partition DELETE
    # drops the partition from the listing without any scan
    t.delete("day = 'd2'")
    assert [
        r["day"] for r in run_statement(spark, "SHOW PARTITIONS sp_t").collect()
    ] == ["d1"]


def test_show_partitions_refuses_unpartitioned(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "sp_flat"),
        df=spark.createDataFrame([Row(id=1)]),
    )
    sqldml.register_table(spark, "sp_flat", t)
    with pytest.raises(ValueError, match="not partitioned"):
        run_statement(spark, "SHOW PARTITIONS sp_flat")


@pytest.mark.slow
def test_reorg_is_invisible_to_cdf(spark, tmp_path):
    """REORG swaps physical layout only — CDF readers (engine AND the
    independent interop replay) must span the REORG version without
    refusing and without phantom changes (dataChange=false adds)."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "reorg_cdf"),
        df=spark.createDataFrame(
            [Row(day="d1", id=i) for i in range(4)]
        ).coalesce(1),
        format="delta",
        properties={
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    sqldml.register_table(spark, "reorg_cdf", t)
    t.delete("id = 2")  # v1: DV delete, cdc staged
    t.reorg_purge()  # v2: physical purge, no logical change

    expect = {(2, "delete", 1)}
    got = {
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in t.read_changes(1).collect()
    }
    assert got == expect

    import delta_reference as ref

    reference = {
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in ref.changes(t.root, 1)
    }
    assert reference == expect

    from databricks_delta_lake_project_spark.queries.sqlpack import (
        run_statement,
    )

    sql_rows = {
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in run_statement(
            spark, "SELECT * FROM table_changes('reorg_cdf', 1)"
        ).collect()
    }
    assert sql_rows == expect
