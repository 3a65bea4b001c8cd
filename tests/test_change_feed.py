"""The change data feed has one copy: the ``cdc``/``add`` actions of each
commit. Batch reads (``LakeTable.read_changes``) and the
``delta_cdf_stream`` source plan a version's files the same way, a
write after the commit cannot tear a version's change set, and no
change bytes live outside ``_delta_log``-referenced files."""

from __future__ import annotations

from pathlib import Path

import delta_reference as ref
import pytest
from pyspark.sql import Row
from pyspark.sql.readwriter import DataFrameWriter

from databricks_delta_lake_project_spark.sources.cdf_stream import (
    register_cdf_stream,
)
from databricks_delta_lake_project_spark.tables import LakeTable
from databricks_delta_lake_project_spark.tables.delta_interop import (
    _last_checkpoint,
)
from databricks_delta_lake_project_spark.tables.delta_log import (
    CHECKPOINT_INTERVAL,
    DeltaLogBackend,
)

CDF = {"delta.enableChangeDataFeed": "true"}


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _tuples(df):
    return _ref_tuples(df.collect())


def _ref_tuples(rows):
    return sorted(
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in rows
    )


def _cdf_table(spark, root, n=3):
    return LakeTable.create(
        spark,
        str(root),
        df=_kv(spark, [(i, f"v{i}") for i in range(n)]),
        properties=CDF,
    )


def _checkpoint_only_table(spark, root):
    """A partitioned CDF table at v11 whose log starts at the v10
    checkpoint: v10 is a CDF UPDATE, v11 an append; the JSON commits
    v0-v9 are deleted."""
    t = LakeTable.create(
        spark,
        str(root),
        df=spark.createDataFrame([Row(p="x", k=0, v="v0")]),
        partition_by=["p"],
        properties=CDF,
    )
    for i in range(1, CHECKPOINT_INTERVAL):
        t.append(spark.createDataFrame([Row(p="y", k=i, v=f"v{i}")]))
    t.update("k = 0", {"v": "'zero'"})  # v10, checkpointed
    t.append(spark.createDataFrame([Row(p="x", k=11, v="v11")]))  # v11
    assert _last_checkpoint(t.root)["version"] == CHECKPOINT_INTERVAL
    for v in range(CHECKPOINT_INTERVAL):
        (Path(t.root) / "_delta_log" / f"{v:020d}.json").unlink()
    return t


def _merge(t, rows):
    return (
        t.merge(_kv(t.spark, rows), "t.k = s.k")
        .whenMatchedUpdate(set={"v": "s.v"})
        .whenNotMatchedInsertAll()
        .execute()
    )


def test_write_after_commit_cannot_tear_the_change_set(
    spark, tmp_path, monkeypatch
):
    """Every DataFrame write started after the commit lands fails. A
    CDF-enabled UPDATE and MERGE still return normally, and each
    version reads back its full change set, equal to the independent
    reference reader's."""
    t = _cdf_table(spark, tmp_path / "gap")
    committed: list[int] = []
    real_commit = DeltaLogBackend.commit

    def commit(self, *args, **kwargs):
        v = real_commit(self, *args, **kwargs)
        committed.append(v)
        return v

    def refuse_after_commit(real):
        def write(self, *args, **kwargs):
            if committed:
                raise OSError("injected: DataFrame write after the commit")
            return real(self, *args, **kwargs)

        return write

    monkeypatch.setattr(DeltaLogBackend, "commit", commit)
    for name in ("parquet", "save"):
        monkeypatch.setattr(
            DataFrameWriter,
            name,
            refuse_after_commit(getattr(DataFrameWriter, name)),
        )

    t.update("k = 1", {"v": "'one'"})
    (v_update,) = committed
    committed.clear()
    _merge(t, [(2, "two"), (7, "seven")])
    (v_merge,) = committed

    assert _tuples(t.read_changes(v_update, v_update)) == [
        (1, "one", "update_postimage", v_update),
        (1, "v1", "update_preimage", v_update),
    ]
    assert _tuples(t.read_changes(v_merge, v_merge)) == [
        (2, "two", "update_postimage", v_merge),
        (2, "v2", "update_preimage", v_merge),
        (7, "seven", "insert", v_merge),
    ]
    for v in (v_update, v_merge):
        assert _tuples(t.read_changes(v, v)) == _ref_tuples(ref.changes(t.root, v, v))


def test_no_private_change_copy_and_vacuum_reclaims_change_bytes(spark, tmp_path):
    """No write on a CDF table creates ``_changes/``; after a zero-hour
    VACUUM every change file is gone, so no change bytes remain outside
    the table's data files and ``_delta_log``."""
    t = _cdf_table(spark, tmp_path / "one_copy")
    t.append(_kv(spark, [(10, "a")]))
    t.append_txn(_kv(spark, [(11, "b")]), "app", 0)
    t.update("k = 0", {"v": "'zero'"})
    t.delete("k = 1")
    _merge(t, [(2, "two"), (12, "c")])
    t.replace_where(_kv(spark, [(10, "A")]), "k = 10")
    root = Path(t.root)
    assert not (root / "_changes").exists()
    assert list((root / "_change_data").rglob("*.parquet"))
    before = _tuples(t.read_changes(0))

    t.vacuum(retain_hours=0)
    assert not (root / "_changes").exists()
    assert not [p for p in (root / "_change_data").rglob("*") if p.is_file()]
    stray = [
        p
        for p in root.rglob("*")
        if p.is_file()
        and not p.relative_to(root).parts[0] in ("_delta_log", "data")
    ]
    assert stray == []
    assert len(before) == 13


def test_noop_merge_records_an_empty_change_set(spark, tmp_path):
    """A MERGE whose matched clause declines every row still rewrites
    the matched file. Its commit carries one empty cdc file, so the
    version reads as no change for every reader, not as an unreadable
    rewrite."""
    t = _cdf_table(spark, tmp_path / "noop")
    m = (
        t.merge(_kv(spark, [(1, "v1")]), "t.k = s.k")
        .whenMatchedUpdate(condition="t.v <> s.v", set={"v": "s.v"})
        .execute()
    )
    assert m["numTargetRowsUpdated"] == 0 and m["numRemovedFiles"] == 1
    v = t.version()
    assert t.read_changes(v, v).count() == 0
    assert ref.changes(t.root, v, v) == []


def test_insert_only_merge_into_empty_cdf_table_reads_as_inserts(spark, tmp_path):
    """A MERGE into a table with no files only adds files, so it takes
    the insert-only path and writes no change files even with CDF on;
    its adds read back as the inserts."""
    t = LakeTable.create(
        spark, str(tmp_path / "empty"), schema=_kv(spark, []).schema, properties=CDF
    )
    _merge(t, [(1, "a"), (2, "b")])
    v = t.version()
    assert t._log.read_commit(t.root, v)["cdc"] == []
    want = [(1, "a", "insert", v), (2, "b", "insert", v)]
    assert _tuples(t.read_changes(v, v)) == want
    assert _ref_tuples(ref.changes(t.root, v, v)) == want


def test_cdf_stream_reads_a_table_whose_log_starts_at_a_checkpoint(
    spark, tmp_path
):
    """With the JSON commits before the checkpoint removed, the stream
    takes schema, partition columns and mapping from the checkpointed
    snapshot and delivers every version from ``startingVersion``."""
    t = _checkpoint_only_table(spark, tmp_path / "ckpt_only")
    want = [
        ("x", 0, "v0", "update_preimage", 10),
        ("x", 0, "zero", "update_postimage", 10),
        ("x", 11, "v11", "insert", 11),
    ]
    batch = LakeTable(spark, t.root).read_changes(CHECKPOINT_INTERVAL)
    assert sorted(
        (r["p"], r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in batch.collect()
    ) == want

    register_cdf_stream(spark)
    df = (
        spark.readStream.format("delta_cdf_stream")
        .option("path", t.root)
        .option("startingVersion", CHECKPOINT_INTERVAL)
        .load()
    )
    out = tmp_path / "out"
    q = (
        df.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.schema(df.schema).parquet(str(out))
    assert sorted(
        (r["p"], r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in got.collect()
    ) == want


def test_cdf_over_a_vacuumed_range_refuses(spark, tmp_path):
    """A change feed that starts below the oldest commit left in the log
    refuses, naming the vacuumed versions, instead of returning the
    changes of the commits that remain as if they were all; so does a
    range that ends before it starts. The batch reader, the stream and
    the reference reader agree."""
    t = _checkpoint_only_table(spark, tmp_path / "vacuumed")
    with pytest.raises(ValueError, match="before v10 .*vacuumed"):
        t.read_changes(0)
    with pytest.raises(ValueError, match="before v10 .*vacuumed"):
        ref.changes(t.root, 0)
    with pytest.raises(ValueError, match="v11..v10"):
        t.read_changes(11, 10)
    assert t.read_changes(10, 10).count() == 2

    register_cdf_stream(spark)
    q = (
        spark.readStream.format("delta_cdf_stream")
        .option("path", t.root)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="before v10 .*vacuumed"):
        q.awaitTermination()
    assert not list((tmp_path / "out").glob("*.parquet"))


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_cdf_dml_job_counts(spark, tmp_path):
    """Spark jobs per warm 10-row DML on a 2,000-row CDF table. Change
    rows are written once, inside the commit, and an append writes no
    change files at all."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "jobs"),
        df=spark.range(2000).selectExpr("id AS k", "CAST(id AS STRING) AS v"),
        properties=CDF,
    )
    ops = {
        "append": lambda i: t.append(
            _kv(spark, [(10_000 + 100 * i + j, "a") for j in range(10)])
        ),
        "update": lambda i: t.update(
            f"k >= {10 * i} AND k < {10 * i + 10}", {"v": "'u'"}
        ),
        "delete": lambda i: t.delete(f"k >= {500 + 10 * i} AND k < {510 + 10 * i}"),
        "merge": lambda i: _merge(
            t,
            [(1000 + 10 * i + j, "m") for j in range(5)]
            + [(20_000 + 10 * i + j, "m") for j in range(5)],
        ),
    }
    counts = {}
    for i in range(2):  # the first round warms every path
        for name, op in ops.items():
            j0 = _jobs(spark)
            op(i)
            counts[name] = _jobs(spark) - j0
    assert counts["append"] <= 1, counts
    assert counts["update"] <= 7, counts
    assert counts["delete"] <= 7, counts
    assert counts["merge"] <= 11, counts
    assert not (Path(t.root) / "_changes").exists()
