"""Delta Lake write-back: the engine's writers (append / append_txn /
MERGE / DELETE / UPDATE / OPTIMIZE / RESTORE) commit real ``_delta_log``
JSON actions + periodic parquet checkpoints. Every assertion re-reads
the table through the INDEPENDENT interop replay path
(``DeltaInteropTable``), which folds raw protocol actions and never
consults the writer's state — a full protocol round-trip per operation.
(duckdb's delta extension would be a third reader, but it cannot be
installed in this offline environment.)
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from databricks_delta_lake_project_spark.tables import (
    DeltaInteropTable,
    LakeTable,
)


def _mk(spark, tmp_path, name="dl", props=None):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, amount double",
    )
    path = str(tmp_path / name)
    t = LakeTable.create(spark, path, df=df, format="delta", properties=props)
    return t, path


def _interop_rows(spark, path, version=None):
    df = DeltaInteropTable(spark, path).to_df(version=version)
    return {tuple(r) for r in df.select("id", "name", "amount").collect()}


def test_create_emits_protocol_and_metadata(spark, tmp_path):
    t, path = _mk(spark, tmp_path)
    log = Path(path) / "_delta_log"
    actions = [
        json.loads(l)
        for l in (log / f"{0:020d}.json").read_text().splitlines()
        if l.strip()
    ]
    kinds = [next(iter(a)) for a in actions]
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minReaderVersion"] == 1 and proto["minWriterVersion"] == 2
    adds = [a["add"] for a in actions if "add" in a]
    stats = [json.loads(a["stats"]) for a in adds]
    assert sum(s["numRecords"] for s in stats) == 3
    assert min(s["minValues"]["id"] for s in stats) == 1
    assert max(s["maxValues"]["id"] for s in stats) == 3
    assert _interop_rows(spark, path) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0),
    }


def test_append_and_time_travel_via_interop(spark, tmp_path):
    t, path = _mk(spark, tmp_path)
    t.append(spark.createDataFrame([(4, "d", 40.0)], t.schema))
    assert _interop_rows(spark, path) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0),
    }
    assert _interop_rows(spark, path, version=0) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0),
    }


def test_merge_roundtrip(spark, tmp_path):
    t, path = _mk(spark, tmp_path)
    src = spark.createDataFrame(
        [(2, "B!", 99.0), (9, "new", 1.0)], "id long, name string, amount double"
    )
    m = (
        t.merge(src, "t.id = s.id")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
    assert m["numTargetRowsUpdated"] == 1 and m["numTargetRowsInserted"] == 1
    assert _interop_rows(spark, path) == {
        (1, "a", 10.0), (2, "B!", 99.0), (3, "c", 30.0), (9, "new", 1.0),
    }
    # the MERGE commit carries remove actions for the rewritten files
    log = Path(path) / "_delta_log"
    v = DeltaInteropTable(spark, path).version()
    actions = [
        json.loads(l)
        for l in (log / f"{v:020d}.json").read_text().splitlines()
        if l.strip()
    ]
    assert any("remove" in a for a in actions)
    ci = next(a["commitInfo"] for a in actions if "commitInfo" in a)
    assert ci["operation"] == "MERGE"


def test_delete_update_roundtrip(spark, tmp_path):
    t, path = _mk(spark, tmp_path)
    t.delete("id = 1")
    t.update("id = 2", {"amount": "amount + 5"})
    assert _interop_rows(spark, path) == {(2, "b", 25.0), (3, "c", 30.0)}


def test_txn_append_idempotent_on_delta(spark, tmp_path):
    t, path = _mk(spark, tmp_path)
    batch = spark.createDataFrame([(7, "g", 70.0)], t.schema)
    assert t.append_txn(batch, "app1", 0) >= 0
    assert t.append_txn(batch, "app1", 0) == -1  # replay skipped
    assert t.txn_version("app1") == 0
    rows = _interop_rows(spark, path)
    assert (7, "g", 70.0) in rows and len(rows) == 4
    # the txn is a real protocol action, visible to other Delta readers
    log = Path(path) / "_delta_log"
    found = []
    for p in sorted(log.glob("*.json")):
        for l in p.read_text().splitlines():
            if l.strip():
                a = json.loads(l)
                if "txn" in a:
                    found.append(a["txn"])
    assert found and found[0]["appId"] == "app1" and found[0]["version"] == 0


def test_schema_evolution_writes_new_metadata(spark, tmp_path):
    t, path = _mk(spark, tmp_path)
    evolved = spark.createDataFrame(
        [(5, "e", 50.0, "extra")], "id long, name string, amount double, tag string"
    )
    t.append(evolved, merge_schema=True)
    it = DeltaInteropTable(spark, path)
    assert [f.name for f in it.schema.fields] == ["id", "name", "amount", "tag"]
    got = {tuple(r) for r in it.to_df().filter(F.col("id") == 5).collect()}
    assert got == {(5, "e", 50.0, "extra")}


def test_checkpoint_written_and_replayable(spark, tmp_path):
    t, path = _mk(spark, tmp_path)
    for i in range(10, 21):  # push past CHECKPOINT_INTERVAL
        t.append(spark.createDataFrame([(i, f"r{i}", float(i))], t.schema))
    log = Path(path) / "_delta_log"
    cps = list(log.glob("*.checkpoint.parquet"))
    assert cps, "no checkpoint parquet written"
    last = json.loads((log / "_last_checkpoint").read_text())
    assert last["version"] % 10 == 0
    # interop replay (which honors _last_checkpoint) equals full content
    rows = _interop_rows(spark, path)
    assert {r[0] for r in rows} == {1, 2, 3} | set(range(10, 21))
    # pre-checkpoint time travel still works from the JSON commits
    assert _interop_rows(spark, path, version=0) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0),
    }


def test_optimize_adds_carry_datachange_false(spark, tmp_path):
    t, path = _mk(spark, tmp_path)
    for i in range(4, 8):
        t.append(spark.createDataFrame([(i, f"r{i}", float(i))], t.schema))
    res = t.optimize()
    assert res["numFilesAdded"] >= 1
    v = DeltaInteropTable(spark, path).version()
    actions = [
        json.loads(l)
        for l in (Path(path) / "_delta_log" / f"{v:020d}.json")
        .read_text()
        .splitlines()
        if l.strip()
    ]
    adds = [a["add"] for a in actions if "add" in a]
    assert adds and all(a["dataChange"] is False for a in adds)
    assert len(_interop_rows(spark, path)) == 7


def test_restore_and_history_on_delta(spark, tmp_path):
    t, path = _mk(spark, tmp_path)
    t.append(spark.createDataFrame([(4, "d", 40.0)], t.schema))
    t.delete("id <= 2")
    t.restore(1)
    assert _interop_rows(spark, path) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0),
    }
    ops = [r["operation"] for r in t.history().orderBy("version").collect()]
    assert ops == ["CREATE TABLE AS SELECT", "WRITE", "DELETE", "RESTORE"]


def test_for_path_opens_delta_writable(spark, tmp_path):
    _, path = _mk(spark, tmp_path)
    t = LakeTable.for_path(spark, path)
    assert isinstance(t, LakeTable)
    t.append(spark.createDataFrame([(8, "h", 80.0)], t.schema))
    assert (8, "h", 80.0) in _interop_rows(spark, path)


def test_for_path_partitioned_external_opens_writable(spark, tmp_path):
    """An externally-partitioned Delta table opens WRITABLE since
    partitioned write-back landed: an engine append lands hive-style
    files with partitionValues-stamped add actions that the independent
    interop replay reads back."""
    root = tmp_path / "ext_part"
    sub = root / "part=0"
    sub.mkdir(parents=True)
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    tmp = root / "_t"
    df.coalesce(1).write.parquet(str(tmp))
    next(tmp.glob("part-*.parquet")).rename(sub / "d0.parquet")
    schema_json = spark.createDataFrame(
        [(1, "a", 0)], "id long, name string, part int"
    ).schema.json()
    log = root / "_delta_log"
    log.mkdir()
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "format": {"provider": "parquet", "options": {}}, "schemaString": schema_json, "partitionColumns": ["part"], "configuration": {}}},
        {"add": {"path": "part=0/d0.parquet", "partitionValues": {"part": "0"}, "size": 1, "modificationTime": 1, "dataChange": True}},
    ]
    (log / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions) + "\n"
    )
    t = LakeTable.for_path(spark, str(root))
    assert isinstance(t, LakeTable)
    t.append(
        spark.createDataFrame([(2, "b", 1)], "id long, name string, part int")
    )
    assert {(r["id"], r["part"]) for r in t.to_df().collect()} == {
        (1, 0),
        (2, 1),
    }
    new = [e for e in t._files() if e["path"] != "part=0/d0.parquet"]
    assert new and all(
        e["partitionValues"] == {"part": "1"} and "part=1" in e["path"]
        for e in new
    )
    it = DeltaInteropTable(spark, str(root))
    assert {(r["id"], r["part"]) for r in it.to_df().collect()} == {
        (1, 0),
        (2, 1),
    }


def test_cdf_works_on_delta_format(spark, tmp_path):
    t, path = _mk(spark, tmp_path, props={"enableChangeDataFeed": True})
    t.append(spark.createDataFrame([(4, "d", 40.0)], t.schema))
    ch = t.read_changes(starting_version=0)
    types = {r["_change_type"] for r in ch.collect()}
    assert types == {"insert"}
    assert ch.count() == 4


def test_delete_via_deletion_vectors(spark, tmp_path):
    """DV delete: no data file is rewritten — the touched file is
    re-added with a deletion-vector descriptor, the protocol upgrades
    to (3,7)+deletionVectors, and BOTH read paths (engine and
    independent interop replay) drop exactly the marked rows."""
    df = spark.createDataFrame(
        [(i, f"r{i}", float(i)) for i in range(10)],
        "id long, name string, amount double",
    )
    path = str(tmp_path / "dv_table")
    t = LakeTable.create(
        spark, path, df=df.coalesce(1), format="delta",
        properties={"delta.enableDeletionVectors": "true"},
    )
    data_files_before = sorted(p.name for p in (Path(path) / "data").iterdir())
    m = t.delete("id in (2, 5)")
    assert m["strategy"] == "dv" and m["numDeletedRows"] == 2
    assert m["numDeletionVectorsAdded"] == 1 and m["numRemovedFiles"] == 0
    # no data file rewritten, a DV sidecar exists
    assert sorted(p.name for p in (Path(path) / "data").iterdir()) == data_files_before
    assert list(Path(path).glob("deletion_vector_*.bin"))
    # protocol upgraded in the same commit
    v = t.version()
    actions = [
        json.loads(l)
        for l in (Path(path) / "_delta_log" / f"{v:020d}.json").read_text().splitlines()
        if l.strip()
    ]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]
    add = next(a["add"] for a in actions if "add" in a)
    assert add["deletionVector"]["cardinality"] == 2
    # both readers agree
    assert {r["id"] for r in t.to_df().collect()} == set(range(10)) - {2, 5}
    assert {r[0] for r in DeltaInteropTable(spark, path).to_df().select("id").collect()} == set(range(10)) - {2, 5}
    # second DV delete unions positions into a fresh bitmap
    m2 = t.delete("id = 7")
    assert m2["strategy"] == "dv"
    assert {r["id"] for r in t.to_df().collect()} == set(range(10)) - {2, 5, 7}
    # copy-on-write ops over the DV'd file see only alive rows
    t.update("id = 0", {"amount": "999.0"})
    rows = {(r["id"], r["amount"]) for r in t.to_df().collect()}
    assert (0, 999.0) in rows and len(rows) == 7
    # time travel through the interop replay still sees the DV'd state
    assert {
        r[0]
        for r in DeltaInteropTable(spark, path).to_df(version=1).select("id").collect()
    } == set(range(10)) - {2, 5}


def test_dv_delete_kills_whole_file(spark, tmp_path):
    """Deleting every row of a file drops it outright instead of
    writing an all-rows DV."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(6)], "id long, amount double"
    )
    path = str(tmp_path / "dv_dead")
    t = LakeTable.create(
        spark, path, df=df.coalesce(1), format="delta",
        properties={"delta.enableDeletionVectors": "true"},
    )
    m = t.delete("id >= 0")
    assert m["strategy"] == "dv"
    assert m["numRemovedFiles"] == 1 and m["numDeletionVectorsAdded"] == 0
    assert t.to_df().count() == 0
    assert DeltaInteropTable(spark, path).to_df().count() == 0


def test_dv_falls_back_to_rewrite_when_large(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, amount double"
    )
    path = str(tmp_path / "dv_big")
    t = LakeTable.create(
        spark, path, df=df.coalesce(1), format="delta",
        properties={"delta.enableDeletionVectors": "true"},
    )
    m = t.delete("id < 50", dv_max_rows=10)
    assert "strategy" not in m  # rewrite path metrics
    assert m["numDeletedRows"] == 50
    assert t.to_df().count() == 50


def test_commit_race_put_if_absent(spark, tmp_path):
    """Optimistic concurrency: when another writer lands version N
    first, the backend recomputes and lands N+1 instead of clobbering."""
    t, path = _mk(spark, tmp_path)
    log = Path(path) / "_delta_log"
    # simulate a foreign writer stealing version 1
    (log / f"{1:020d}.json").write_text(
        json.dumps({"commitInfo": {"operation": "FOREIGN", "timestamp": 5}})
        + "\n"
    )
    t.append(spark.createDataFrame([(4, "d", 40.0)], t.schema))
    versions = sorted(int(p.stem) for p in log.glob("*.json") if p.stem.isdigit())
    assert versions == [0, 1, 2]
    ops = [r["operation"] for r in t.history().orderBy("version").collect()]
    assert ops == ["CREATE TABLE AS SELECT", "FOREIGN", "WRITE"]
    assert (4, "d", 40.0) in _interop_rows(spark, path)


def test_dv_read_plan_is_broadcast_antijoin(spark, tmp_path):
    """The DV filter must be a broadcast anti-join over the scan — no
    shuffle of the data side at any scale."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(8)], "id long, amount double"
    )
    path = str(tmp_path / "dv_plan")
    t = LakeTable.create(
        spark, path, df=df.coalesce(1), format="delta",
        properties={"delta.enableDeletionVectors": "true"},
    )
    t.delete("id = 3")
    plan = t.to_df()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "LeftAnti" in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_update_via_deletion_vectors(spark, tmp_path):
    """DV UPDATE: old row versions are DV-marked in place, only the
    updated rows land as a new file — untouched rows never rewrite."""
    df = spark.createDataFrame(
        [(i, f"r{i}", float(i)) for i in range(10)],
        "id long, name string, amount double",
    )
    path = str(tmp_path / "dv_upd")
    t = LakeTable.create(
        spark, path, df=df.coalesce(1), format="delta",
        properties={"delta.enableDeletionVectors": "true"},
    )
    files_before = sorted(p.name for p in (Path(path) / "data").iterdir())
    m = t.update("id in (1, 4)", {"amount": "amount * 10"})
    assert m["strategy"] == "dv" and m["numUpdatedRows"] == 2
    assert m["numDeletionVectorsAdded"] == 1 and m["numAddedFiles"] >= 1
    # the original data file was NOT rewritten; a new file holds updates
    files_after = sorted(p.name for p in (Path(path) / "data").iterdir())
    assert set(files_before) <= set(files_after)
    assert len(files_after) > len(files_before)
    got = {(r["id"], r["amount"]) for r in t.to_df().collect()}
    assert (1, 10.0) in got and (4, 40.0) in got and len(got) == 10
    # the independent replay reader agrees
    io = {
        (r["id"], r["amount"])
        for r in DeltaInteropTable(spark, path).to_df().select("id", "amount").collect()
    }
    assert io == got


def test_vacuum_collects_orphaned_dv_bins(spark, tmp_path):
    """OPTIMIZE absorbs DVs; VACUUM then removes the orphaned sidecars
    while keeping every bin some version still references."""
    import os

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, amount double"
    )
    path = str(tmp_path / "dv_vac")
    t = LakeTable.create(
        spark, path, df=df.coalesce(1), format="delta",
        properties={"delta.enableDeletionVectors": "true"},
    )
    t.delete("id = 2")
    bins = list(Path(path).glob("deletion_vector_*.bin"))
    assert len(bins) == 1
    # referenced: retention-0 vacuum must NOT touch it
    assert t.vacuum(retain_hours=0.0, dry_run=True) == [] or all(
        not v.startswith("deletion_vector") for v in t.vacuum(retain_hours=0.0, dry_run=True)
    )
    # compaction rewrites alive rows and drops the DV reference...
    t.optimize(target_files=1, max_file_bytes=1 << 40)
    # ...but the bin is still referenced by the OLD version (time
    # travel), so it must survive until those commits age out. Simulate
    # aging by rewriting history: check the keep-set logic directly.
    kept = t._log.referenced_dv_files(t.root)
    assert bins[0].resolve() in kept
    assert t.to_df().count() == 9


def test_whole_partition_delete_is_metadata_only(spark, tmp_path):
    """DELETE whose complete conjunctive predicate provably matches
    every row of a file (partition drop, stats-proven ranges) removes
    the file by log action alone — zero rewrite, exact metrics, CDF
    still materialized from the dropped files."""
    from pyspark.sql import Row

    path = str(tmp_path / "whole_del")
    t = LakeTable.create(
        spark,
        path,
        df=spark.createDataFrame(
            [Row(day=f"d{i % 3}", id=i) for i in range(30)]
        ).repartition(3, "day"),
        format="delta",
        partition_by=["day"],
        properties={"delta.enableChangeDataFeed": "true"},
    )
    n_files_before = len(t._files())
    m = t.delete("day = 'd1'")
    assert m["numWholeFilesRemoved"] >= 1
    assert m["numAddedFiles"] == 0  # metadata-only: nothing rewritten
    assert m["numDeletedRows"] == 10
    assert len(t._files()) == n_files_before - m["numRemovedFiles"]
    assert sorted({r["day"] for r in t.to_df().collect()}) == ["d0", "d2"]
    cdf = t.read_changes(starting_version=1)
    assert (
        cdf.filter(F.col("_change_type") == "delete").count() == 10
    )
    # incomplete predicates (strict <, unparsable conjuncts) must NOT
    # whole-drop: `id < 20` folds inclusively for skipping, so the
    # full-match inference is disabled and rows are counted exactly
    m2 = t.delete("id < 3")
    assert m2["numWholeFilesRemoved"] == 0
    assert m2["numDeletedRows"] == 2  # ids 0, 2 (1 went with d1)


def test_whole_file_delete_with_existing_dv_counts_alive_rows(spark, tmp_path):
    """A whole-dropped file carrying a deletion vector reports only its
    ALIVE rows as deleted (physical rows minus DV cardinality)."""
    from pyspark.sql import Row

    path = str(tmp_path / "whole_dv")
    t = LakeTable.create(
        spark,
        path,
        df=spark.createDataFrame(
            [Row(day="d1", id=i) for i in range(10)]
            + [Row(day="d2", id=10)]
        ).coalesce(1),
        format="delta",
        partition_by=["day"],
        properties={"delta.enableDeletionVectors": "true"},
    )
    r1 = t.delete("id = 4")  # DV marks one row in the d1 file
    assert r1["strategy"] == "dv" and r1["numDeletionVectorsAdded"] == 1
    r2 = t.delete("day = 'd1'")  # whole-drop the DV-carrying file
    assert r2["numWholeFilesRemoved"] == 1
    assert r2["numDeletedRows"] == 9  # 10 physical - 1 already deleted
    assert [x["id"] for x in t.to_df().collect()] == [10]


def _mk_mapped(spark, tmp_path, extra_props=None, name="cmap_wb"):
    """Hand-built column-mapped (mode=name) external Delta table:
    physical parquet columns col-aaa/col-bbb, logical id/name."""
    import pyarrow as pa
    import pyarrow.parquet as pq_
    from pyspark.sql.types import (
        LongType as L,
        StringType as S,
        StructField as SF,
        StructType as ST,
    )

    root = tmp_path / name
    root.mkdir(parents=True)
    pq_.write_table(
        pa.table(
            {
                "col-aaa": pa.array([1, 2, 3], pa.int64()),
                "col-bbb": pa.array(["x", "y", "z"], pa.string()),
            }
        ),
        root / "f0.parquet",
    )
    logical = ST(
        [
            SF("id", L(), True, {"delta.columnMapping.id": 1, "delta.columnMapping.physicalName": "col-aaa"}),
            SF("name", S(), True, {"delta.columnMapping.id": 2, "delta.columnMapping.physicalName": "col-bbb"}),
        ]
    )
    config = {"delta.columnMapping.mode": "name"}
    config.update(extra_props or {})
    acts = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "cm",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": logical.json(),
                "partitionColumns": [],
                "configuration": config,
            }
        },
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
    ]
    log = root / "_delta_log"
    log.mkdir()
    (log / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in acts)
    )
    return root


def test_column_mapped_writeback_full_dml(spark, tmp_path):
    """Column-mapped tables open WRITABLE: every DML writes parquet
    under PHYSICAL names with physical-keyed stats, the mapping
    metadata survives every commit, and the independent interop replay
    agrees; schema evolution (id assignment) is refused loudly."""
    from pyspark.sql import Row

    root = _mk_mapped(spark, tmp_path)
    t = LakeTable.for_path(spark, str(root))
    assert isinstance(t, LakeTable)
    assert sorted((r["id"], r["name"]) for r in t.to_df().collect()) == [
        (1, "x"), (2, "y"), (3, "z"),
    ]
    t.append(spark.createDataFrame([Row(id=4, name="w")]))
    t.update("id = 2", {"name": "'Y!'"})
    t.delete("id = 1")
    (
        t.merge(
            spark.createDataFrame([Row(id=5, name="v"), Row(id=3, name="Z!")]),
            "t.id = s.id",
        )
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
    expect = [(2, "Y!"), (3, "Z!"), (4, "w"), (5, "v")]
    assert sorted((r["id"], r["name"]) for r in t.to_df().collect()) == expect
    it = DeltaInteropTable(spark, str(root))
    assert sorted((r["id"], r["name"]) for r in it.to_df().collect()) == expect
    # protocol inspection: fresh adds carry PHYSICAL stats keys; no
    # commit re-emitted metaData (which would have dropped the mapping)
    log = Path(root) / "_delta_log"
    metas, phys_stats = 0, 0
    for p in sorted(log.glob("*.json")):
        for line in p.read_text().splitlines():
            if not line.strip():
                continue
            a = json.loads(line)
            if a.get("metaData"):
                metas += 1
                assert "physicalName" in a["metaData"]["schemaString"]
            add = a.get("add")
            if add and add.get("stats") and p.name != f"{0:020d}.json":
                st = json.loads(add["stats"])
                if st.get("minValues"):
                    assert set(st["minValues"]) <= {"col-aaa", "col-bbb"}
                    phys_stats += 1
    assert metas == 1 and phys_stats >= 1
    # ADDITIVE evolution works: the new column gets a fresh
    # columnMapping id + col-<uuid> physicalName and maxColumnId
    # advances; data files never carry logical names
    t.append(
        spark.createDataFrame([Row(id=9, name="q", extra="yes")]),
        merge_schema=True,
    )
    evolved = t.schema
    assert [f.name for f in evolved.fields] == ["id", "name", "extra"]
    meta = evolved["extra"].metadata
    assert meta["delta.columnMapping.physicalName"].startswith("col-")
    assert int(meta["delta.columnMapping.id"]) >= 3
    assert int(
        t.properties()["delta.columnMapping.maxColumnId"]
    ) == int(meta["delta.columnMapping.id"])
    got = {
        (r["id"], r["extra"])
        for r in t.to_df().filter(F.col("id") == 9).collect()
    }
    assert got == {(9, "yes")}
    it2 = DeltaInteropTable(spark, str(root))
    assert {
        (r["id"], r["extra"]) for r in it2.to_df().collect()
    } == {(2, None), (3, None), (4, None), (5, None), (9, "yes")}
    # non-additive change (rename) still refuses
    from pyspark.sql.types import LongType as L2, StructField as SF2, StructType as ST2

    with pytest.raises(NotImplementedError):
        t._log.evolve_mapped_schema(
            str(root), ST2([SF2("renamed_id", L2(), True)])
        )


def test_column_mapped_dv_delete(spark, tmp_path):
    """DV DELETE on a mapped table: row indices resolve through the
    physical-schema scan; the re-added file keeps its descriptor and
    both readers agree."""
    root = _mk_mapped(
        spark, tmp_path,
        extra_props={"delta.enableDeletionVectors": "true"},
        name="cmap_dv",
    )
    t = LakeTable.for_path(spark, str(root))
    r = t.delete("id = 2")
    assert r["strategy"] == "dv" and r["numDeletedRows"] == 1
    assert sorted(x["id"] for x in t.to_df().collect()) == [1, 3]
    assert sorted(
        x["id"] for x in DeltaInteropTable(spark, str(root)).to_df().collect()
    ) == [1, 3]
    # the v3/v7 protocol upgrade must carry the columnMapping feature
    # the legacy version numbers implied, not just deletionVectors
    log = Path(root) / "_delta_log"
    protos = [
        json.loads(l)["protocol"]
        for p_ in sorted(log.glob("*.json"))
        for l in p_.read_text().splitlines()
        if l.strip() and '"protocol"' in l
    ]
    up = protos[-1]
    assert up["minReaderVersion"] == 3
    assert set(up["readerFeatures"]) >= {"columnMapping", "deletionVectors"}


@pytest.mark.slow
def test_writer_obligations_refused(spark, tmp_path):
    """The protocol obliges a writer to HONOR every declared writer
    feature: generated/identity expressions and unknown v7
    writerFeatures must refuse write-back (read-only interop handle);
    CHECK constraints/invariants open writable WITH enforcement, and
    delta.appendOnly opens writable but refuses data-changing removes
    at commit time."""
    from pyspark.sql import Row
    from pyspark.sql.types import (
        LongType as L,
        StructField as SF,
        StructType as ST,
    )

    def mk(name, config=None, protocol=None, field_meta=None):
        root = tmp_path / name
        root.mkdir(parents=True)
        df = spark.createDataFrame([Row(id=1)])
        tmp = root / "_t"
        df.coalesce(1).write.parquet(str(tmp))
        next(tmp.glob("part-*.parquet")).rename(root / "f0.parquet")
        schema = ST([SF("id", L(), True, field_meta or {})])
        acts = [
            {"protocol": protocol or {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": name,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema.json(),
                    "partitionColumns": [],
                    "configuration": config or {},
                }
            },
            {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
        ]
        log = root / "_delta_log"
        log.mkdir()
        (log / f"{0:020d}.json").write_text(
            "\n".join(json.dumps(a) for a in acts)
        )
        return str(root)

    # CHECK constraint -> WRITABLE with enforcement (boolean SQL the
    # engine evaluates; full coverage in
    # test_check_constraints_and_invariants_enforced)
    p1 = mk("chk", config={"delta.constraints.positive": "id > 0"})
    assert isinstance(LakeTable.for_path(spark, p1), LakeTable)
    # top-level identity column -> WRITABLE (value generation +
    # highWaterMark tracking; full coverage in test_identity_columns)
    p2 = mk("ident", field_meta={"delta.identity.start": 1, "delta.identity.step": 1})
    assert isinstance(LakeTable.for_path(spark, p2), LakeTable)
    # unknown v7 writer feature -> read-only
    p3 = mk(
        "rowtrack",
        protocol={
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": ["rowTracking"],
        },
    )
    assert isinstance(LakeTable.for_path(spark, p3), DeltaInteropTable)
    # appendOnly: writable, appends land, removes refused at commit
    p4 = mk("ao", config={"delta.appendOnly": "true"})
    t = LakeTable.for_path(spark, p4)
    assert isinstance(t, LakeTable)
    t.append(spark.createDataFrame([Row(id=2)]))
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2]
    with pytest.raises(ValueError, match="append-only"):
        t.delete("id = 1")
    with pytest.raises(ValueError, match="append-only"):
        t.update("id = 1", {"id": "9"})
    # OPTIMIZE (dataChange=false) stays legal on append-only tables
    t.optimize(target_files=1)
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2]


def test_restore_across_dv_delete(spark, tmp_path):
    """RESTORE must diff on (path, DV identity), not path alone: a DV
    DELETE re-adds the same file with a descriptor, and restoring to
    the pre-delete version must resurrect the rows."""
    from pyspark.sql import Row

    path = str(tmp_path / "restore_dv")
    t = LakeTable.create(
        spark,
        path,
        df=spark.createDataFrame([Row(id=i) for i in range(6)]).coalesce(1),
        format="delta",
        properties={"delta.enableDeletionVectors": "true"},
    )
    r = t.delete("id = 2")
    assert r["strategy"] == "dv" and r["numDeletionVectorsAdded"] == 1
    assert sorted(x["id"] for x in t.to_df().collect()) == [0, 1, 3, 4, 5]
    t.restore(0)
    assert sorted(x["id"] for x in t.to_df().collect()) == [0, 1, 2, 3, 4, 5]
    assert sorted(
        x["id"] for x in DeltaInteropTable(spark, path).to_df().collect()
    ) == [0, 1, 2, 3, 4, 5]
    # and restoring forward to the post-delete version re-applies the DV
    t.restore(1)
    assert sorted(x["id"] for x in t.to_df().collect()) == [0, 1, 3, 4, 5]


@pytest.mark.slow
def test_dv_delete_under_symlinked_root_and_special_chars(spark, tmp_path):
    """DV row-position keys must match Spark's `_metadata.file_path`
    rendering: absolute but NOT symlink-resolved, percent-encoded like
    java.net.URI ('+' literal, space -> %20). A symlinked table root or
    a partition value with a space previously made the DV join match
    nothing — delete reported success while rows survived."""
    import os

    from pyspark.sql import Row

    real = tmp_path / "realdir"
    real.mkdir()
    link = tmp_path / "linkdir"
    os.symlink(real, link)
    t = LakeTable.create(
        spark,
        str(link / "t"),
        df=spark.createDataFrame([Row(id=i) for i in range(8)]).coalesce(1),
        format="delta",
        properties={"delta.enableDeletionVectors": "true"},
    )
    r = t.delete("id = 3")
    assert r["numDeletionVectorsAdded"] == 1  # the join actually hit
    assert sorted(x["id"] for x in t.to_df().collect()) == [
        0, 1, 2, 4, 5, 6, 7,
    ]
    t2 = LakeTable.create(
        spark,
        str(tmp_path / "t_space"),
        df=spark.createDataFrame(
            [Row(day="a b", id=i) for i in range(4)] + [Row(day="c+d", id=9)]
        ).coalesce(1),
        format="delta",
        partition_by=["day"],
        properties={"delta.enableDeletionVectors": "true"},
    )
    r2 = t2.delete("id = 2")
    assert r2["numDeletedRows"] == 1 and r2["numDeletionVectorsAdded"] == 1
    assert sorted(x["id"] for x in t2.to_df().collect()) == [0, 1, 3, 9]
    # rewrite-path probe under the encoded partition dir also works
    t2.delete("day = 'a b'")
    assert [x["id"] for x in t2.to_df().collect()] == [9]


def test_unsatisfiable_predicate_never_whole_drops(spark, tmp_path):
    """Equality conjuncts INTERSECT prior bounds: 'a >= 5 AND a = 3'
    matches nothing and must delete nothing — the old overwrite
    semantics claimed complete (3,3) bounds and the whole-file
    inference removed every a=3 file."""
    from pyspark.sql import Row

    t = LakeTable.create(
        spark,
        str(tmp_path / "unsat"),
        df=spark.createDataFrame([Row(a=3), Row(a=7)]).coalesce(1),
        format="delta",
    )
    m = t.delete("a >= 5 AND a = 3")
    assert m["numDeletedRows"] == 0
    assert sorted(x["a"] for x in t.to_df().collect()) == [3, 7]


def test_occ_retry_with_removes_raises_on_conflict(spark, tmp_path):
    """A remove-carrying commit that loses its OCC race must raise
    when the concurrent commit TOUCHED a planned-remove file or changed
    table metadata (lost update / stale gate), but must PROCEED over
    disjoint-file appends — the routine streaming-append-during-DELETE
    case (Delta WriteSerializable)."""
    import json as _json

    from pyspark.sql import Row

    from databricks_delta_lake_project_spark.tables.log import (
        ConcurrentModificationError,
    )

    path = str(tmp_path / "occ_conflict")
    t = LakeTable.create(
        spark,
        path,
        df=spark.createDataFrame([Row(id=1), Row(id=2)]).coalesce(1),
        format="delta",
    )
    log = Path(path) / "_delta_log"
    backend = t._log
    my_removes = [e["path"] for e in t._files()]
    planned = backend.latest_version(path)
    # 1) concurrent DISJOINT append: DELETE proceeds (liveness)
    (log / f"{planned + 1:020d}.json").write_text(
        _json.dumps({"add": {"path": "foreign.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}})
    )
    v = backend.commit(
        path, "DELETE", [], my_removes,
        backend.schema_at(path), expected_version=planned,
    )
    assert v == planned + 2
    # 2) concurrent commit REMOVING a file we also plan to remove:
    # conflict (blind re-commit would be a lost update)
    planned2 = backend.latest_version(path)
    (log / f"{planned2 + 1:020d}.json").write_text(
        _json.dumps({"remove": {"path": "foreign.parquet", "deletionTimestamp": 2, "dataChange": True}})
    )
    with pytest.raises(ConcurrentModificationError):
        backend.commit(
            path, "DELETE", [], ["foreign.parquet"],
            backend.schema_at(path), expected_version=planned2,
        )
    # 3) concurrent METADATA change (e.g. SET delta.appendOnly): any
    # remove-carrying plan must recompute — its gates are stale. When
    # the metadata landed before commit() entry the appendOnly gate
    # itself fires (ValueError); a mid-commit race raises
    # ConcurrentModificationError via the metadata guard — either way,
    # never a silent commit.
    planned3 = backend.latest_version(path)
    sj = backend.schema_at(path)
    (log / f"{planned3 + 1:020d}.json").write_text(
        _json.dumps({"metaData": {"id": "x", "format": {"provider": "parquet", "options": {}}, "schemaString": sj, "partitionColumns": [], "configuration": {"delta.appendOnly": "true"}}})
    )
    with pytest.raises((ValueError, ConcurrentModificationError)):
        backend.commit(
            path, "DELETE", [], ["whatever.parquet"],
            sj, expected_version=planned3,
        )
    # pure appends still retry through any race without raising
    v2 = backend.commit(path, "WRITE", [], [], backend.schema_at(path))
    assert v2 == planned3 + 2


def test_partitioned_column_mapped_roundtrip(spark, tmp_path):
    """Partitioned + column-mapped: hive dirs, partitionValues keys,
    and data columns all use PHYSICAL names per the protocol; reads
    resolve them back to logical names, writes land physical, and
    partition-predicate DELETE (logical name) whole-drops with exact
    row counts even when the foreign add carried no stats."""
    import pyarrow as pa
    import pyarrow.parquet as pq_
    from pyspark.sql import Row
    from pyspark.sql.types import (
        LongType as L,
        StringType as S,
        StructField as SF,
        StructType as ST,
    )

    root = tmp_path / "part_mapped"
    (root / "col-ddd=d1").mkdir(parents=True)
    pq_.write_table(
        pa.table({"col-aaa": pa.array([1, 2], pa.int64())}),
        root / "col-ddd=d1" / "f0.parquet",
    )
    logical = ST(
        [
            SF("id", L(), True, {"delta.columnMapping.id": 1, "delta.columnMapping.physicalName": "col-aaa"}),
            SF("day", S(), True, {"delta.columnMapping.id": 2, "delta.columnMapping.physicalName": "col-ddd"}),
        ]
    )
    log = root / "_delta_log"
    log.mkdir()
    acts = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "pm",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": logical.json(),
                "partitionColumns": ["day"],
                "configuration": {"delta.columnMapping.mode": "name"},
            }
        },
        # deliberately NO stats: rows must still count exactly
        {"add": {"path": "col-ddd=d1/f0.parquet", "partitionValues": {"col-ddd": "d1"}, "size": 1, "modificationTime": 1, "dataChange": True}},
    ]
    (log / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in acts)
    )
    it = DeltaInteropTable(spark, str(root))
    assert sorted((r["id"], r["day"]) for r in it.to_df().collect()) == [
        (1, "d1"), (2, "d1"),
    ]
    t = LakeTable.for_path(spark, str(root))
    assert isinstance(t, LakeTable)
    t.append(spark.createDataFrame([Row(id=3, day="d2")]))
    assert sorted((r["id"], r["day"]) for r in t.to_df().collect()) == [
        (1, "d1"), (2, "d1"), (3, "d2"),
    ]
    # the engine-written add uses PHYSICAL hive dir + partitionValues
    last = sorted(log.glob("*.json"))[-1]
    adds = [
        json.loads(l)["add"]
        for l in last.read_text().splitlines()
        if l.strip() and '"add"' in l
    ]
    assert adds and all(
        "col-ddd=" in a["path"] and list(a["partitionValues"]) == ["col-ddd"]
        for a in adds
    )
    # independent replay agrees post-append
    assert sorted(
        (r["id"], r["day"])
        for r in DeltaInteropTable(spark, str(root)).to_df().collect()
    ) == [(1, "d1"), (2, "d1"), (3, "d2")]
    # logical-name partition DELETE whole-drops the stats-less file
    # with the exact count (footer fallback)
    m = t.delete("day = 'd1'")
    assert m["numWholeFilesRemoved"] == 1 and m["numDeletedRows"] == 2
    assert [
        (r["id"], r["day"]) for r in t.to_df().collect()
    ] == [(3, "d2")]


@pytest.mark.slow
def test_merge_via_deletion_vectors(spark, tmp_path):
    """MERGE with DVs enabled runs the modern Delta shape: matched
    rows hit by update/delete clauses are DV-marked in place, only the
    post-image + inserted rows land as new files, unmodified rows in
    touched files are never rewritten, and the independent replay +
    CDF agree."""
    from pyspark.sql import Row

    path = str(tmp_path / "merge_dv")
    t = LakeTable.create(
        spark,
        path,
        df=spark.createDataFrame(
            [Row(id=i, v=float(i)) for i in range(10)]
        ).coalesce(1),
        format="delta",
        properties={
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    orig_file = t._files()[0]["path"]
    m = (
        t.merge(
            spark.createDataFrame(
                [Row(id=3, v=33.0), Row(id=7, v=77.0), Row(id=20, v=20.0)]
            ),
            "t.id = s.id",
        )
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
    assert m["strategy"] == "dv"
    assert m["numTargetRowsUpdated"] == 2 and m["numTargetRowsInserted"] == 1
    assert m["numDeletionVectorsAdded"] == 1
    # the original data file is still referenced (DV re-add), with the
    # two modified positions marked — NOT rewritten
    entries = {e["path"]: e for e in t._files()}
    assert orig_file in entries
    assert entries[orig_file]["deletionVector"]["cardinality"] == 2
    expect = [(0, 0.0), (1, 1.0), (2, 2.0), (3, 33.0), (4, 4.0),
              (5, 5.0), (6, 6.0), (7, 77.0), (8, 8.0), (9, 9.0),
              (20, 20.0)]
    assert sorted((r["id"], r["v"]) for r in t.to_df().collect()) == expect
    assert sorted(
        (r["id"], r["v"])
        for r in DeltaInteropTable(spark, path).to_df().collect()
    ) == expect
    cdf = t.read_changes(starting_version=1)
    got = sorted((r["id"], r["_change_type"]) for r in cdf.collect())
    assert got == [
        (3, "update_postimage"), (3, "update_preimage"),
        (7, "update_postimage"), (7, "update_preimage"),
        (20, "insert"),
    ]
    # whenMatchedDelete through the same path
    m2 = (
        t.merge(spark.createDataFrame([Row(id=5, v=0.0)]), "t.id = s.id")
        .whenMatchedDelete()
        .execute()
    )
    assert m2["strategy"] == "dv" and m2["numTargetRowsDeleted"] == 1
    assert sorted(r["id"] for r in t.to_df().collect()) == [
        0, 1, 2, 3, 4, 6, 7, 8, 9, 20,
    ]
    # explicit rewrite strategy still available and equivalent
    m3 = (
        t.merge(spark.createDataFrame([Row(id=9, v=99.0)]), "t.id = s.id")
        .whenMatchedUpdateAll()
        .execute(strategy="rewrite")
    )
    assert "strategy" not in m3
    assert sorted(r["v"] for r in t.to_df().filter(F.col("id") == 9).collect()) == [99.0]


def test_check_constraints_and_invariants_enforced(spark, tmp_path):
    """Tables declaring CHECK constraints / column invariants open
    WRITABLE and the engine enforces them on every write: conforming
    rows land, violating writes raise naming the constraint, NULL
    passes (SQL CHECK semantics)."""
    import pyarrow as pa
    import pyarrow.parquet as pq_
    from pyspark.sql import Row
    from pyspark.sql.types import (
        DoubleType as D,
        LongType as L,
        StructField as SF,
        StructType as ST,
    )

    root = tmp_path / "constrained"
    root.mkdir(parents=True)
    pq_.write_table(
        pa.table(
            {
                "id": pa.array([1], pa.int64()),
                "amount": pa.array([10.0], pa.float64()),
            }
        ),
        root / "f0.parquet",
    )
    inv = json.dumps({"expression": {"expression": "id IS NOT NULL"}})
    schema = ST(
        [
            SF("id", L(), True, {"delta.invariants": inv}),
            SF("amount", D(), True),
        ]
    )
    log = root / "_delta_log"
    log.mkdir()
    acts = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 3}},
        {
            "metaData": {
                "id": "ck",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": [],
                "configuration": {
                    "delta.constraints.positive_amount": "amount > 0"
                },
            }
        },
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
    ]
    (log / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in acts)
    )
    t = LakeTable.for_path(spark, str(root))
    assert isinstance(t, LakeTable)  # constrained tables open writable
    t.append(spark.createDataFrame([Row(id=2, amount=5.0)]))
    assert t.to_df().count() == 2
    # CHECK violation refused, named
    with pytest.raises(ValueError, match="positive_amount"):
        t.append(spark.createDataFrame([Row(id=3, amount=-1.0)]))
    # invariant violation refused
    with pytest.raises(ValueError, match="invariant_id"):
        t.append(
            spark.createDataFrame(
                [Row(id=None, amount=2.0)], "id long, amount double"
            )
        )
    # NULL in the CHECK expression passes (SQL CHECK semantics)
    t.append(
        spark.createDataFrame(
            [Row(id=4, amount=None)], "id long, amount double"
        )
    )
    assert t.to_df().count() == 3
    # UPDATE that would break the constraint is refused too
    with pytest.raises(ValueError, match="positive_amount"):
        t.update("id = 2", {"amount": "-9.0"})
    # a table with a GENERATED column opens writable: the expression
    # is recomputed on every write (append may omit the column; an
    # UPDATE of the base column regenerates it)
    root2 = tmp_path / "gen_computed"
    root2.mkdir()
    pq_.write_table(
        pa.table({"id": pa.array([1], pa.int64()), "id2": pa.array([2], pa.int64())}),
        root2 / "f0.parquet",
    )
    gschema = ST(
        [
            SF("id", L(), True),
            SF("id2", L(), True, {"delta.generationExpression": "id * 2"}),
        ]
    )
    glog = root2 / "_delta_log"
    glog.mkdir()
    gacts = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        {"metaData": {"id": "g", "format": {"provider": "parquet", "options": {}}, "schemaString": gschema.json(), "partitionColumns": [], "configuration": {}}},
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
    ]
    (glog / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in gacts)
    )
    g = LakeTable.for_path(spark, str(root2))
    assert isinstance(g, LakeTable)
    g.append(spark.createDataFrame([Row(id=5)]))  # id2 omitted: computed
    assert sorted((r["id"], r["id2"]) for r in g.to_df().collect()) == [
        (1, 2), (5, 10),
    ]
    g.update("id = 5", {"id": "7"})  # base change regenerates id2
    assert sorted((r["id"], r["id2"]) for r in g.to_df().collect()) == [
        (1, 2), (7, 14),
    ]


def test_constraint_enforcement_edges(spark, tmp_path):
    """Review-driven edge batch: the CDF post-image carries regenerated
    generated-column values; CTAS validates the initial load; a
    default-format table preserves invariant metadata across appends;
    pre-existing violating rows never block maintenance ops; typo'd
    strategies raise."""
    from pyspark.sql import Row
    from pyspark.sql.types import (
        LongType as L,
        StructField as SF,
        StructType as ST,
    )

    # 1) generated column + CDF: post-image equals table state
    gschema = ST(
        [
            SF("id", L(), True),
            SF("id2", L(), True, {"delta.generationExpression": "id * 2"}),
        ]
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "gen_cdf"),
        df=spark.createDataFrame([(1, 2)], gschema),
        format="delta",
        properties={"delta.enableChangeDataFeed": "true"},
    )
    t.update("id = 1", {"id": "7"})
    post = (
        t.read_changes(starting_version=1)
        .filter(F.col("_change_type") == "update_postimage")
        .collect()
    )
    assert [(r["id"], r["id2"]) for r in post] == [(7, 14)]
    assert [(r["id"], r["id2"]) for r in t.to_df().collect()] == [(7, 14)]

    # 2) CTAS: the initial load is validated against declared constraints
    with pytest.raises(ValueError, match="positive"):
        LakeTable.create(
            spark,
            str(tmp_path / "ctas_bad"),
            df=spark.createDataFrame([Row(amount=-5.0)]),
            format="delta",
            properties={"delta.constraints.positive": "amount > 0"},
        )

    # 3) a default-format table keeps invariant metadata across appends
    inv = json.dumps({"expression": {"expression": "id IS NOT NULL"}})
    nschema = ST([SF("id", L(), True, {"delta.invariants": inv})])
    tn = LakeTable.create(
        spark, str(tmp_path / "native_inv"), schema=nschema
    )
    tn.append(spark.createDataFrame([Row(id=1)]))
    assert "delta.invariants" in tn.schema["id"].metadata  # survived
    with pytest.raises(ValueError, match="invariant_id"):
        tn.append(
            spark.createDataFrame([Row(id=None)], "id long")
        )

    # 4) pre-existing violating rows never block maintenance: build a
    # table, then ADD the constraint via a property-bearing commit and
    # check DELETE of unrelated rows + OPTIMIZE still run
    tv = LakeTable.create(
        spark,
        str(tmp_path / "pre_viol"),
        df=spark.createDataFrame([Row(a=-1), Row(a=5), Row(a=9)]).coalesce(1),
        format="delta",
    )
    tv._log.commit(
        tv.root, "SET TBLPROPERTIES", [], [],
        tv._log.schema_at(tv.root),
        properties={"delta.constraints.pos": "a > 0"},
    )
    m = tv.delete("a = 9")  # unrelated DELETE: kept rows not re-judged
    assert m["numDeletedRows"] == 1
    tv.optimize(target_files=1)  # compaction not re-judged either
    assert sorted(r["a"] for r in tv.to_df().collect()) == [-1, 5]
    with pytest.raises(ValueError, match="pos"):
        tv.append(spark.createDataFrame([Row(a=-7)]))  # new rows ARE

    # 5) typo'd strategy raises instead of silently rewriting
    with pytest.raises(ValueError, match="strategy"):
        tv.delete("a = 5", strategy="DV")
    with pytest.raises(ValueError, match="strategy"):
        (
            tv.merge(spark.createDataFrame([Row(a=5)]), "t.a = s.a")
            .whenMatchedDelete()
            .execute(strategy="deletion-vectors")
        )


# ---------------------------------------------------------------------------
# column rename / drop on mapped write-back
# ---------------------------------------------------------------------------


def test_mapped_rename_drop_roundtrip(spark, tmp_path):
    """RENAME/DROP COLUMN on a column-mapped table are metadata-only:
    physicalNames never change, no data file is rewritten, the
    independent interop replay agrees, and every earlier version still
    time-travels under its then-current names."""
    from pyspark.sql import Row

    root = _mk_mapped(spark, tmp_path, name="cmap_evolve")
    t = LakeTable.for_path(spark, str(root))
    v0 = t.version()
    files_before = {e["path"] for e in t._files()}

    # rename: logical name flips, physicalName survives
    t.rename_column("name", "label")
    assert [f.name for f in t.schema.fields] == ["id", "label"]
    assert (
        t.schema["label"].metadata["delta.columnMapping.physicalName"]
        == "col-bbb"
    )
    assert {e["path"] for e in t._files()} == files_before  # no rewrite
    assert sorted((r["id"], r["label"]) for r in t.to_df().collect()) == [
        (1, "x"), (2, "y"), (3, "z"),
    ]

    # writes against the NEW name land under the old physical column
    t.append(spark.createDataFrame([Row(id=4, label="w")]))
    t.update("id = 2", {"label": "'Y!'"})
    got = sorted((r["id"], r["label"]) for r in t.to_df().collect())
    assert got == [(1, "x"), (2, "Y!"), (3, "z"), (4, "w")]

    # independent replay reader sees the rename
    it = DeltaInteropTable(spark, str(root))
    assert sorted((r["id"], r["label"]) for r in it.to_df().collect()) == got

    # time travel to the pre-rename version: old logical name
    old = t.to_df(version=v0)
    assert old.columns == ["id", "name"]
    assert sorted((r["id"], r["name"]) for r in old.collect()) == [
        (1, "x"), (2, "y"), (3, "z"),
    ]

    # drop: field leaves the schema, files stay, pre-drop time travel
    # still serves the column
    v_pre_drop = t.version()
    t.drop_column("label")
    assert [f.name for f in t.schema.fields] == ["id"]
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2, 3, 4]
    assert t.to_df(version=v_pre_drop).columns == ["id", "label"]
    t.append(spark.createDataFrame([Row(id=5)]))
    it2 = DeltaInteropTable(spark, str(root))
    assert sorted(r["id"] for r in it2.to_df().collect()) == [1, 2, 3, 4, 5]

    # re-adding the same logical name gets a FRESH physicalName — old
    # col-bbb data must never resurrect
    t.append(
        spark.createDataFrame([Row(id=6, label="new")]), merge_schema=True
    )
    meta = t.schema["label"].metadata
    assert meta["delta.columnMapping.physicalName"] != "col-bbb"
    vals = {
        (r["id"], r["label"]) for r in t.to_df().collect()
    }
    assert vals == {
        (1, None), (2, None), (3, None), (4, None), (5, None), (6, "new"),
    }


def test_mapped_rename_drop_guards(spark, tmp_path):
    from pyspark.sql import Row

    root = _mk_mapped(
        spark,
        tmp_path,
        name="cmap_guard",
        extra_props={"delta.constraints.namelen": "length(name) > 0"},
    )
    t = LakeTable.for_path(spark, str(root))
    # constraint references the column -> refuse both alter kinds
    with pytest.raises(ValueError, match="namelen"):
        t.rename_column("name", "label")
    with pytest.raises(ValueError, match="namelen"):
        t.drop_column("name")
    # unknown / colliding names
    with pytest.raises(ValueError, match="no such column"):
        t.rename_column("ghost", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("id", "name")

    # unmapped Delta table: loud refusal (rename would orphan files)
    plain = LakeTable.create(
        spark,
        str(tmp_path / "plain_delta"),
        df=spark.createDataFrame([Row(a=1)]),
        format="delta",
    )
    with pytest.raises(NotImplementedError, match="column mapping"):
        plain.rename_column("a", "b")


def test_merge_not_matched_by_source_builder(spark, tmp_path):
    """Builder-level BY SOURCE: delete/update target rows no source
    row matches; works on the DV path too, and CDF records them."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(id=i, status="active", v=i * 10) for i in range(1, 6)]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "bysrc"), df=df.coalesce(2), format="delta",
        properties={
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    src = spark.createDataFrame([Row(id=2, v=999), Row(id=6, v=600)])
    m = (
        t.merge(src, "t.id = s.id")
        .whenMatchedUpdate({"v": "s.v"})
        .whenNotMatchedInsert({"id": "s.id", "status": "'active'", "v": "s.v"})
        .whenNotMatchedBySourceDelete("t.id = 5")
        .whenNotMatchedBySourceUpdate({"status": "'stale'"})
        .execute()
    )
    assert m["numTargetRowsDeleted"] == 1       # id 5
    assert m["numTargetRowsUpdated"] == 4       # id 2 matched + 1,3,4 stale
    assert m["numTargetRowsInserted"] == 1      # id 6
    got = {r["id"]: (r["status"], r["v"]) for r in t.to_df().collect()}
    assert got == {
        1: ("stale", 10),
        2: ("active", 999),
        3: ("stale", 30),
        4: ("stale", 40),
        6: ("active", 600),
    }
    # protocol CDF recorded the by-source rows too
    cdc = t._log.read_commit(t.root, t.version())["cdc"]
    assert cdc
    changes = t.read_changes(t.version())
    kinds = {
        (r["id"], r["_change_type"]) for r in changes.collect()
    }
    assert (5, "delete") in kinds
    assert (1, "update_postimage") in kinds and (1, "update_preimage") in kinds
    assert (6, "insert") in kinds


def test_convert_parquet_to_delta_in_place(spark, tmp_path):
    """CONVERT TO DELTA: a plain hive-partitioned parquet directory
    becomes a Delta table with NO data rewrite — footer-stats adds,
    typed partition columns, then full DML + interop round-trip."""
    src = tmp_path / "raw"
    df = spark.range(300).selectExpr(
        "id AS k", "CONCAT('d', id % 3) AS day", "id * 2 AS v"
    )
    df.write.partitionBy("day").parquet(str(src))
    orig_files = {p.name for p in src.rglob("*.parquet")}

    t = LakeTable.convert_parquet(
        spark, str(src), partition_schema={"day": "string"}
    )
    # no rewrite: same physical files
    assert {p.name for p in Path(str(src)).rglob("*.parquet")} == orig_files
    assert [f.name for f in t.schema.fields] == ["k", "v", "day"]
    assert t.to_df().count() == 300
    assert (
        t.to_df().filter("day = 'd1'").count()
        == df.filter("day = 'd1'").count()
    )
    # partition pruning works off the synthesized stats
    m = t.delete("day = 'd2'")
    assert m["numWholeFilesRemoved"] >= 1 and m["numDeletedRows"] == 100
    # independent replay reader agrees after DML
    it = DeltaInteropTable(spark, str(src))
    assert it.to_df().count() == 200
    assert {r["day"] for r in it.to_df().select("day").distinct().collect()} == {
        "d0", "d1",
    }
    # appends land hive-style alongside the converted files
    t.append(
        spark.createDataFrame([(999, 4.0, "d9")], "k long, v double, day string")
        .selectExpr("k", "CAST(v AS LONG) v", "day")
    )
    assert t.to_df().filter("day = 'd9'").count() == 1
    # double-convert refuses
    with pytest.raises(ValueError, match="already a table"):
        LakeTable.convert_parquet(spark, str(src))


def test_convert_merges_drifted_footers(spark, tmp_path):
    """CONVERT over a directory whose files disagree on schema (plain-
    parquet drift) must take the UNION of columns, not the first
    footer's subset."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    src = tmp_path / "drift"
    src.mkdir()
    pq_.write_table(
        pa.table({"a": pa.array([1, 2], pa.int64())}), src / "0_old.parquet"
    )
    pq_.write_table(
        pa.table(
            {"a": pa.array([3], pa.int64()), "b": pa.array(["x"], pa.string())}
        ),
        src / "1_new.parquet",
    )
    t = LakeTable.convert_parquet(spark, str(src))
    assert [f.name for f in t.schema.fields] == ["a", "b"]
    got = {(r["a"], r["b"]) for r in t.to_df().collect()}
    assert got == {(1, None), (2, None), (3, "x")}
