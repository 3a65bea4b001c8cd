"""Commit-log checkpoint compaction: folds are seeded from the newest
checkpoint, results identical to a from-zero replay, and time travel
to pre-checkpoint versions still works."""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_delta_lake_project_spark.tables import LakeTable
from databricks_delta_lake_project_spark.tables import log as tlog
import pytest


@pytest.mark.slow
def test_checkpoint_written_and_equivalent(spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(
        spark, root, df=spark.createDataFrame([(0, "v0")], "id long, v string")
    )
    for i in range(1, 25):
        t.append(spark.createDataFrame([(i, f"v{i}")], "id long, v string"))

    assert t.version() == 24
    ckpts = tlog._checkpoint_versions(root)
    assert ckpts == [20]

    # fold through checkpoint == raw replay
    via_ckpt = {e["path"] for e in tlog.active_files(root)}
    raw: dict[str, dict] = {}
    for c in tlog.read_log(root, use_checkpoint=False):
        for r in c.get("remove", []):
            raw.pop(r, None)
        for a in c.get("add", []):
            raw[a["path"]] = a
    assert via_ckpt == set(raw)
    assert t.to_df().count() == 25

    # time travel to a pre-checkpoint version replays from zero
    assert t.to_df(version=5).count() == 6
    # time travel landing exactly on the checkpoint version
    assert t.to_df(version=20).count() == 21


@pytest.mark.slow
def test_checkpoint_preserves_properties_and_schema(spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(
        spark, root,
        df=spark.createDataFrame([(0,)], "id long"),
        properties={"enableChangeDataFeed": True},
    )
    for i in range(1, 22):
        t.append(spark.createDataFrame([(i,)], "id long"))
    assert tlog._checkpoint_versions(root) == [20]
    # properties and schema survive the checkpointed fold
    assert t.properties() == {"enableChangeDataFeed": True}
    assert [f.name for f in t.schema.fields] == ["id"]
    # CDF kept recording through checkpointed commits
    assert t.read_changes(starting_version=21).count() == 1


@pytest.mark.slow
def test_append_txn_idempotent_and_checkpointed(spark, tmp_path):
    """Idempotent-writer tracking (Delta txnAppId/txnVersion): a replayed
    (app_id, version) append is skipped, and the watermark survives
    checkpoint folding so detection never replays the full log."""
    root = str(tmp_path / "t")
    t = LakeTable.create(
        spark, root, df=spark.createDataFrame([(0,)], "id long")
    )
    for b in range(21):  # crosses the checkpoint at commit 20
        v = t.append_txn(
            spark.createDataFrame([(100 + b,)], "id long"), "streamA", b
        )
        assert v > 0
    assert tlog._checkpoint_versions(root) == [20]
    assert t.to_df().count() == 22

    # replays of already-landed batches are skipped (no rows, no commit)
    before = t.version()
    assert t.append_txn(
        spark.createDataFrame([(999,)], "id long"), "streamA", 20
    ) == -1
    assert t.append_txn(
        spark.createDataFrame([(999,)], "id long"), "streamA", 5
    ) == -1
    assert t.version() == before
    assert t.to_df().count() == 22

    # watermark is per-app: a different writer at version 5 lands fine
    assert t.append_txn(
        spark.createDataFrame([(500,)], "id long"), "streamB", 5
    ) > 0
    assert t.txn_version("streamA") == 20
    assert t.txn_version("streamB") == 5
    assert t.txn_version("absent") == -1


@pytest.mark.slow
def test_delete_after_checkpoint(spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(
        spark, root, df=spark.createDataFrame([(0,)], "id long")
    )
    for i in range(1, 21):
        t.append(spark.createDataFrame([(i,)], "id long"))
    res = t.delete("id = 3")
    assert res["numDeletedRows"] == 1
    assert t.to_df().count() == 20
    assert t.to_df(version=20).count() == 21  # pre-delete snapshot intact


@pytest.mark.slow
def test_delta_checkpoint_preserves_dvs_and_partitioning(spark, tmp_path):
    """A Delta-format checkpoint must carry live deletionVector
    descriptors and the table's partitionColumns — dropping either
    would resurrect deleted rows / flip the table unpartitioned for
    every checkpoint-seeded reader."""
    import json as _json
    from pathlib import Path
    from pyspark.sql import Row

    from databricks_delta_lake_project_spark.tables.delta_interop import (
        DeltaInteropTable,
        _last_checkpoint,
        _replay,
    )

    root = str(tmp_path / "cp_dv")
    t = LakeTable.create(
        spark,
        root,
        df=spark.createDataFrame(
            [Row(day="d1", id=i) for i in range(6)]
        ).coalesce(1),
        format="delta",
        partition_by=["day"],
        properties={"delta.enableDeletionVectors": "true"},
    )
    r = t.delete("id = 2")  # v1: DV marks one row
    assert r["strategy"] == "dv"
    for i in range(9):  # push past CHECKPOINT_INTERVAL=10
        t.append(
            spark.createDataFrame([Row(day=f"d{2 + i}", id=10 + i)])
        )
    cp = _last_checkpoint(root)
    assert cp is not None and cp["version"] >= 10
    # checkpoint-seeded replay must still know the DV and partitioning
    state = _replay(root, None)
    assert state.partition_columns == ["day"]
    dv_adds = [a for a in state.adds.values() if a.get("deletionVector")]
    assert dv_adds, "checkpoint dropped the deletionVector descriptor"
    got = sorted(
        x["id"] for x in DeltaInteropTable(spark, root).to_df().collect()
    )
    assert got == [0, 1, 3, 4, 5] + list(range(10, 19))
    # delete the pre-checkpoint JSON commits: the replay must now be
    # seeded PURELY from the checkpoint and still agree
    log = Path(root) / "_delta_log"
    for v in range(0, cp["version"]):
        p = log / f"{v:020d}.json"
        if p.exists():
            p.unlink()
    got2 = sorted(
        x["id"] for x in DeltaInteropTable(spark, root).to_df().collect()
    )
    assert got2 == got


@pytest.mark.slow
def test_delta_checkpoint_carries_protocol_features_txn_and_id(spark, tmp_path):
    """The checkpoint parquet must be a complete protocol snapshot: a
    v3/v7 protocol row WITH its feature lists (dropping them writes an
    invalid protocol and loses the deletionVectors declaration for
    checkpoint-seeded readers), the REAL metaData.id, and txn rows so
    idempotent-writer tracking survives log cleanup."""
    import json as _json
    from pathlib import Path

    import pyarrow.parquet as pq_

    from databricks_delta_lake_project_spark.tables.delta_interop import (
        _replay,
    )

    root = str(tmp_path / "cp_proto")
    t = LakeTable.create(
        spark,
        root,
        df=spark.createDataFrame([(i,) for i in range(6)], "id long").coalesce(1),
        format="delta",
        properties={"delta.enableDeletionVectors": "true"},
    )
    t.delete("id = 2")  # upgrades protocol to 3/7 + deletionVectors
    t.append_txn(
        spark.createDataFrame([(100,)], "id long"), "appA", 7
    )
    for i in range(9):
        t.append(spark.createDataFrame([(10 + i,)], "id long"))
    log = Path(root) / "_delta_log"
    cp_files = sorted(log.glob("*.checkpoint.parquet"))
    assert cp_files
    cp = pq_.read_table(cp_files[-1]).to_pylist()
    protos = [r["protocol"] for r in cp if r.get("protocol")]
    assert protos and protos[0]["minReaderVersion"] == 3
    assert "deletionVectors" in (protos[0]["readerFeatures"] or [])
    assert "deletionVectors" in (protos[0]["writerFeatures"] or [])
    metas = [r["metaData"] for r in cp if r.get("metaData")]
    v0 = next(
        _json.loads(l)["metaData"]
        for l in (log / f"{0:020d}.json").read_text().splitlines()
        if '"metaData"' in l
    )
    assert metas[0]["id"] == v0["id"] != "unknown"
    txns = [r["txn"] for r in cp if r.get("txn") and r["txn"].get("appId")]
    assert {(x["appId"], x["version"]) for x in txns} == {("appA", 7)}
    # delete pre-checkpoint JSONs: txn tracking must survive via the
    # checkpoint-seeded replay
    cp_v = int(cp_files[-1].name.split(".")[0])
    for v in range(cp_v):
        p = log / f"{v:020d}.json"
        if p.exists():
            p.unlink()
    state = _replay(root, None)
    assert state.txns == {"appA": 7}
    assert state.protocol["minReaderVersion"] == 3
    assert t.txn_version("appA") == 7
