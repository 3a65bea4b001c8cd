"""Commit-log checkpoint compaction: folds are seeded from the newest
checkpoint, results identical to a from-zero replay, and time travel
to pre-checkpoint versions still works."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from databricks_delta_lake_project_spark.tables import LakeTable
from databricks_delta_lake_project_spark.tables.delta_interop import (
    _last_checkpoint,
    _replay,
)
from databricks_delta_lake_project_spark.tables.delta_log import (
    CHECKPOINT_INTERVAL,
)


def _checkpoint_versions(root: str) -> list[int]:
    log = Path(root) / "_delta_log"
    return sorted(int(p.name.split(".")[0]) for p in log.glob("*.checkpoint.parquet"))


def _raw_replay(root: str) -> dict[str, dict]:
    """Active files folded from every JSON commit, checkpoint unused."""
    files: dict[str, dict] = {}
    log = Path(root) / "_delta_log"
    for p in sorted(log.glob("*.json")):
        for line in p.read_text().splitlines():
            a = json.loads(line) if line.strip() else {}
            if a.get("remove"):
                files.pop(a["remove"]["path"], None)
            if a.get("add"):
                files[a["add"]["path"]] = a["add"]
    return files


@pytest.mark.slow
def test_checkpoint_written_and_equivalent(spark, tmp_path):
    assert CHECKPOINT_INTERVAL == 10
    root = str(tmp_path / "t")
    t = LakeTable.create(
        spark, root, df=spark.createDataFrame([(0, "v0")], "id long, v string")
    )
    for i in range(1, 15):
        t.append(spark.createDataFrame([(i, f"v{i}")], "id long, v string"))

    assert t.version() == 14
    assert _checkpoint_versions(root) == [10]
    assert _last_checkpoint(root)["version"] == 10

    # fold through checkpoint == raw replay
    via_ckpt = {e["path"] for e in t._files()}
    assert via_ckpt == set(_raw_replay(root))
    assert set(_replay(root, None).adds) == via_ckpt
    assert t.to_df().count() == 15

    # time travel to a pre-checkpoint version replays from zero
    assert t.to_df(version=5).count() == 6
    # time travel landing exactly on the checkpoint version
    assert t.to_df(version=10).count() == 11


@pytest.mark.slow
def test_checkpoint_preserves_properties_and_schema(spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(
        spark, root,
        df=spark.createDataFrame([(0,)], "id long"),
        properties={"enableChangeDataFeed": "true"},
    )
    for i in range(1, 12):
        t.append(spark.createDataFrame([(i,)], "id long"))
    assert _checkpoint_versions(root) == [10]
    # properties and schema survive the checkpointed fold, also when
    # the checkpoint is the only record of them
    for v in range(10):
        (Path(root) / "_delta_log" / f"{v:020d}.json").unlink()
    fresh = LakeTable(spark, root)
    assert fresh.properties() == {"enableChangeDataFeed": "true"}
    assert [f.name for f in fresh.schema.fields] == ["id"]
    # CDF kept recording through checkpointed commits
    assert fresh.read_changes(starting_version=11).count() == 1


@pytest.mark.slow
def test_append_txn_idempotent_and_checkpointed(spark, tmp_path):
    """Idempotent-writer tracking (Delta txnAppId/txnVersion): a replayed
    (app_id, version) append is skipped, and the watermark survives
    checkpoint folding so detection never replays the full log."""
    root = str(tmp_path / "t")
    t = LakeTable.create(
        spark, root, df=spark.createDataFrame([(0,)], "id long")
    )
    for b in range(11):  # crosses the checkpoint at commit 10
        v = t.append_txn(
            spark.createDataFrame([(100 + b,)], "id long"), "streamA", b
        )
        assert v > 0
    assert _checkpoint_versions(root) == [10]
    assert t.to_df().count() == 12
    # the watermark lives in the checkpoint: drop the JSON it came from
    for v in range(11):
        (Path(root) / "_delta_log" / f"{v:020d}.json").unlink()
    t = LakeTable(spark, root)
    assert t.txn_version("streamA") == 10

    # replays of already-landed batches are skipped (no rows, no commit)
    before = t.version()
    assert t.append_txn(
        spark.createDataFrame([(999,)], "id long"), "streamA", 10
    ) == -1
    assert t.append_txn(
        spark.createDataFrame([(999,)], "id long"), "streamA", 5
    ) == -1
    assert t.version() == before
    assert t.to_df().count() == 12

    # watermark is per-app: a different writer at version 5 lands fine
    assert t.append_txn(
        spark.createDataFrame([(500,)], "id long"), "streamB", 5
    ) > 0
    assert t.txn_version("streamA") == 10
    assert t.txn_version("streamB") == 5
    assert t.txn_version("absent") == -1


@pytest.mark.slow
def test_delete_after_checkpoint(spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(
        spark, root, df=spark.createDataFrame([(0,)], "id long")
    )
    for i in range(1, 11):
        t.append(spark.createDataFrame([(i,)], "id long"))
    assert _checkpoint_versions(root) == [10]
    res = t.delete("id = 3")
    assert res["numDeletedRows"] == 1
    assert t.to_df().count() == 10
    assert t.to_df(version=10).count() == 11  # pre-delete snapshot intact


@pytest.mark.slow
def test_delta_checkpoint_preserves_dvs_and_partitioning(spark, tmp_path):
    """A Delta-format checkpoint must carry live deletionVector
    descriptors and the table's partitionColumns — dropping either
    would resurrect deleted rows / flip the table unpartitioned for
    every checkpoint-seeded reader."""
    import json as _json
    from pathlib import Path
    from pyspark.sql import Row

    import delta_reference as ref

    from databricks_delta_lake_project_spark.tables.delta_interop import (
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
    got = sorted(x["id"] for x in ref.rows(root))
    assert got == [0, 1, 3, 4, 5] + list(range(10, 19))
    # delete the pre-checkpoint JSON commits: the replay must now be
    # seeded PURELY from the checkpoint and still agree
    log = Path(root) / "_delta_log"
    for v in range(0, cp["version"]):
        p = log / f"{v:020d}.json"
        if p.exists():
            p.unlink()
    assert sorted(x["id"] for x in ref.rows(root)) == got
    assert sorted(x["id"] for x in t.to_df().collect()) == got


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
