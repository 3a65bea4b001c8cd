"""Process-wide Delta snapshot cache (``delta_interop._replay``): a warm
read applies only the commits written since the cached version, and
every way the log can change under the cache — a recreated directory,
a commit written by another writer, a commit file that changes after
it was read, time travel, a lost commit race — still reads the right
state. Also pins the checkpoint reader against a from-zero JSON replay
and the per-DML Spark job counts the cache makes possible."""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

import delta_reference as ref
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql.types import LongType, StructField, StructType

from databricks_delta_lake_project_spark.tables import LakeTable
from databricks_delta_lake_project_spark.tables import delta_interop as di
from databricks_delta_lake_project_spark.tables.delta_log import (
    CHECKPOINT_INTERVAL,
)


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v long")


def _kv_schema_json() -> str:
    return StructType(
        [StructField("k", LongType()), StructField("v", LongType())]
    ).json()


def _rows(df) -> list[tuple[int, int]]:
    return sorted((r["k"], r["v"]) for r in df.collect())


def _past_checkpoint(spark, root: Path) -> LakeTable:
    """format="delta" table at v(CHECKPOINT_INTERVAL + 2): v0 holds k=0,
    every later version appends one row k=i, v=10*i."""
    t = LakeTable.create(spark, str(root), df=_kv(spark, [(0, 0)]), format="delta")
    for i in range(1, CHECKPOINT_INTERVAL + 3):
        t.append(_kv(spark, [(i, 10 * i)]))
    assert di._last_checkpoint(str(root))["version"] == CHECKPOINT_INTERVAL
    return t


def _external_commit(root: Path, version: int, rows) -> None:
    """Write one data file and the commit JSON adding it, directly,
    the way a writer in another process would."""
    rel = f"data/ext-{version}.parquet"
    ks = [r[0] for r in rows]
    vs = [r[1] for r in rows]
    pq.write_table(
        pa.table({"k": pa.array(ks, pa.int64()), "v": pa.array(vs, pa.int64())}),
        str(root / rel),
    )
    stats = {
        "numRecords": len(rows),
        "minValues": {"k": min(ks), "v": min(vs)},
        "maxValues": {"k": max(ks), "v": max(vs)},
        "nullCount": {"k": 0, "v": 0},
    }
    add = {
        "path": rel,
        "partitionValues": {},
        "size": (root / rel).stat().st_size,
        "modificationTime": int(time.time() * 1000),
        "dataChange": True,
        "stats": json.dumps(stats),
    }
    with open(root / "_delta_log" / f"{version:020d}.json", "x") as fh:
        fh.write(json.dumps({"commitInfo": {"operation": "WRITE"}}) + "\n")
        fh.write(json.dumps({"add": add}) + "\n")


@pytest.fixture()
def checkpoint_reads(monkeypatch):
    """Counts checkpoint parquet reads (calls of _replay_checkpoint)."""
    calls: list[int] = []
    real = di._replay_checkpoint

    def spy(root, version, state):
        calls.append(version)
        return real(root, version, state)

    monkeypatch.setattr(di, "_replay_checkpoint", spy)
    return calls


def test_returned_properties_and_partitions_are_copies(spark, tmp_path):
    """The cached state is shared between readers: mutating what
    properties() or partition_columns() returned must not leak into the
    next read."""
    root = tmp_path / "alias"
    t = LakeTable.create(
        spark,
        str(root),
        df=spark.createDataFrame([Row(day="d1", id=1)]),
        format="delta",
        partition_by=["day"],
        properties={"owner": "a"},
    )
    props = t.properties()
    props["owner"] = "mutated"
    props["extra"] = "x"
    assert t.properties() == {"owner": "a"}
    pcols = t._log.partition_columns(t.root)
    pcols.append("id")
    assert t._log.partition_columns(t.root) == ["day"]


def test_recreated_table_same_versions_reads_new_content(spark, tmp_path):
    root = tmp_path / "recreated"
    t = LakeTable.create(spark, str(root), df=_kv(spark, [(1, 10)]), format="delta")
    t.append(_kv(spark, [(2, 20)]))
    assert _rows(t.to_df()) == [(1, 10), (2, 20)]  # cache warm at v1
    shutil.rmtree(root)
    # same version numbers and same-width values: commit files of the
    # same names and, most likely, the same sizes
    t2 = LakeTable.create(spark, str(root), df=_kv(spark, [(3, 30)]), format="delta")
    t2.append(_kv(spark, [(4, 40)]))
    assert t2.version() == 1
    assert _rows(t2.to_df()) == [(3, 30), (4, 40)]
    assert sorted((r["k"], r["v"]) for r in ref.rows(str(root))) == [(3, 30), (4, 40)]
    assert _rows(t2.to_df(version=0)) == [(3, 30)]
    # a table built elsewhere and moved in: no read at a lower version
    # happens between the warm read and the swap
    staged = tmp_path / "staged"
    t3 = LakeTable.create(spark, str(staged), df=_kv(spark, [(5, 50)]), format="delta")
    t3.append(_kv(spark, [(6, 60)]))
    shutil.rmtree(root)
    staged.rename(root)
    assert _rows(t2.to_df()) == [(5, 50), (6, 60)]


def test_external_commit_is_seen_by_the_next_read(spark, tmp_path, checkpoint_reads):
    root = tmp_path / "external"
    t = _past_checkpoint(spark, root)
    before = _rows(t.to_df())  # cache warm at v12
    held = di._replay(str(root), None)
    held_files = set(held.adds)
    v = t.version() + 1
    _external_commit(root, v, [(100, 1000), (101, 1010)])
    checkpoint_reads.clear()
    assert _rows(t.to_df()) == sorted(before + [(100, 1000), (101, 1010)])
    assert t.version() == v
    assert checkpoint_reads == []  # v13 applied on top of the cached v12
    # the v12 snapshot a caller still holds did not move to v13
    assert set(held.adds) == held_files


def test_commit_file_changed_after_it_was_read(spark, tmp_path):
    """A commit file read while still empty (a writer between creating
    and filling it) must not pin the empty version: its new size and
    mtime invalidate the cached segment."""
    root = tmp_path / "torn"
    t = LakeTable.create(spark, str(root), df=_kv(spark, [(1, 10)]), format="delta")
    log = root / "_delta_log"
    (log / f"{1:020d}.json").touch()
    assert _rows(t.to_df()) == [(1, 10)]  # v1 cached as a no-op commit
    (log / f"{1:020d}.json").unlink()
    _external_commit(root, 1, [(2, 20)])
    assert _rows(t.to_df()) == [(1, 10), (2, 20)]


def test_time_travel_interleaved_with_latest_reads(spark, tmp_path, checkpoint_reads):
    root = tmp_path / "travel"
    t = _past_checkpoint(spark, root)
    key = str(root.resolve())
    latest = t.version()
    want = {v: [(i, 10 * i) for i in range(v + 1)] for v in range(latest + 1)}
    assert _rows(t.to_df()) == want[latest]
    assert di._snapshots[key].version == latest
    for v in (3, latest, CHECKPOINT_INTERVAL + 1, latest, 0, CHECKPOINT_INTERVAL, latest):
        checkpoint_reads.clear()
        got = _rows(t.to_df()) if v == latest else _rows(t.to_df(version=v))
        assert got == want[v], v
        # neither travel below the checkpoint nor between it and the
        # latest version evicts the latest snapshot
        assert di._snapshots[key].version == latest
        if v == latest or v < CHECKPOINT_INTERVAL:
            # latest reads come from the cache, earlier ones from JSON
            assert checkpoint_reads == [], v
        else:
            assert set(checkpoint_reads) == {CHECKPOINT_INTERVAL}, v


def test_lost_commit_race_refreshes_state(spark, tmp_path, monkeypatch):
    """A DELETE planned at v1 loses the race to a commit written in
    between by another writer; the commit path re-reads the state, and
    the re-read must include the rival's file."""
    root = tmp_path / "race"
    t = LakeTable.create(
        spark, str(root), df=_kv(spark, [(1, 10), (2, 20)]).coalesce(1), format="delta"
    )
    t.append(_kv(spark, [(3, 30)]))
    backend = t._log
    planned = backend.latest_version(t.root)
    doomed = [e["path"] for e in backend.active_files(t.root) if e["rows"] == 1]
    schema_json = t.schema.json()
    seen: list[set[str]] = []
    real_state = type(backend)._state

    def state_then_race(self, root_, version=None):
        st = real_state(self, root_, version)
        seen.append(set(st.adds))
        if len(seen) == 1:  # right after the commit took its snapshot
            _external_commit(root, planned + 1, [(4, 40)])
        return st

    monkeypatch.setattr(type(backend), "_state", state_then_race)
    v = backend.commit(
        t.root,
        "DELETE",
        [],
        doomed,
        schema_json,
        expected_version=planned,
    )
    monkeypatch.undo()
    assert v == planned + 2
    assert len(seen) == 2
    assert f"data/ext-{planned + 1}.parquet" not in seen[0]
    assert f"data/ext-{planned + 1}.parquet" in seen[1]
    assert _rows(t.to_df()) == [(1, 10), (2, 20), (4, 40)]


def _norm(x):
    """Drop None-valued fields recursively: the checkpoint schema has a
    column for every optional field, a JSON action only the set ones."""
    if isinstance(x, dict):
        return {k: _norm(v) for k, v in x.items() if v is not None}
    if isinstance(x, list):
        return [_norm(v) for v in x]
    return x


def _state_fields(state) -> dict:
    return {
        # the protocol makes a checkpoint write every add with
        # dataChange=false, whatever its commit said
        "adds": {
            p: _norm({k: v for k, v in a.items() if k != "dataChange"})
            for p, a in state.adds.items()
        },
        "schema_json": state.schema_json,
        "partition_columns": state.partition_columns,
        "properties": state.properties,
        "protocol": _norm(state.protocol),
        "metadata_id": state.metadata_id,
        "txns": state.txns,
    }


def test_checkpoint_reader_matches_json_replay(spark, tmp_path, checkpoint_reads):
    """Partitioned table with a deletion vector, a txn and reader/writer
    features, advanced to v12: at every version the checkpoint-seeded
    replay equals a replay of the JSON commits from v0, field for field."""
    root = tmp_path / "parity"
    t = LakeTable.create(
        spark,
        str(root),
        df=spark.createDataFrame([Row(day="d1", id=i) for i in range(6)]).coalesce(1),
        format="delta",
        partition_by=["day"],
        properties={"delta.enableDeletionVectors": "true"},
    )
    assert t.delete("id = 2")["strategy"] == "dv"  # v1, protocol 3/7
    t.append_txn(spark.createDataFrame([Row(day="d0", id=100)]), "appA", 7)  # v2
    for i in range(10):  # v3..v12
        t.append(spark.createDataFrame([Row(day=f"d{2 + i % 3}", id=10 + i)]))
    assert t.version() == 12
    log = root / "_delta_log"
    assert di._last_checkpoint(str(root))["version"] == 10
    checkpoint_reads.clear()
    seeded = {}
    for v in range(13):
        di._snapshots.clear()
        seeded[v] = _state_fields(di._replay(str(root), v))
    assert checkpoint_reads == [10, 10, 10]
    (log / "_last_checkpoint").rename(log / "_last_checkpoint.hidden")
    try:
        for v in range(13):
            di._snapshots.clear()
            assert _state_fields(di._replay(str(root), v)) == seeded[v], v
    finally:
        (log / "_last_checkpoint.hidden").rename(log / "_last_checkpoint")
    assert checkpoint_reads == [10, 10, 10]
    latest = seeded[12]
    assert latest["partition_columns"] == ["day"]
    assert latest["txns"] == {"appA": 7}
    assert "deletionVectors" in latest["protocol"]["readerFeatures"]
    assert any("deletionVector" in a for a in latest["adds"].values())


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_warm_dml_past_checkpoint_job_counts(spark, tmp_path, checkpoint_reads):
    """Past the v10 checkpoint, a warm 10-row UPDATE runs at most 10
    Spark jobs and a point read_where at most 3; no DML reads the
    checkpoint parquet more than once."""
    root = tmp_path / "pin"
    t = LakeTable.create(
        spark, str(root), df=spark.range(200).selectExpr("id AS k", "0L AS v"), format="delta"
    )
    for i in range(CHECKPOINT_INTERVAL + 1):
        t.append(_kv(spark, [(1000 + i, 0)]))
    t.update("k < 10", {"v": "v + 1"})  # warm the UPDATE path
    t.read_where("k = 5").collect()

    checkpoint_reads.clear()
    j0 = _jobs(spark)
    m = t.update("k >= 10 AND k < 20", {"v": "v + 1"})
    update_jobs = _jobs(spark) - j0
    assert m["numUpdatedRows"] == 10
    assert update_jobs <= 10, update_jobs
    assert len(checkpoint_reads) <= 1

    j0 = _jobs(spark)
    assert [r["v"] for r in t.read_where("k = 15").collect()] == [1]
    read_jobs = _jobs(spark) - j0
    assert read_jobs <= 3, read_jobs

    dml = [
        lambda: t.append(_kv(spark, [(5000, 0)])),
        lambda: t.delete("k = 3"),
        lambda: t.merge(_kv(spark, [(4, 9), (6000, 9)]), "t.k = s.k")
        .whenMatchedUpdate({"v": "s.v"})
        .whenNotMatchedInsertAll()
        .execute(),
        lambda: t.update("k = 7", {"v": "70"}),
    ]
    for _ in range(3):  # crosses the next checkpoint (v20)
        for op in dml:
            checkpoint_reads.clear()
            op()
            assert len(checkpoint_reads) <= 1
    assert t.version() > 2 * CHECKPOINT_INTERVAL


def test_concurrent_readers_never_regress_the_cache(tmp_path):
    """Eight reader threads (more than the cores) race one writer
    publishing commits past a checkpoint. Every state read at version v
    holds exactly v + 1 files, and the cached version each thread sees
    never goes down: a stale store overwriting a newer one would break
    that."""
    import os
    import random
    import sys
    import threading

    from databricks_delta_lake_project_spark.tables.delta_log import (
        DeltaLogBackend,
    )

    root = tmp_path / "stress"
    log = root / "_delta_log"
    log.mkdir(parents=True)
    schema = _kv_schema_json()

    def publish(v: int) -> None:
        actions = [{"add": {"path": f"f{v}.parquet", "partitionValues": {}, "size": 1, "modificationTime": v, "dataChange": True}}]
        if v == 0:
            actions[:0] = [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {"metaData": {"id": "stress", "format": {"provider": "parquet"}, "schemaString": schema, "partitionColumns": [], "configuration": {}}},
            ]
        tmp = log / f".{v}.tmp"
        tmp.write_text("".join(json.dumps(a) + "\n" for a in actions))
        os.rename(tmp, log / f"{v:020d}.json")  # readers never see a partial commit

    for v in range(CHECKPOINT_INTERVAL + 1):
        publish(v)
    DeltaLogBackend(None)._write_checkpoint(str(root), CHECKPOINT_INTERVAL)
    key = str(root.resolve())
    last = 4 * CHECKPOINT_INTERVAL
    done = threading.Event()
    errors: list[BaseException] = []

    def writer() -> None:
        try:
            for v in range(CHECKPOINT_INTERVAL + 1, last + 1):
                publish(v)
        except BaseException as e:  # reported by the main thread
            errors.append(e)
        finally:
            done.set()

    def reader(seed: int) -> None:
        rng = random.Random(seed)
        seen = -1
        try:
            while not done.is_set() or seen < last:
                if rng.random() < 0.3:
                    v = rng.randint(0, di._commit_versions(str(root))[-1])
                    assert len(di._replay(str(root), v).adds) == v + 1
                else:
                    st = di._replay(str(root), None)
                    cached = di._snapshots[key].version
                    assert cached >= seen, (cached, seen)
                    assert len(st.adds) >= seen + 1
                    seen = cached
        except BaseException as e:
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, daemon=True)] + [
            threading.Thread(target=reader, args=(i,), daemon=True)
            for i in range(8)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[0]
    assert di._snapshots[key].version == last
    assert len(di._replay(str(root), None).adds) == last + 1
