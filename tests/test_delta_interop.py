"""Reading Delta tables other writers built (`_delta_log` replay) over
hand-built fixtures that follow the open Delta protocol: JSON commits
with protocol/metaData/add/remove/commitInfo actions, hive-style
partition paths, `_last_checkpoint` + classic checkpoint parquet, and
reader-feature refusal. Every shape is read through ``LakeTable``, the
engine's one reader, and checked against the pyarrow reference reader
(``delta_reference``)."""

from __future__ import annotations

import json
from pathlib import Path

import delta_reference as ref
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from databricks_delta_lake_project_spark.tables import (
    LakeTable,
    is_delta_table,
)

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("part", IntegerType()),
    ]
)


def _schema_string() -> str:
    return SCHEMA.json()


def _write_data(spark, root: Path, rel: str, rows) -> None:
    """Write one parquet data file at root/rel holding `rows`.

    Driver-side pyarrow write with the same physical types Spark's
    writer produces for SCHEMA (int64, utf8, int32) — each fixture file
    used to be a coalesce(1) Spark write+rename job, which made every
    ``delta_table`` fixture cost three Spark jobs of pure overhead."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = root / rel
    target.parent.mkdir(parents=True, exist_ok=True)
    cols = {
        "id": pa.array([r[0] for r in rows], pa.int64()),
        "name": pa.array([r[1] for r in rows], pa.string()),
        "part": pa.array([r[2] for r in rows], pa.int32()),
    }
    if "=" in rel:  # hive-style partition path: drop the partition col
        del cols["part"]
    pq.write_table(pa.table(cols), str(target))


def _commit(root: Path, version: int, actions) -> None:
    log = root / "_delta_log"
    log.mkdir(parents=True, exist_ok=True)
    with open(log / f"{version:020d}.json", "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _meta(partition_cols=None):
    return {
        "metaData": {
            "id": "11111111-2222-3333-4444-555555555555",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _schema_string(),
            "partitionColumns": partition_cols or [],
            "configuration": {"delta.appendOnly": "false"},
        }
    }


@pytest.fixture()
def delta_table(spark, tmp_path):
    """v0: create with 2 files; v1: overwrite one file (add+remove)."""
    root = tmp_path / "ext_delta"
    _write_data(spark, root, "f0.parquet", [(1, "a", 0), (2, "b", 0)])
    _write_data(spark, root, "f1.parquet", [(3, "c", 1)])
    _write_data(spark, root, "f2.parquet", [(3, "c2", 1), (4, "d", 1)])
    _commit(
        root,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _meta(),
            {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1000, "dataChange": True}},
            {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1000, "dataChange": True}},
            {"commitInfo": {"operation": "WRITE", "timestamp": 1000}},
        ],
    )
    _commit(
        root,
        1,
        [
            {"remove": {"path": "f1.parquet", "deletionTimestamp": 2000, "dataChange": True}},
            {"add": {"path": "f2.parquet", "partitionValues": {}, "size": 1, "modificationTime": 2000, "dataChange": True}},
            {"commitInfo": {"operation": "MERGE", "timestamp": 2000}},
        ],
    )
    return root


def test_detect_and_open(spark, delta_table):
    """An unpartitioned external Delta table opens WRITABLE through
    the Delta log backend (write-back)."""
    assert is_delta_table(str(delta_table))
    t = LakeTable.for_path(spark, str(delta_table))
    assert isinstance(t, LakeTable)
    assert t.version() == 1 == ref.version(str(delta_table))
    assert t.properties() == {"delta.appendOnly": "false"}


def test_active_file_set_and_time_travel(spark, delta_table):
    t = LakeTable(spark, str(delta_table))
    latest = {(r["id"], r["name"]) for r in t.to_df().collect()}
    assert latest == {(1, "a"), (2, "b"), (3, "c2"), (4, "d")}
    v0 = {(r["id"], r["name"]) for r in t.to_df(version=0).collect()}
    assert v0 == {(1, "a"), (2, "b"), (3, "c")}
    assert [f.name for f in t.schema.fields] == ["id", "name", "part"]
    assert {(r["id"], r["name"]) for r in ref.rows(str(delta_table))} == latest
    assert {(r["id"], r["name"]) for r in ref.rows(str(delta_table), 0)} == v0


def test_history(spark, delta_table):
    t = LakeTable(spark, str(delta_table))
    rows = {(r["version"], r["operation"]) for r in t.history().collect()}
    assert rows == {(0, "WRITE"), (1, "MERGE")}


def test_partitioned_hive_layout(spark, tmp_path):
    root = tmp_path / "ext_delta_part"
    _write_data(spark, root, "part=0/p0.parquet", [(1, "a", 0), (2, "b", 0)])
    _write_data(spark, root, "part=1/p1.parquet", [(3, "c", 1)])
    _commit(
        root,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _meta(["part"]),
            {"add": {"path": "part=0/p0.parquet", "partitionValues": {"part": "0"}, "size": 1, "modificationTime": 1, "dataChange": True}},
            {"add": {"path": "part=1/p1.parquet", "partitionValues": {"part": "1"}, "size": 1, "modificationTime": 1, "dataChange": True}},
            {"commitInfo": {"operation": "WRITE", "timestamp": 1}},
        ],
    )
    t = LakeTable(spark, str(root))
    df = t.to_df()
    assert dict(df.dtypes)["part"] == "int"
    got = {(r["id"], r["part"]) for r in df.collect()}
    assert got == {(1, 0), (2, 0), (3, 1)}
    assert {(r["id"], r["part"]) for r in ref.rows(str(root))} == got
    # Partition pruning must reach the scan (one directory read).
    plan = df.filter(F.col("part") == 1)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan


def test_checkpoint_replay(spark, delta_table):
    """_last_checkpoint at v1 + a v2 JSON commit: replay starts from
    the checkpoint parquet, then applies only v2."""
    root = delta_table
    log = root / "_delta_log"
    t = LakeTable(spark, str(root))
    # Build a classic checkpoint for v1 from the replayed state.
    cp_rows = [
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1000, "dataChange": True}},
        {"add": {"path": "f2.parquet", "partitionValues": {}, "size": 1, "modificationTime": 2000, "dataChange": True}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        json.loads(json.dumps(_meta())),
    ]
    cp_df = spark.read.json(spark.sparkContext.parallelize([json.dumps(r) for r in cp_rows]))
    tmp = root / "_cp_tmp"
    cp_df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
    part = next(tmp.glob("part-*.parquet"))
    part.rename(log / f"{1:020d}.checkpoint.parquet")
    (log / "_last_checkpoint").write_text(json.dumps({"version": 1, "size": len(cp_rows)}))
    # v2 removes f0 — only this JSON should be replayed on top.
    _commit(
        root,
        2,
        [
            {"remove": {"path": "f0.parquet", "deletionTimestamp": 3000, "dataChange": True}},
            {"commitInfo": {"operation": "DELETE", "timestamp": 3000}},
        ],
    )
    got = {(r["id"], r["name"]) for r in t.to_df().collect()}
    assert got == {(3, "c2"), (4, "d")}
    assert {(r["id"], r["name"]) for r in ref.rows(str(root))} == got
    # Pre-checkpoint time travel still replays JSON from zero.
    v0 = {r["id"] for r in t.to_df(version=0).collect()}
    assert v0 == {1, 2, 3}


def test_unsupported_reader_features_refused(spark, tmp_path):
    root = tmp_path / "ext_delta_unsup"
    _write_data(spark, root, "f0.parquet", [(1, "a", 0)])
    _commit(
        root,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7, "readerFeatures": ["typeWidening"]}},
            _meta(),
            {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
        ],
    )
    t = LakeTable.for_path(spark, str(root))
    with pytest.raises(NotImplementedError, match="typeWidening"):
        t.to_df()


def test_column_mapping_refused_even_on_legacy_protocol(spark, tmp_path):
    """A minReaderVersion=2 table advertises column mapping only via the
    table property (no readerFeatures array exists below v3) — it must
    still be refused, not scanned into all-NULL columns."""
    root = tmp_path / "ext_delta_cm"
    _write_data(spark, root, "f0.parquet", [(1, "a", 0)])
    meta = _meta()
    meta["metaData"]["configuration"]["delta.columnMapping.mode"] = "name"
    _commit(
        root,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            meta,
            {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
        ],
    )
    t = LakeTable.for_path(spark, str(root))
    with pytest.raises(NotImplementedError, match="column mapping"):
        t.to_df()


# ---------------------------------------------------------------------------
# Deletion vectors: an INDEPENDENT serializer (not the library parser
# run backwards) builds protocol-conformant roaring bitmaps and DV
# files, then the engine's scan must drop exactly the marked row indices.
# ---------------------------------------------------------------------------

def _ser_roaring32(values) -> bytes:
    """Portable-format 32-bit roaring bitmap (RoaringFormatSpec),
    array/bitmap containers, no-run cookie."""
    import struct

    by_key: dict[int, list[int]] = {}
    for v in sorted(values):
        by_key.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(by_key)
    out = struct.pack("<II", 12346, len(keys))
    for k in keys:
        out += struct.pack("<HH", k, len(by_key[k]) - 1)
    # offset header: container start offsets from the bitmap start
    containers = []
    for k in keys:
        vals = by_key[k]
        if len(vals) <= 4096:
            containers.append(struct.pack(f"<{len(vals)}H", *vals))
        else:
            words = [0] * 1024
            for v in vals:
                words[v >> 6] |= 1 << (v & 63)
            containers.append(struct.pack("<1024Q", *words))
    pos = len(out) + 4 * len(keys)
    for c in containers:
        out += struct.pack("<I", pos)
        pos += len(c)
    return out + b"".join(containers)


def _ser_dv_data(positions) -> bytes:
    """Delta RoaringBitmapArray: magic, 64-bit bitmap count, then one
    portable 32-bit bitmap per high word."""
    import struct

    by_high: dict[int, list[int]] = {}
    for p in positions:
        by_high.setdefault(p >> 32, []).append(p & 0xFFFFFFFF)
    nmaps = (max(by_high) + 1) if by_high else 0
    out = struct.pack("<iq", 1681511377, nmaps)
    for h in range(nmaps):
        out += _ser_roaring32(by_high.get(h, []))
    return out


def _z85e(b: bytes) -> str:
    alphabet = (
        "0123456789abcdefghijklmnopqrstuvwxyz"
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
    )
    out = []
    for i in range(0, len(b), 4):
        v = int.from_bytes(b[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            v, r = divmod(v, 85)
            chunk.append(alphabet[r])
        out.extend(reversed(chunk))
    return "".join(out)


def _write_dv_file(root: Path, positions) -> dict:
    """Write a deletion_vector_<uuid>.bin (version byte, BE size-framed
    bitmap + CRC32) and return its add-action descriptor."""
    import struct
    import uuid as _uuid
    import zlib

    data = _ser_dv_data(positions)
    u = _uuid.uuid4()
    blob = b"\x01" + struct.pack(">I", len(data)) + data + struct.pack(
        ">I", zlib.crc32(data)
    )
    (root / f"deletion_vector_{u}.bin").write_bytes(blob)
    return {
        "storageType": "u",
        "pathOrInlineDv": _z85e(u.bytes),
        "offset": 1,
        "sizeInBytes": len(data),
        "cardinality": len(positions),
    }


def test_deletion_vector_file_scan(spark, tmp_path):
    """f0 keeps rows, f1 has a DV marking row indices 0 and 2 deleted:
    the scan returns f1's row 1 only, plus f0 untouched."""
    root = tmp_path / "ext_delta_dvf"
    _write_data(spark, root, "f0.parquet", [(1, "a", 0), (2, "b", 0)])
    _write_data(spark, root, "f1.parquet", [(10, "x", 1), (11, "y", 1), (12, "z", 1)])
    root.mkdir(parents=True, exist_ok=True)
    dv = _write_dv_file(root, [0, 2])
    _commit(
        root,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7, "readerFeatures": ["deletionVectors"]}},
            _meta(),
            {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
            {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True, "deletionVector": dv}},
            {"commitInfo": {"operation": "DELETE", "timestamp": 1}},
        ],
    )
    t = LakeTable(spark, str(root))
    got = {(r["id"], r["name"]) for r in t.to_df().collect()}
    assert got == {(1, "a"), (2, "b"), (11, "y")}
    assert {(r["id"], r["name"]) for r in ref.rows(str(root))} == got


def test_deletion_vector_inline(spark, tmp_path):
    root = tmp_path / "ext_delta_dvi"
    _write_data(spark, root, "f0.parquet", [(1, "a", 0), (2, "b", 0), (3, "c", 0)])
    data = _ser_dv_data([1])
    padded = data + b"\x00" * (-len(data) % 4)
    dv = {
        "storageType": "i",
        "pathOrInlineDv": _z85e(padded),
        "sizeInBytes": len(data),
        "cardinality": 1,
    }
    _commit(
        root,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7, "readerFeatures": ["deletionVectors"]}},
            _meta(),
            {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True, "deletionVector": dv}},
        ],
    )
    t = LakeTable(spark, str(root))
    got = {r["id"] for r in t.to_df().collect()}
    assert got == {1, 3}
    assert {r["id"] for r in ref.rows(str(root))} == got


def test_roaring_parser_container_shapes():
    """Bitmap containers (>4096 values), multi-key arrays, and >2^32
    row indices all round-trip through the independent serializer."""
    from databricks_delta_lake_project_spark.tables.delta_interop import (
        _parse_roaring_bitmap_array,
    )

    positions = sorted(
        set(range(0, 10000))  # bitmap container in key 0
        | {70000, 70001}  # second 16-bit key -> array container
        | {(1 << 32) + 5, (1 << 32) + 99}  # second 32-bit bitmap
    )
    got = _parse_roaring_bitmap_array(_ser_dv_data(positions))
    assert sorted(got.tolist()) == positions


@pytest.mark.slow
def test_v2_checkpoint_sidecar_replay(spark, tmp_path):
    """A V2 checkpoint keeps file actions in sidecar parquet files; the
    replay must fold the sidecar adds or the table silently loses files."""
    root = tmp_path / "ext_delta_v2cp"
    log = root / "_delta_log"
    _write_data(spark, root, "f0.parquet", [(1, "a", 0)])
    _write_data(spark, root, "f1.parquet", [(2, "b", 0)])
    _write_data(spark, root, "f2.parquet", [(3, "c", 0)])
    _commit(
        root,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7, "readerFeatures": ["v2Checkpoint"]}},
            _meta(),
            {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
            {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
        ],
    )

    def _one_parquet(rows, target: Path):
        df = spark.read.json(spark.sparkContext.parallelize([json.dumps(r) for r in rows]))
        tmp = root / "_cp_build"
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        target.parent.mkdir(parents=True, exist_ok=True)
        part.rename(target)

    # sidecar holds the adds; top-level checkpoint holds everything else
    _one_parquet(
        [
            {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
            {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
        ],
        log / "_sidecars" / "sc-0001.parquet",
    )
    _one_parquet(
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7, "readerFeatures": ["v2Checkpoint"]}},
            json.loads(json.dumps(_meta())),
            {"sidecar": {"path": "sc-0001.parquet", "sizeInBytes": 1, "modificationTime": 1}},
        ],
        log / f"{0:020d}.checkpoint.parquet",
    )
    (log / "_last_checkpoint").write_text(json.dumps({"version": 0, "size": 3}))
    _commit(
        root,
        1,
        [
            {"add": {"path": "f2.parquet", "partitionValues": {}, "size": 1, "modificationTime": 2, "dataChange": True}},
            {"commitInfo": {"operation": "WRITE", "timestamp": 2}},
        ],
    )
    t = LakeTable(spark, str(root))
    got = {r["id"] for r in t.to_df().collect()}
    assert got == {1, 2, 3}
    assert {r["id"] for r in ref.rows(str(root))} == got


def test_native_table_still_wins(spark, tmp_path):
    """for_path on the engine's own format returns a read-write
    LakeTable."""
    path = str(tmp_path / "native")
    LakeTable.create(spark, path, df=spark.range(3))
    t = LakeTable.for_path(spark, path)
    assert isinstance(t, LakeTable)
    assert t.to_df().count() == 3


def test_column_mapping_read_by_physical_name(spark, tmp_path):
    """A column-mapping table (mode=name) resolves parquet columns by
    each field's recorded physicalName and returns LOGICAL names —
    including nested struct fields renamed positionally."""
    import pyarrow as pa
    import pyarrow.parquet as pq_
    from pyspark.sql.types import (
        LongType as L,
        StringType as S,
        StructField as SF,
        StructType as ST,
    )

    root = tmp_path / "ext_delta_cmap"
    root.mkdir(parents=True)
    # physical parquet: col-aaa (long), col-bbb (struct<col-ccc string>)
    t = pa.table(
        {
            "col-aaa": pa.array([1, 2], pa.int64()),
            "col-bbb": pa.array(
                [{"col-ccc": "x"}, {"col-ccc": "y"}],
                pa.struct([("col-ccc", pa.string())]),
            ),
        }
    )
    pq_.write_table(t, root / "f0.parquet")
    logical = ST(
        [
            SF("id", L(), True, {"delta.columnMapping.id": 1, "delta.columnMapping.physicalName": "col-aaa"}),
            SF(
                "info",
                ST([SF("name", S(), True, {"delta.columnMapping.id": 3, "delta.columnMapping.physicalName": "col-ccc"})]),
                True,
                {"delta.columnMapping.id": 2, "delta.columnMapping.physicalName": "col-bbb"},
            ),
        ]
    )
    meta = {
        "metaData": {
            "id": "cm",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": logical.json(),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name"},
        }
    }
    _commit(
        root,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            meta,
            {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
        ],
    )
    df = LakeTable.for_path(spark, str(root)).to_df()
    assert df.columns == ["id", "info"]
    got = {(r["id"], r["info"]["name"]) for r in df.collect()}
    assert got == {(1, "x"), (2, "y")}
    assert {(r["id"], r["info"]["name"]) for r in ref.rows(str(root))} == got


def test_column_mapping_without_physical_names_refused(spark, tmp_path):
    root = tmp_path / "ext_delta_cmap_bad"
    _write_data(spark, root, "f0.parquet", [(1, "a", 0)])
    meta = _meta()
    meta["metaData"]["configuration"]["delta.columnMapping.mode"] = "name"
    _commit(
        root,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            meta,
            {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
        ],
    )
    with pytest.raises(NotImplementedError, match="physicalName"):
        LakeTable.for_path(spark, str(root)).to_df()


def test_interop_cdf_over_column_mapped_table(spark, tmp_path):
    """CDF over a column-mapped external table without cdc actions:
    each commit's adds become insert rows under LOGICAL column names,
    and a rewrite commit is refused loudly — on the engine's reader and
    on the reference reader alike."""
    import pyarrow as pa
    import pyarrow.parquet as pq_
    from pyspark.sql.types import StructField as SF, StructType as ST

    root = tmp_path / "ext_cmap_cdf"
    root.mkdir(parents=True)
    for i, vals in enumerate([[1, 2], [3]]):
        pq_.write_table(
            pa.table({"col-aaa": pa.array(vals, pa.int64())}),
            root / f"f{i}.parquet",
        )
    logical = ST(
        [
            SF(
                "id",
                LongType(),
                True,
                {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-aaa",
                },
            )
        ]
    )
    _commit(
        root,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "cmcdf",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": logical.json(),
                    "partitionColumns": [],
                    "configuration": {"delta.columnMapping.mode": "name"},
                }
            },
            {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
        ],
    )
    _commit(
        root,
        1,
        [{"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1, "modificationTime": 2, "dataChange": True}}],
    )
    t = LakeTable.for_path(spark, str(root))
    got = {
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in t.read_changes().collect()
    }
    assert got == {(1, "insert", 0), (2, "insert", 0), (3, "insert", 1)}
    assert {
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in ref.changes(str(root))
    } == got
    assert {r["id"] for r in t.read_changes(starting_version=1).collect()} == {3}
    _commit(
        root,
        2,
        [{"remove": {"path": "f0.parquet", "deletionTimestamp": 3, "dataChange": True}}],
    )
    with pytest.raises(NotImplementedError, match="version 2"):
        t.read_changes().collect()
    with pytest.raises(NotImplementedError, match="version 2"):
        ref.changes(str(root))


def test_partitioned_delta_writeback_roundtrip(spark, tmp_path):
    """Partitioned Delta write-back: create(partition_by) lays data out
    hive-style, every DML lands partitionValues-stamped add actions,
    and the INDEPENDENT reference reader (plus time travel) agrees."""
    from pyspark.sql import Row

    path = str(tmp_path / "part_wb")
    t = LakeTable.create(
        spark,
        path,
        df=spark.createDataFrame(
            [
                Row(day="d1", id=1, v=10.0),
                Row(day="d1", id=2, v=20.0),
                Row(day="d2", id=3, v=30.0),
            ]
        ),
        format="delta",
        partition_by=["day"],
    )
    # hive layout + partitionValues on every add
    for e in t._files():
        assert "day=" in e["path"]
        assert e["partitionValues"]["day"] in ("d1", "d2")
    t.append(spark.createDataFrame([Row(day="d3", id=4, v=40.0)]))
    t.update("id = 3", {"v": "33.0"})
    t.delete("day = 'd1'")
    (
        t.merge(
            spark.createDataFrame([Row(day="d4", id=5, v=50.0)]), "t.id = s.id"
        )
        .whenNotMatchedInsertAll()
        .execute()
    )
    expect = {("d2", 3, 33.0), ("d3", 4, 40.0), ("d4", 5, 50.0)}
    assert {
        (r["day"], r["id"], r["v"]) for r in t.to_df().collect()
    } == expect
    # the independent reference reader sees the same table
    assert {(r["day"], r["id"], r["v"]) for r in ref.rows(path)} == expect
    # time travel to v0 recovers the original partitioned snapshot
    assert {(r["day"], r["id"]) for r in t.to_df(version=0).collect()} == {
        ("d1", 1),
        ("d1", 2),
        ("d2", 3),
    }
    # partition predicate prunes by partitionValues stats (no footer)
    from databricks_delta_lake_project_spark.tables.table import (
        _prune_by_stats,
        predicate_bounds,
    )

    files = t._files()
    pruned = _prune_by_stats(files, predicate_bounds("day = 'd3'"))
    assert {e["partitionValues"]["day"] for e in pruned} == {"d3"}


def test_partitioned_dv_delete_and_vacuum(spark, tmp_path):
    """DV DELETE on a partitioned Delta table marks row indices without
    rewriting the hive layout; OPTIMIZE re-compacts per partition and
    VACUUM collects the dead nested files."""
    from pyspark.sql import Row

    path = str(tmp_path / "part_dv")
    t = LakeTable.create(
        spark,
        path,
        df=spark.createDataFrame(
            [Row(day="d1", id=i) for i in range(8)]
            + [Row(day="d2", id=8)]
        ).coalesce(1),  # one file per partition → the DV path, not fully-dead
        format="delta",
        partition_by=["day"],
        properties={"delta.enableDeletionVectors": "true"},
    )
    r = t.delete("id = 3")
    assert r["strategy"] == "dv" and r["numDeletedRows"] == 1
    assert sorted(x["id"] for x in t.to_df().collect()) == [
        0, 1, 2, 4, 5, 6, 7, 8,
    ]
    # DV re-add kept the partitionValues on the re-added file
    dvd = [e for e in t._files() if e.get("deletionVector")]
    assert dvd and all(e["partitionValues"]["day"] == "d1" for e in dvd)
    t.optimize(target_files=1)
    victims = t.vacuum(retain_hours=0)
    assert victims  # dead nested files were found under hive dirs
    assert sorted(x["id"] for x in t.to_df().collect()) == [
        0, 1, 2, 4, 5, 6, 7, 8,
    ]
    assert sorted(x["id"] for x in ref.rows(path)) == [0, 1, 2, 4, 5, 6, 7, 8]
