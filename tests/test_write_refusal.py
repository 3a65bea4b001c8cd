"""Tables the engine may read but not write. A Delta table that declares
a writer obligation the engine cannot honor — an unknown v7 writer
feature (``rowTracking``) or an identity column below the top level —
opens through ``LakeTable.for_path`` like any other table and reads
fully. Every write is refused at its commit, naming the obligation,
and leaves the table exactly as it was: same version, and no new data,
deletion-vector or ``_change_data`` file anywhere under the root."""

from __future__ import annotations

import json
from pathlib import Path

import delta_reference as ref
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, StructField, StructType

from databricks_delta_lake_project_spark.tables import LakeTable, sqldml

_IDENTITY = {"delta.identity.start": 1, "delta.identity.step": 1}


def _external_table(root: Path, kind: str) -> tuple[StructType, str]:
    """v0 and v1 each append one two-row file, written the way another
    Delta writer would. Returns the schema and the name the refusal
    must carry."""
    if kind == "rowTracking":
        schema = StructType([StructField("id", LongType()), StructField("v", LongType())])
        protocol = {
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": ["rowTracking"],
        }
        # DV and CDF on: refused DML must drop its DV sidecars and
        # _change_data files too
        config = {
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        }
        cols = lambda ids: {"id": ids, "v": [10 * i for i in ids]}  # noqa: E731
    else:
        inner = StructType([StructField("uid", LongType(), True, _IDENTITY)])
        schema = StructType([StructField("id", LongType()), StructField("n", inner)])
        protocol = {"minReaderVersion": 1, "minWriterVersion": 6}
        config = {}
        cols = lambda ids: {"id": ids, "n": [{"uid": i} for i in ids]}  # noqa: E731
    log = root / "_delta_log"
    log.mkdir(parents=True)
    for v, ids in enumerate([[1, 2], [3, 4]]):
        pq.write_table(pa.table(cols(ids)), root / f"f{v}.parquet")
        actions = [
            {"commitInfo": {"operation": "WRITE", "timestamp": 1000 + v}},
            {"add": {"path": f"f{v}.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
        ]
        if v == 0:
            actions[1:1] = [
                {"protocol": protocol},
                {
                    "metaData": {
                        "id": kind,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema.json(),
                        "partitionColumns": [],
                        "configuration": config,
                    }
                },
            ]
        (log / f"{v:020d}.json").write_text(
            "\n".join(json.dumps(a) for a in actions) + "\n"
        )
    return schema, "rowTracking" if kind == "rowTracking" else r"n\.uid"


def _files(root: Path) -> set[Path]:
    return {p for p in root.rglob("*") if p.is_file()}


@pytest.mark.parametrize("kind", ["rowTracking", "nested_identity"])
def test_write_refusal_matrix(spark, tmp_path, kind):
    root = tmp_path / kind
    schema, named = _external_table(root, kind)
    t = LakeTable.for_path(spark, str(root))
    assert isinstance(t, LakeTable)

    # reads work: snapshot, time travel, schema, history, change feed
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2, 3, 4]
    assert sorted(r["id"] for r in t.to_df(version=0).collect()) == [1, 2]
    assert sorted(r["id"] for r in ref.rows(str(root))) == [1, 2, 3, 4]
    assert t.schema.fieldNames() == schema.fieldNames()
    assert [r["version"] for r in t.history().orderBy("version").collect()] == [0, 1]
    assert sorted(
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in t.read_changes(0).collect()
    ) == [(1, "insert", 0), (2, "insert", 0), (3, "insert", 1), (4, "insert", 1)]

    def rows(ids):
        data = [
            (i, 10 * i) if kind == "rowTracking" else (i, {"uid": i})
            for i in ids
        ]
        return spark.createDataFrame(data, schema)

    path = f"delta.`{root}`"
    src = (
        "SELECT 1 AS id, 7L AS v"
        if kind == "rowTracking"
        else "SELECT 1 AS id, named_struct('uid', 7L) AS n"
    )
    value = "5" if kind == "rowTracking" else "named_struct('uid', 5L)"
    writes = {
        "append": lambda: t.append(rows([5])),
        "append_txn": lambda: t.append_txn(rows([5]), "app", 0),
        "overwrite": lambda: t.overwrite(rows([5])),
        "delete": lambda: t.delete("id = 1"),
        "update": lambda: t.update("id = 1", {"id": "id + 100"}),
        "merge": lambda: (
            t.merge(rows([1, 9]), "t.id = s.id")
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        ),
        "optimize": lambda: t.optimize(),
        "replace_where": lambda: t.replace_where(rows([1]), "id = 1"),
        "restore": lambda: t.restore(0),
        "truncate": lambda: t.truncate(),
        "set_tags": lambda: t.set_tags({"owner": "x"}),
        "sql_update": lambda: sqldml.run_dml(
            spark, f"UPDATE {path} SET id = id + 100 WHERE id = 1"
        ),
        "sql_delete": lambda: sqldml.run_dml(spark, f"DELETE FROM {path} WHERE id = 1"),
        "sql_merge": lambda: sqldml.run_dml(
            spark,
            f"MERGE INTO {path} AS t USING ({src}) AS s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        ),
        "sql_insert": lambda: sqldml.run_dml(
            spark, f"INSERT INTO {path} VALUES (5, {value})"
        ),
    }
    before = _files(root)
    for name, write in writes.items():
        with pytest.raises(NotImplementedError, match=named):
            write()
        assert t.version() == 1, name
        assert _files(root) == before, name
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2, 3, 4]
