"""IDENTITY column writer obligation (the last refused field kind):
appends without the column get generated values past the
highWaterMark; the commit advances ``delta.identity.highWaterMark``
in the schema metadata; GENERATED ALWAYS refuses explicit values
while GENERATED BY DEFAULT accepts them; UPDATE/MERGE may never set
an identity column and MERGE inserts must supply it explicitly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from databricks_delta_lake_project_spark.tables import LakeTable


def _identity_schema(allow_explicit=False, start=100, step=10):
    meta = {
        "delta.identity.start": start,
        "delta.identity.step": step,
        "delta.identity.allowExplicitInsert": allow_explicit,
    }
    return StructType(
        [
            StructField("uid", LongType(), True, meta),
            StructField("name", StringType(), True),
        ]
    )


@pytest.mark.parametrize("fmt", ["delta"])
def test_identity_generation_and_watermark(spark, tmp_path, fmt):
    t = LakeTable.create(
        spark,
        str(tmp_path / f"ident_{fmt}"),
        schema=_identity_schema(),
        format=fmt,
    )
    t.append(spark.createDataFrame([Row(name="a"), Row(name="b")]))
    rows1 = {r["name"]: r["uid"] for r in t.to_df().collect()}
    # values generated: unique, >= start, on the step grid
    assert len(set(rows1.values())) == 2
    assert all(v >= 100 and (v - 100) % 10 == 0 for v in rows1.values())
    hwm1 = int(t.schema["uid"].metadata["delta.identity.highWaterMark"])
    assert hwm1 == max(rows1.values())

    # second append continues ABOVE the watermark
    t.append(spark.createDataFrame([Row(name="c")]))
    rows2 = {r["name"]: r["uid"] for r in t.to_df().collect()}
    assert rows2["c"] > hwm1
    assert len(set(rows2.values())) == 3
    hwm2 = int(t.schema["uid"].metadata["delta.identity.highWaterMark"])
    assert hwm2 == max(rows2.values())

    # a fresh handle (independent replay) sees the same watermark
    t2 = LakeTable.for_path(spark, t.root)
    assert (
        int(t2.schema["uid"].metadata["delta.identity.highWaterMark"]) == hwm2
    )


def test_generated_always_refuses_explicit(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "ident_always"),
        schema=_identity_schema(allow_explicit=False),
        format="delta",
    )
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(spark.createDataFrame([Row(uid=1, name="x")]))


def test_generated_by_default_accepts_explicit_and_tracks(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "ident_default"),
        schema=_identity_schema(allow_explicit=True),
        format="delta",
    )
    t.append(spark.createDataFrame([Row(uid=5000, name="explicit")]))
    assert {r["uid"] for r in t.to_df().collect()} == {5000}
    # watermark covers the explicit value, so generated values clear it
    assert (
        int(t.schema["uid"].metadata["delta.identity.highWaterMark"]) == 5000
    )
    t.append(spark.createDataFrame([Row(name="gen")]))
    rows = {r["name"]: r["uid"] for r in t.to_df().collect()}
    assert rows["gen"] > 5000


def test_negative_step_descends(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "ident_desc"),
        schema=_identity_schema(start=0, step=-5),
        format="delta",
    )
    t.append(spark.createDataFrame([Row(name="a"), Row(name="b")]))
    vals = sorted(r["uid"] for r in t.to_df().collect())
    assert all(v <= 0 and v % 5 == 0 for v in vals)
    hwm = int(t.schema["uid"].metadata["delta.identity.highWaterMark"])
    assert hwm == min(vals)
    t.append(spark.createDataFrame([Row(name="c")]))
    new = {r["uid"] for r in t.to_df().collect()} - set(vals)
    assert all(v < hwm for v in new)


def test_identity_protected_from_update_and_merge(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "ident_guard"),
        schema=_identity_schema(),
        format="delta",
    )
    t.append(spark.createDataFrame([Row(name="a")]))
    with pytest.raises(ValueError, match="identity"):
        t.update("name = 'a'", {"uid": "999"})
    src = spark.createDataFrame([Row(name="b")])
    with pytest.raises(ValueError, match="identity"):
        (
            t.merge(src, "t.name = s.name")
            .whenNotMatchedInsertAll()
            .execute()
        )
    # updating a NON-identity column still works, ids carried through
    before = {r["name"]: r["uid"] for r in t.to_df().collect()}
    t.update("name = 'a'", {"name": "'A'"})
    after = {r["name"]: r["uid"] for r in t.to_df().collect()}
    assert after == {"A": before["a"]}


def test_nested_identity_still_refused(spark, tmp_path):
    import json as _json
    from pathlib import Path

    root = Path(tmp_path) / "nested_ident"
    root.mkdir()
    inner = StructType(
        [
            StructField(
                "uid",
                LongType(),
                True,
                {"delta.identity.start": 1, "delta.identity.step": 1},
            )
        ]
    )
    schema = StructType([StructField("s", inner, True)])
    acts = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}},
        {
            "metaData": {
                "id": "ni",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": [],
                "configuration": {},
            }
        },
    ]
    log = root / "_delta_log"
    log.mkdir()
    (log / f"{0:020d}.json").write_text(
        "\n".join(_json.dumps(a) for a in acts)
    )
    # nested identity -> readable, every write refused at commit
    t = LakeTable.for_path(spark, str(root))
    assert t.to_df().count() == 0
    with pytest.raises(NotImplementedError, match=r"s\.uid"):
        t.append(spark.createDataFrame([Row(s=Row(uid=1))], schema))
    assert t.version() == 0


def test_identity_with_many_partitions_unique(spark, tmp_path):
    # distributed generation across partitions must stay unique
    t = LakeTable.create(
        spark,
        str(tmp_path / "ident_dist"),
        schema=_identity_schema(start=0, step=1),
        format="delta",
    )
    df = spark.range(5000).repartition(16).select(
        F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    t.append(df)
    vals = [r["uid"] for r in t.to_df().select("uid").collect()]
    assert len(vals) == 5000 and len(set(vals)) == 5000
    hwm = int(t.schema["uid"].metadata["delta.identity.highWaterMark"])
    assert hwm == max(vals)


def test_update_set_star_preserves_identity(spark, tmp_path):
    """MERGE UPDATE SET * keeps the TARGET's identity value even when
    the source carries the column (identity is immutable)."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "ident_star"),
        schema=_identity_schema(),
        format="delta",
    )
    t.append(spark.createDataFrame([Row(name="a")]))
    uid0 = t.to_df().collect()[0]["uid"]
    src = spark.createDataFrame([Row(uid=999999, name="a2")])
    (
        t.merge(src, "t.name = 'a'")
        .whenMatchedUpdateAll()
        .execute()
    )
    row = t.to_df().collect()[0]
    assert row["name"] == "a2" and row["uid"] == uid0


def test_merge_explicit_insert_advances_watermark(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "ident_mergehwm"),
        schema=_identity_schema(allow_explicit=True),
        format="delta",
    )
    t.append(spark.createDataFrame([Row(name="a")]))
    hwm0 = int(t.schema["uid"].metadata["delta.identity.highWaterMark"])
    src = spark.createDataFrame([Row(uid=hwm0 + 5000, name="big")])
    (
        t.merge(src, "t.uid = s.uid")
        .whenNotMatchedInsert({"uid": "s.uid", "name": "s.name"})
        .execute()
    )
    hwm1 = int(t.schema["uid"].metadata["delta.identity.highWaterMark"])
    assert hwm1 == hwm0 + 5000
    # later appends generate ABOVE the merged-in value
    t.append(spark.createDataFrame([Row(name="after")]))
    vals = {r["name"]: r["uid"] for r in t.to_df().collect()}
    assert vals["after"] > hwm0 + 5000
    assert len(set(vals.values())) == 3


def test_overwrite_honors_identity(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "ident_ow"),
        schema=_identity_schema(),
        format="delta",
    )
    t.append(spark.createDataFrame([Row(name="a")]))
    hwm0 = int(t.schema["uid"].metadata["delta.identity.highWaterMark"])
    # explicit values refused on GENERATED ALWAYS even via overwrite
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.overwrite(spark.createDataFrame([Row(uid=1, name="x")]))
    # generation + monotone watermark through overwrite
    t.overwrite(spark.createDataFrame([Row(name="b"), Row(name="c")]))
    vals = sorted(r["uid"] for r in t.to_df().collect())
    assert all(v > hwm0 for v in vals) and len(set(vals)) == 2
    assert (
        int(t.schema["uid"].metadata["delta.identity.highWaterMark"])
        == max(vals)
    )


def test_concurrent_identity_appends_unique_and_monotone(spark, tmp_path):
    """Two racing identity appends: the watermark commit is
    OCC-protected, the loser regenerates from the fresh watermark —
    all ids unique, watermark never regresses."""
    import threading

    t = LakeTable.create(
        spark,
        str(tmp_path / "ident_race"),
        schema=_identity_schema(start=0, step=1),
        format="delta",
    )
    barrier = threading.Barrier(2)
    errs: list[Exception] = []

    def run(tag, n):
        try:
            df = spark.range(n).select(
                F.concat(F.lit(tag), F.col("id")).alias("name")
            )
            barrier.wait(timeout=60)
            t.append(df)
        except Exception as e:
            errs.append(e)

    ths = [
        threading.Thread(target=run, args=("a", 50)),
        threading.Thread(target=run, args=("b", 70)),
    ]
    for th in ths:
        th.start()
    for th in ths:
        th.join(timeout=300)
    assert not errs, errs
    vals = [r["uid"] for r in t.to_df().select("uid").collect()]
    assert len(vals) == 120 and len(set(vals)) == 120
    hwm = int(t.schema["uid"].metadata["delta.identity.highWaterMark"])
    assert hwm == max(vals)


def test_overwrite_can_evolve_schema_with_identity(spark, tmp_path):
    """overwrite() on an identity table must commit the FRAME's schema
    (overwrite may evolve it), not revive the old field list."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "ident_evolve"),
        schema=_identity_schema(),
        format="delta",
    )
    t.append(spark.createDataFrame([Row(name="a")]))
    t.overwrite(spark.createDataFrame([Row(name="b", email="b@x.com")]))
    # the frame's field order wins (overwrite semantics); generated
    # identity lands as the frame's appended column
    assert {f.name for f in t.schema.fields} == {"uid", "name", "email"}
    row = t.to_df().collect()[0]
    assert row["email"] == "b@x.com" and row["uid"] is not None
    # identity metadata + watermark survive the evolution
    assert "delta.identity.start" in t.schema["uid"].metadata
    assert int(t.schema["uid"].metadata["delta.identity.highWaterMark"]) == row["uid"]


def test_identity_requires_bigint(spark, tmp_path):
    """monotonically_increasing_id ordinals jump by 2^33 per partition;
    a narrower identity type would silently wrap and collide, so the
    generator refuses non-BIGINT identity columns (Delta's own rule)."""
    from pyspark.sql.types import IntegerType

    meta = {"delta.identity.start": 1, "delta.identity.step": 1}
    schema = StructType(
        [
            StructField("uid", IntegerType(), True, meta),
            StructField("name", StringType(), True),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "ident_int"), schema=schema, format="delta"
    )
    with pytest.raises(ValueError, match="BIGINT"):
        t.append(spark.createDataFrame([Row(name="a")]))
