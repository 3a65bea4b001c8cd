"""Delta-Sharing-style provider/recipient flow over the filesystem
transport (S9 + X10; reference ``delta_sharing_provider.py:39-106``,
``delta_sharing_recipient.py:121-205``)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row, functions as F

from databricks_delta_lake_project_spark.governance.sharing import (
    ShareProvider,
    SharingClient,
)
from databricks_delta_lake_project_spark.tables import LakeTable


@pytest.fixture()
def shared_world(spark, tmp_path):
    """Provider with one share holding a table (partition-
    filtered alias + plain alias) and one recipient profile."""
    table_path = str(tmp_path / "gold_revenue")
    LakeTable.create(
        spark,
        table_path,
        df=spark.createDataFrame(
            [
                Row(region="US", customer_id=1, revenue=100.0),
                Row(region="US", customer_id=2, revenue=250.0),
                Row(region="EU", customer_id=3, revenue=75.0),
            ]
        ),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    provider = ShareProvider(str(tmp_path / "shares_root"))
    provider.create_share("c360_share", comment="gold analytics")
    provider.add_table("c360_share", table_path, "analytics.revenue")
    provider.add_table(
        "c360_share",
        table_path,
        "analytics.revenue_us_only",
        partition_filter="region = 'US'",
    )
    profile = str(tmp_path / "config.share")
    provider.create_recipient("partner_team", profile)
    provider.grant("c360_share", "partner_team")
    return provider, profile, table_path


def test_profile_handshake_and_listing(shared_world):
    _, profile, _ = shared_world
    client = SharingClient(profile)
    assert client.list_shares() == ["c360_share"]
    assert client.list_schemas("c360_share") == ["analytics"]
    assert client.list_tables("c360_share") == [
        "analytics.revenue",
        "analytics.revenue_us_only",
    ]


def test_load_table_and_partition_filter(spark, shared_world):
    _, profile, _ = shared_world
    client = SharingClient(profile)
    full = client.load_table(spark, "config.share#c360_share.analytics.revenue")
    assert full.count() == 3
    us = client.load_table(spark, "c360_share.analytics.revenue_us_only")
    rows = us.collect()
    assert len(rows) == 2 and all(r["region"] == "US" for r in rows)


def test_revoke_and_bad_token(spark, shared_world, tmp_path):
    provider, profile, _ = shared_world
    provider.revoke("c360_share", "partner_team")
    client = SharingClient(profile)
    assert client.list_shares() == []
    with pytest.raises(PermissionError, match="not granted"):
        client.load_table(spark, "c360_share.analytics.revenue")
    # forged token
    forged = tmp_path / "forged.share"
    prof = json.loads(open(profile).read())
    prof["bearerToken"] = "0" * 32
    forged.write_text(json.dumps(prof))
    with pytest.raises(PermissionError, match="token"):
        SharingClient(str(forged)).list_shares()
    # re-grant restores access without a new profile
    provider.grant("c360_share", "partner_team")
    assert SharingClient(profile).list_shares() == ["c360_share"]


def test_shared_cdf_reflects_provider_writes(spark, shared_world):
    _, profile, table_path = shared_world
    t = LakeTable.for_path(spark, table_path)
    t.append(
        spark.createDataFrame([Row(region="EU", customer_id=4, revenue=10.0)])
    )
    client = SharingClient(profile)
    cdf = client.load_cdf(spark, "c360_share.analytics.revenue", starting_version=1)
    assert (
        cdf.filter(F.col("_change_type") == "insert")
        .filter(F.col("customer_id") == 4)
        .count()
        == 1
    )


def test_share_external_delta_table(spark, shared_world, tmp_path):
    """An external `_delta_log` table shares through the same path
    (read-only interop)."""
    provider, profile, _ = shared_world
    root = tmp_path / "ext_delta"
    df = spark.createDataFrame([Row(id=1), Row(id=2)])
    tmp = root / "_t"
    df.coalesce(1).write.parquet(str(tmp))
    data = root / "f0.parquet"
    next(tmp.glob("part-*.parquet")).rename(
        (data.parent.mkdir(parents=True, exist_ok=True) or data)
    )
    log = root / "_delta_log"
    log.mkdir()
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "x",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": df.schema.json(),
                "partitionColumns": [],
                "configuration": {},
            }
        },
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1, "modificationTime": 1, "dataChange": True}},
    ]
    (log / f"{0:020d}.json").write_text("\n".join(json.dumps(a) for a in actions))
    provider.add_table("c360_share", str(root), "external.events")
    client = SharingClient(profile)
    got = client.load_table(spark, "c360_share.external.events")
    assert {r["id"] for r in got.collect()} == {1, 2}
    # CDF over an APPEND-ONLY external Delta table is synthesized from
    # the _delta_log replay: the v0 add files become insert rows.
    cdf = client.load_cdf(spark, "c360_share.external.events")
    rows = cdf.collect()
    assert {(r["id"], r["_change_type"], r["_commit_version"]) for r in rows} == {
        (1, "insert", 0),
        (2, "insert", 0),
    }
    # A foreign commit that REMOVED files has no reconstructible
    # row-level delta — refused loudly instead of wrong changes.
    (log / f"{1:020d}.json").write_text(
        json.dumps(
            {"remove": {"path": "f0.parquet", "deletionTimestamp": 2, "dataChange": True}}
        )
        + "\n"
        + json.dumps({"commitInfo": {"operation": "DELETE", "timestamp": 2}})
    )
    with pytest.raises(NotImplementedError):
        client.load_cdf(spark, "c360_share.external.events").collect()


@pytest.mark.slow
def test_share_cdf_over_partitioned_external_table(spark, shared_world, tmp_path):
    """CDF over a PARTITIONED external Delta table. Partitioned tables
    open WRITABLE since partitioned write-back landed, so this rides
    `LakeTable.read_changes` — partition columns must be recovered from
    `partitionValues` (the data files do not contain them), and a
    foreign rewrite commit must still be refused."""
    provider, profile, _ = shared_world
    root = tmp_path / "ext_part_delta"
    files = {}
    for i, (day, ids) in enumerate([("d1", [1, 2]), ("d2", [3])]):
        df = spark.createDataFrame([Row(id=n) for n in ids])
        tmp = root / f"_t{i}"
        df.coalesce(1).write.parquet(str(tmp))
        rel = f"day={day}/f{i}.parquet"
        dest = root / rel
        dest.parent.mkdir(parents=True, exist_ok=True)
        next(tmp.glob("part-*.parquet")).rename(dest)
        files[i] = (rel, day)
    schema_json = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "day", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    log = root / "_delta_log"
    log.mkdir()
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "p",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_json,
                "partitionColumns": ["day"],
                "configuration": {},
            }
        },
        {
            "add": {
                "path": files[0][0],
                "partitionValues": {"day": files[0][1]},
                "size": 1,
                "modificationTime": 1,
                "dataChange": True,
            }
        },
    ]
    (log / f"{0:020d}.json").write_text("\n".join(json.dumps(a) for a in v0))
    (log / f"{1:020d}.json").write_text(
        json.dumps(
            {
                "add": {
                    "path": files[1][0],
                    "partitionValues": {"day": files[1][1]},
                    "size": 1,
                    "modificationTime": 2,
                    "dataChange": True,
                }
            }
        )
    )
    provider.add_table("c360_share", str(root), "external.partitioned")
    client = SharingClient(profile)
    t_kind = LakeTable.for_path(spark, str(root))
    assert isinstance(t_kind, LakeTable), "partitioned tables open writable"
    cdf = client.load_cdf(spark, "c360_share.external.partitioned")
    got = {
        (r["id"], r["day"], r["_change_type"], r["_commit_version"])
        for r in cdf.collect()
    }
    assert got == {
        (1, "d1", "insert", 0),
        (2, "d1", "insert", 0),
        (3, "d2", "insert", 1),
    }
    # starting_version trims earlier commits
    later = client.load_cdf(
        spark, "c360_share.external.partitioned", starting_version=1
    )
    assert {r["id"] for r in later.collect()} == {3}
    # a foreign rewrite (remove) is refused loudly
    (log / f"{2:020d}.json").write_text(
        json.dumps(
            {
                "remove": {
                    "path": files[0][0],
                    "deletionTimestamp": 3,
                    "dataChange": True,
                }
            }
        )
    )
    with pytest.raises(NotImplementedError):
        client.load_cdf(spark, "c360_share.external.partitioned").collect()


@pytest.mark.slow
def test_stream_shared_table_cdf_and_rows(spark, shared_world, tmp_path):
    """S9 streaming flavor (reference delta_sharing_recipient.py:144-191):
    a recipient streams a shared Delta table through its own checkpoint —
    first drain delivers history from startingVersion, a provider commit
    then arrives INCREMENTALLY on restart (versions are the offsets);
    change_feed=False yields the plain append-stream shape."""
    provider, profile, _ = shared_world
    table_path = str(tmp_path / "stream_gold")
    t = LakeTable.create(
        spark,
        table_path,
        df=spark.createDataFrame(
            [Row(region="US", customer_id=1, revenue=100.0)]
        ),
        format="delta",
        properties={"delta.enableChangeDataFeed": "true"},
    )
    provider.add_table("c360_share", table_path, "analytics.stream_gold")
    client = SharingClient(profile)

    out, ckpt = tmp_path / "sync_out", tmp_path / "sync_ckpt"

    def drain():
        df = client.load_stream(
            spark, "config.share#c360_share.analytics.stream_gold"
        )
        q = (
            df.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["customer_id"], r["revenue"], r["_change_type"])
            for r in spark.read.schema(df.schema).parquet(str(out)).collect()
        }

    assert drain() == {(1, 100.0, "insert")}
    # provider keeps writing; the SAME checkpoint picks up only the delta
    t.append(spark.createDataFrame([Row(region="EU", customer_id=2, revenue=50.0)]))
    t.update("customer_id = 1", {"revenue": "111.0"})
    got = drain()
    assert (2, 50.0, "insert") in got
    assert (1, 100.0, "update_preimage") in got
    assert (1, 111.0, "update_postimage") in got

    # plain row stream over a history that CONTAINS an update commit:
    # the append-only stream contract raises (Delta semantics) instead
    # of silently dropping the updated rows...
    rows = client.load_stream(
        spark, "c360_share.analytics.stream_gold", change_feed=False
    )
    assert "_change_type" not in rows.columns
    fail_out, fail_ckpt = tmp_path / "fail_out", tmp_path / "fail_ckpt"
    q = (
        rows.writeStream.format("parquet")
        .option("path", str(fail_out))
        .option("checkpointLocation", str(fail_ckpt))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="change commit"):
        q.awaitTermination()
    # ...and ignore_changes=True opts into dropping them (ignoreChanges)
    rows = client.load_stream(
        spark,
        "c360_share.analytics.stream_gold",
        change_feed=False,
        ignore_changes=True,
    )
    rout, rckpt = tmp_path / "rows_out", tmp_path / "rows_ckpt"
    q = (
        rows.writeStream.format("parquet")
        .option("path", str(rout))
        .option("checkpointLocation", str(rckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_rows = spark.read.schema(rows.schema).parquet(str(rout))
    assert {r["customer_id"] for r in got_rows.collect()} == {1, 2}

    # unauthorized: revoked grant refuses the stream BEFORE any read
    provider.revoke("c360_share", "partner_team")
    with pytest.raises(PermissionError, match="not granted"):
        client.load_stream(spark, "c360_share.analytics.stream_gold")
    provider.grant("c360_share", "partner_team")

    # a shared path that holds no _delta_log refuses streaming loudly
    provider.add_table("c360_share", str(tmp_path / "gone"), "analytics.gone")
    with pytest.raises(ValueError, match="requires a Delta table"):
        client.load_stream(spark, "c360_share.analytics.gone")
