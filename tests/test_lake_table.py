"""ACID table layer: MERGE / DELETE / UPDATE / time travel / RESTORE /
CDF / OPTIMIZE / VACUUM semantics (reference Delta surfaces, SURVEY
§2.2 / §2.11)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from databricks_delta_lake_project_spark.tables import LakeTable


def _users(spark, rows):
    return spark.createDataFrame(
        rows, "id int, name string, balance double, updated int"
    )


@pytest.fixture()
def tbl(spark, tmp_path):
    df = _users(
        spark,
        [(1, "alice", 10.0, 1), (2, "bob", 20.0, 1), (3, "carol", 30.0, 1)],
    )
    return LakeTable.create(
        spark, str(tmp_path / "users"), df=df,
        properties={"enableChangeDataFeed": True},
    )


def _as_dict(df):
    return {r["id"]: (r["name"], r["balance"], r["updated"]) for r in df.collect()}


def test_tables_are_delta_only(spark, tmp_path):
    """With no ``format`` a table is a Delta table: it commits to
    ``_delta_log``, an independent Delta reader sees the same rows, and
    ``is_table`` finds it, as it does an explicit ``format="delta"``
    table. Any other format is refused naming the contract."""
    import delta_reference as ref

    df = _users(spark, [(1, "alice", 10.0, 1), (2, "bob", 20.0, 1)])
    root = tmp_path / "default"
    t = LakeTable.create(spark, str(root), df=df)
    assert (root / "_delta_log").is_dir() and not (root / "_log").exists()
    assert sorted(tuple(r.values()) for r in ref.rows(str(root))) == sorted(
        tuple(r) for r in t.to_df().collect()
    )
    assert LakeTable.is_table(str(root))

    explicit = tmp_path / "explicit"
    LakeTable.create(spark, str(explicit), df=df, format="delta")
    assert LakeTable.is_table(str(explicit))
    assert not LakeTable.is_table(str(tmp_path / "absent"))

    with pytest.raises(ValueError, match="Delta-only"):
        LakeTable.create(spark, str(tmp_path / "eng"), df=df, format="engine")
    assert not (tmp_path / "eng").exists()


def test_create_read_append(spark, tbl):
    assert tbl.to_df().count() == 3
    tbl.append(_users(spark, [(4, "dan", 40.0, 1)]))
    assert _as_dict(tbl.to_df())[4] == ("dan", 40.0, 1)
    assert tbl.version() == 1


def test_merge_upsert_conditional(spark, tbl):
    """M1: update only when source is newer + insert new keys
    (reference transform_customers.py:174-202)."""
    src = _users(
        spark,
        [(2, "bob2", 25.0, 2), (3, "carol_old", 99.0, 0), (5, "eve", 50.0, 2)],
    )
    m = (
        tbl.merge(src, "t.id = s.id")
        .whenMatchedUpdate(
            condition="s.updated > t.updated",
            set={"name": "s.name", "balance": "s.balance", "updated": "s.updated"},
        )
        .whenNotMatchedInsertAll()
        .execute()
    )
    data = _as_dict(tbl.to_df())
    assert data[2] == ("bob2", 25.0, 2)      # updated (newer)
    assert data[3] == ("carol", 30.0, 1)     # untouched (older source)
    assert data[5] == ("eve", 50.0, 2)       # inserted
    assert data[1] == ("alice", 10.0, 1)
    assert m["numTargetRowsInserted"] == 1


def test_merge_update_all_and_delete(spark, tbl):
    """M2 + M5-style delete clause."""
    src = _users(spark, [(1, "ALICE", 11.0, 2), (3, None, 0.0, 2)])
    (
        tbl.merge(src, "t.id = s.id")
        .whenMatchedDelete(condition="s.name IS NULL")
        .whenMatchedUpdateAll()
        .execute()
    )
    data = _as_dict(tbl.to_df())
    assert 3 not in data
    assert data[1] == ("ALICE", 11.0, 2)
    assert data[2] == ("bob", 20.0, 1)


def test_delete_update_predicates(spark, tbl):
    tbl.delete("balance >= 30.0")
    assert sorted(_as_dict(tbl.to_df())) == [1, 2]
    tbl.update("id = 1", {"balance": "balance + 5.0"})
    assert _as_dict(tbl.to_df())[1][1] == 15.0


def test_time_travel_and_restore(spark, tbl):
    v0 = tbl.version()
    tbl.append(_users(spark, [(4, "dan", 40.0, 1)]))
    tbl.delete("id = 1")
    assert tbl.to_df().count() == 3
    assert tbl.to_df(version=v0).count() == 3
    assert 1 in _as_dict(tbl.to_df(version=v0))
    with pytest.raises(ValueError, match="version -1"):
        tbl.to_df(version=-1)
    tbl.restore(v0)
    data = _as_dict(tbl.to_df())
    assert sorted(data) == [1, 2, 3]
    hist = {r["operation"] for r in tbl.history().collect()}
    assert {"CREATE TABLE AS SELECT", "WRITE", "DELETE", "RESTORE"} <= hist


def test_cdf(spark, tbl):
    tbl.append(_users(spark, [(4, "dan", 40.0, 1)]))
    tbl.update("id = 4", {"balance": "41.0"})
    tbl.delete("id = 4")
    ch = tbl.read_changes(starting_version=1)
    by_type = {
        r["_change_type"]: r
        for r in ch.filter(F.col("id") == 4).collect()
    }
    assert by_type["insert"]["balance"] == 40.0
    assert by_type["update_preimage"]["balance"] == 40.0
    assert by_type["update_postimage"]["balance"] == 41.0
    assert by_type["delete"]["balance"] == 41.0
    # version filtering
    assert tbl.read_changes(starting_version=99).count() == 0


def test_merge_cdf_rows(spark, tbl):
    src = _users(spark, [(1, "a2", 12.0, 2), (9, "zed", 90.0, 2)])
    (
        tbl.merge(src, "t.id = s.id")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
    ch = tbl.read_changes(starting_version=tbl.version())
    types = sorted(
        (r["id"], r["_change_type"]) for r in ch.collect()
    )
    assert (9, "insert") in types
    assert (1, "update_postimage") in types


def test_optimize_compacts(spark, tbl):
    for i in range(5):
        tbl.append(_users(spark, [(10 + i, f"u{i}", 1.0, 1)]))
    before = tbl.to_df().count()
    res = tbl.optimize(target_files=1)
    assert res["numFilesAdded"] == 1
    assert tbl.to_df().count() == before
    # zorder-style clustering path
    res2 = tbl.optimize(zorder_by=["id"], target_files=2)
    assert tbl.to_df().count() == before
    assert res2["numFilesAdded"] >= 1


def test_vacuum(spark, tbl):
    tbl.delete("id = 1")  # rewrites a file -> old file unreferenced
    victims = tbl.vacuum(retain_hours=0, dry_run=True)
    assert victims
    tbl.vacuum(retain_hours=0)
    assert tbl.to_df().count() == 2  # active files untouched


def test_overwrite_and_schema(spark, tbl):
    tbl.overwrite(_users(spark, [(7, "g", 1.0, 1)]))
    assert sorted(_as_dict(tbl.to_df())) == [7]
    assert [f.name for f in tbl.schema.fields] == [
        "id", "name", "balance", "updated",
    ]


def test_merge_overlapping_conditional_inserts_first_clause_wins(
    spark, tmp_path
):
    """Delta semantics: when several conditional NOT MATCHED clauses
    match the same source row, the FIRST declared clause supplies the
    inserted values. Pinned on both insert paths — the empty-target
    fast path and the general join path."""
    def _merge(t, rows):
        return (
            t.merge(_users(spark, rows), "t.id = s.id")
            # both conditions true for balance >= 10: clause 1 must win
            .whenNotMatchedInsert(
                {"id": "s.id", "name": "'first'", "balance": "s.balance",
                 "updated": "1"},
                condition="s.balance >= 10",
            )
            .whenNotMatchedInsert(
                {"id": "s.id", "name": "'second'", "balance": "s.balance",
                 "updated": "2"},
                condition="s.balance >= 0",
            )
            .execute()
        )

    t = LakeTable.create(
        spark,
        str(tmp_path / "first_wins"),
        schema=_users(spark, []).schema,
    )
    # empty-target fast path: id 1 matches both clauses, id 2 only the second
    m = _merge(t, [(1, "x", 50.0, 0), (2, "y", 5.0, 0)])
    assert m["numTargetRowsInserted"] == 2
    data = _as_dict(t.to_df())
    assert data[1] == ("first", 50.0, 1)
    assert data[2] == ("second", 5.0, 2)
    # general join path (files now exist): same overlap, new keys
    m2 = _merge(t, [(3, "x", 60.0, 0), (4, "y", 6.0, 0)])
    assert m2["numTargetRowsInserted"] == 2
    data = _as_dict(t.to_df())
    assert data[3] == ("first", 60.0, 1)
    assert data[4] == ("second", 6.0, 2)


def test_merge_into_empty_table_insert_only_fast_path(spark, tmp_path):
    """A MERGE whose target snapshot has zero data files reduces to its
    NOT MATCHED inserts (no probe/join — the empty-target fast path):
    clause conditions still gate rows, matched clauses are no-ops, and
    a follow-up MERGE on the now-populated table takes the general path
    and sees the inserted state."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "empty_merge"),
        schema=_users(spark, []).schema,
    )
    src = _users(
        spark, [(1, "a", 1.0, 1), (2, "skip", 2.0, 1), (3, "c", 3.0, 1)]
    )
    jobs0 = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    m = (
        t.merge(src, "t.id = s.id")
        .whenMatchedUpdate({"balance": "s.balance"})
        .whenNotMatchedInsertAll(condition="s.name != 'skip'")
        .execute()
    )
    jobs = spark.sparkContext._jsc.sc().dagScheduler().nextJobId() - jobs0
    assert m["numTargetRowsInserted"] == 2
    assert m["numTargetRowsUpdated"] == 0
    assert m["numRemovedFiles"] == 0
    assert sorted(_as_dict(t.to_df())) == [1, 3]
    # structural pin: insert-only shape = the write job(s) and nothing
    # else (no source materialization, no bounds agg, no touched-file
    # probe, no full-outer join); the general path runs 2-3x this
    assert jobs <= 3
    # the general path engages once files exist
    m2 = (
        t.merge(_users(spark, [(1, "a2", 9.0, 2)]), "t.id = s.id")
        .whenMatchedUpdate({"name": "s.name", "balance": "s.balance"})
        .whenNotMatchedInsertAll()
        .execute()
    )
    assert m2["numTargetRowsUpdated"] == 1
    assert _as_dict(t.to_df())[1] == ("a2", 9.0, 1)


def test_partition_delete_is_metadata_only_zero_jobs(spark, tmp_path):
    """A whole-partition DELETE on a CDF-off table is decided entirely
    from partitionValues stats: no file read, no rewrite, and — pinned
    structurally — ZERO Spark jobs (the CDF change frame is not built
    when nothing consumes it, and the partitioned scan path never
    re-infers the schema from footers)."""
    df = _users(spark, [(1, "a", 1.0, 1), (2, "b", 2.0, 2), (3, "c", 3.0, 2)])
    t = LakeTable.create(
        spark,
        str(tmp_path / "pdel"),
        df=df.repartition(2, "updated"),
        format="delta",
        partition_by=["updated"],
    )
    jobs0 = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    m = t.delete("updated = 2")
    jobs = spark.sparkContext._jsc.sc().dagScheduler().nextJobId() - jobs0
    assert m["numDeletedRows"] == 2 and m["numWholeFilesRemoved"] >= 1
    assert jobs == 0
    assert sorted(_as_dict(t.to_df())) == [1]


def test_scans_of_many_files_launch_no_listing_job(spark, tmp_path):
    """Every scan hands Spark the leaf files the log names. Above
    ``parallelPartitionDiscovery.threshold`` paths (32 by default) Spark
    would list them with a job of one task per path; the session keeps
    that listing on the driver, so building a read of 40 files launches
    no job, partitioned or not, latest or time-travelled, pruned or not.
    A warm copy-on-write UPDATE whose predicate no stats prune probes
    all 40 files without a listing job too."""
    sc = spark.sparkContext._jsc.sc()
    rows = [(i, f"n{i}", float(i), 1) for i in range(40)]
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        flat = LakeTable.create(
            spark, str(tmp_path / "flat"), df=_users(spark, rows).coalesce(1)
        )
        part = LakeTable.create(
            spark,
            str(tmp_path / "part"),
            df=_users(spark, rows),
            partition_by=["updated"],
        )
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    for t in (flat, part):
        assert len(t._files()) == 40
        for build in (
            t.to_df,
            lambda: t.to_df(version=0),
            lambda: t.read_where("id >= 2"),
        ):
            jobs0 = sc.dagScheduler().nextJobId()
            build()
            assert sc.dagScheduler().nextJobId() - jobs0 == 0
    flat.update("id % 40 = 6", {"balance": "balance + 1"})  # warm-up
    jobs0 = sc.dagScheduler().nextJobId()
    m = flat.update("id % 40 = 7", {"balance": "balance + 1"})
    jobs = sc.dagScheduler().nextJobId() - jobs0
    assert m["numRemovedFiles"] == 1
    # measured 3 once listing moved to the driver; 4 before, the
    # fourth a listing job with one task per probed file
    assert jobs <= 3, jobs
    assert _as_dict(flat.to_df())[7] == ("n7", 8.0, 1)


def test_merge_into_empty_table_matched_only_commits_noop(spark, tmp_path):
    """Empty target + only MATCHED clauses: nothing to insert, nothing
    to join — the MERGE commits an empty version (history parity with
    the general path) and the table stays empty."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "empty_merge2"),
        schema=_users(spark, []).schema,
    )
    v0 = t.version()
    m = (
        t.merge(_users(spark, [(1, "a", 1.0, 1)]), "t.id = s.id")
        .whenMatchedUpdateAll()
        .execute()
    )
    assert m["numTargetRowsInserted"] == 0
    assert m["numOutputRows"] == 0
    assert t.version() == v0 + 1
    assert t.to_df().count() == 0
