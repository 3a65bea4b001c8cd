"""UNSET TBLPROPERTIES, SHOW COLUMNS, COMMENT ON TABLE/COLUMN,
ALTER COLUMN SET/DROP NOT NULL, CREATE TABLE COMMENT — the small-DDL
tail a real Databricks user expects (beyond the reference repo's
surface; all public Databricks/Spark semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from databricks_delta_lake_project_spark.queries.sqlpack import run_statement
from databricks_delta_lake_project_spark.tables import LakeTable, sqldml


def _mk(spark, tmp_path, name, fmt="delta"):
    t = LakeTable.create(
        spark,
        str(tmp_path / name),
        df=spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v=None)]),
        format=fmt,
        properties={"k1": "x", "k2": "y"},
    )
    sqldml.register_table(spark, name, t)
    return t


@pytest.mark.parametrize("fmt", ["delta"])
def test_unset_tblproperties_both_backends(spark, tmp_path, fmt):
    t = _mk(spark, tmp_path, f"unset_{fmt}", fmt=fmt)
    res = sqldml.run_dml(
        spark, f"ALTER TABLE unset_{fmt} UNSET TBLPROPERTIES ('k1')"
    )
    assert res["operation"] == "UNSET TBLPROPERTIES"
    assert "k1" not in t.properties() and t.properties()["k2"] == "y"
    # gone across a fresh handle too (an independent replay must not
    # resurrect it)
    assert "k1" not in LakeTable(spark, t.root).properties()
    with pytest.raises(ValueError, match="unknown keys"):
        sqldml.run_dml(
            spark, f"ALTER TABLE unset_{fmt} UNSET TBLPROPERTIES ('nope')"
        )
    sqldml.run_dml(
        spark,
        f"ALTER TABLE unset_{fmt} UNSET TBLPROPERTIES IF EXISTS "
        "('nope', 'k2')",
    )
    assert "k2" not in t.properties()


def test_show_columns(spark, tmp_path):
    _mk(spark, tmp_path, "sc_t")
    out = run_statement(spark, "SHOW COLUMNS IN sc_t")
    assert out.columns == ["col_name"]
    assert [r[0] for r in out.collect()] == ["id", "v"]
    assert [
        r[0] for r in run_statement(spark, "SHOW COLUMNS FROM sc_t").collect()
    ] == ["id", "v"]


def test_comment_on_table_and_column(spark, tmp_path):
    t = _mk(spark, tmp_path, "cmt_t")
    run_statement(
        spark, "COMMENT ON TABLE cmt_t IS 'the ''gold'' table'"
    )
    assert t.properties()["comment"] == "the 'gold' table"
    run_statement(spark, "COMMENT ON TABLE cmt_t IS NULL")
    assert "comment" not in t.properties()

    run_statement(spark, "COMMENT ON COLUMN cmt_t.v IS 'value col'")
    assert t.schema["v"].metadata.get("comment") == "value col"
    # DESCRIBE surfaces it
    desc = run_statement(spark, "DESCRIBE cmt_t").collect()
    assert ("v", "string", "value col") in [tuple(r) for r in desc]


def test_create_table_comment_clause(spark, tmp_path):
    run_statement(
        spark,
        f"CREATE TABLE cc_t (id INT) COMMENT 'made for tests' "
        f"LOCATION '{tmp_path / 'cc_t'}'",
    )
    t = sqldml.resolve_table(spark, "cc_t")
    assert t.properties()["comment"] == "made for tests"


def test_set_not_null_validates_and_enforces(spark, tmp_path):
    t = _mk(spark, tmp_path, "nn_t")
    # v holds a NULL -> SET NOT NULL refuses
    with pytest.raises(ValueError, match="existing rows hold NULLs"):
        sqldml.run_dml(
            spark, "ALTER TABLE nn_t ALTER COLUMN v SET NOT NULL"
        )
    # id is clean -> lands, and writes enforce from then on
    sqldml.run_dml(spark, "ALTER TABLE nn_t ALTER COLUMN id SET NOT NULL")
    assert t.schema["id"].nullable is False
    with pytest.raises(ValueError, match="notnull__id"):
        run_statement(spark, "INSERT INTO nn_t VALUES (NULL, 'z')")
    run_statement(spark, "INSERT INTO nn_t VALUES (3, 'z')")
    assert t.to_df().count() == 3
    # DROP NOT NULL: metadata-only, enforcement gone
    sqldml.run_dml(spark, "ALTER TABLE nn_t ALTER COLUMN id DROP NOT NULL")
    assert t.schema["id"].nullable is True
    run_statement(spark, "INSERT INTO nn_t VALUES (NULL, 'q')")
    assert t.to_df().count() == 4


def test_create_table_not_null_enforced(spark, tmp_path):
    """Explicit NOT NULL in CREATE TABLE DDL enforces on writes — but
    a DataFrame-created table's incidental non-nullability must NOT
    (no surprise validation agg per write)."""
    run_statement(
        spark,
        "CREATE TABLE ddlnn (id INT NOT NULL, v STRING) "
        f"LOCATION '{tmp_path / 'ddlnn'}'",
    )
    with pytest.raises(ValueError, match="notnull__id"):
        run_statement(spark, "INSERT INTO ddlnn VALUES (NULL, 'a')")
    run_statement(spark, "INSERT INTO ddlnn VALUES (1, 'a')")

    # spark.range's id is non-nullable but was never DECLARED: the
    # schema keeps the flag, the writer pays no validation
    t = LakeTable.create(
        spark, str(tmp_path / "inc_nn"), df=spark.range(3)
    )
    from databricks_delta_lake_project_spark.tables.table import (
        _collect_constraint_checks,
    )

    assert (
        _collect_constraint_checks(t.properties(), t.schema) == {}
    )


def test_create_table_like(spark, tmp_path):
    src = LakeTable.create(
        spark,
        str(tmp_path / "like_src"),
        df=spark.createDataFrame([Row(day="d1", id=1)]),
        format="delta",
        partition_by=["day"],
        properties={"k": "v", "comment": "src table"},
    )
    sqldml.register_table(spark, "like_src", src)
    res = sqldml.run_dml(
        spark,
        f"CREATE TABLE like_tgt LIKE like_src "
        f"LOCATION '{tmp_path / 'like_tgt'}'",
    )
    assert res["created"] == 1 and res["numOutputRows"] == 0
    t = sqldml.resolve_table(spark, "like_tgt")
    assert t.schema == src.schema
    assert t._partition_columns() == ["day"]
    assert t.properties().get("k") == "v"
    # the COMMENT stays on the source, data is never copied
    assert "comment" not in t.properties()
    assert t.to_df().count() == 0
    # the new table is fully writable with the copied layout
    t.append(spark.createDataFrame([Row(day="d2", id=9)]))
    assert t.to_df().count() == 1
    with pytest.raises(ValueError, match="already exists"):
        sqldml.run_dml(
            spark,
            f"CREATE TABLE like2 LIKE like_src "
            f"LOCATION '{tmp_path / 'like_tgt'}'",
        )


def test_column_defaults(spark, tmp_path):
    run_statement(
        spark,
        "CREATE TABLE def_t (id INT, status STRING DEFAULT 'active', "
        "score DOUBLE DEFAULT 1.5 COMMENT 'scored') "
        f"LOCATION '{tmp_path / 'def_t'}'",
    )
    t = sqldml.resolve_table(spark, "def_t")
    assert t.schema["status"].metadata["CURRENT_DEFAULT"] == "'active'"
    assert t.schema["score"].metadata["CURRENT_DEFAULT"] == "1.5"
    assert t.schema["score"].metadata["comment"] == "scored"

    # omitted columns take the default; explicit values win
    run_statement(spark, "INSERT INTO def_t (id) VALUES (1)")
    run_statement(
        spark, "INSERT INTO def_t (id, status) VALUES (2, 'archived')"
    )
    got = {
        (r["id"], r["status"], r["score"]) for r in t.to_df().collect()
    }
    assert got == {(1, "active", 1.5), (2, "archived", 1.5)}

    # SET DEFAULT applies to future writes only; DROP reverts to NULL
    sqldml.run_dml(
        spark, "ALTER TABLE def_t ALTER COLUMN status SET DEFAULT 'new'"
    )
    run_statement(spark, "INSERT INTO def_t (id) VALUES (3)")
    sqldml.run_dml(spark, "ALTER TABLE def_t ALTER COLUMN score DROP DEFAULT")
    run_statement(spark, "INSERT INTO def_t (id) VALUES (4)")
    got = {
        (r["id"], r["status"], r["score"]) for r in t.to_df().collect()
    }
    assert (3, "new", 1.5) in got and (4, "new", None) in got
    # existing rows untouched by the redefinition
    assert (1, "active", 1.5) in got

    # a default that does not analyze refuses at DDL time, not at the
    # next INSERT
    with pytest.raises(Exception):
        sqldml.run_dml(
            spark,
            "ALTER TABLE def_t ALTER COLUMN status SET DEFAULT no_such_fn(1)",
        )


def test_replace_where_atomic_partition_reload(spark, tmp_path):
    """replaceWhere: one commit swaps the predicate's rows for the
    incoming frame. A partition-complete predicate drops whole files
    by log action alone (no old bytes read)."""
    rows = (
        [Row(day="d1", id=i) for i in range(3)]
        + [Row(day="d2", id=i) for i in range(3, 6)]
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "rw_t"),
        df=spark.createDataFrame(rows),
        format="delta",
        partition_by=["day"],
        properties={"delta.enableChangeDataFeed": "true"},
    )
    sqldml.register_table(spark, "rw_t", t)
    v0 = t._log.latest_version(t.root)

    res = t.replace_where(
        spark.createDataFrame(
            [Row(day="d1", id=10), Row(day="d1", id=11)]
        ),
        "day = 'd1'",
    )
    # whole-partition drop: files removed by log action, none rewritten
    assert res["numWholeFilesRemoved"] == res["numRemovedFiles"] >= 1
    assert res["numDeletedRows"] == 3 and res["numOutputRows"] == 2
    # exactly ONE commit
    assert t._log.latest_version(t.root) == v0 + 1
    assert {
        (r["day"], r["id"]) for r in t.to_df().collect()
    } == {("d1", 10), ("d1", 11), ("d2", 3), ("d2", 4), ("d2", 5)}
    # time travel shows the pre-reload snapshot
    assert t.to_df(version=v0).count() == 6
    # the change feed records the swap
    ch = {
        (r["_change_type"], r["id"])
        for r in t.read_changes(v0 + 1).collect()
    }
    assert ch == {
        ("delete", 0), ("delete", 1), ("delete", 2),
        ("insert", 10), ("insert", 11),
    }

    # constraint check: incoming rows outside the predicate refuse
    with pytest.raises(ValueError, match="do not all satisfy"):
        t.replace_where(
            spark.createDataFrame([Row(day="d9", id=1)]), "day = 'd1'"
        )
    # boundary (non-partition) predicate: copy-on-write keeps the rest
    res2 = t.replace_where(
        spark.createDataFrame([Row(day="d2", id=30)]),
        "day = 'd2' AND id >= 4",
    )
    assert res2["numDeletedRows"] == 2 and res2["numOutputRows"] == 1
    assert {
        r["id"] for r in t.to_df().filter("day = 'd2'").collect()
    } == {3, 30}


def test_insert_replace_where_sql(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "rw_sql"),
        df=spark.createDataFrame(
            [Row(day="d1", id=1), Row(day="d2", id=2)]
        ),
        format="delta",
        partition_by=["day"],
    )
    sqldml.register_table(spark, "rw_sql", t)
    res = run_statement(
        spark,
        "INSERT INTO rw_sql REPLACE WHERE day = 'd1' "
        "SELECT 'd1' AS day, 99 AS id",
    ).collect()[0]
    assert res["numOutputRows"] == 1 and res["numDeletedRows"] == 1
    assert {
        (r["day"], r["id"]) for r in t.to_df().collect()
    } == {("d1", 99), ("d2", 2)}
    # VALUES body works too; idempotent re-run converges
    for _ in range(2):
        run_statement(
            spark,
            "INSERT INTO rw_sql REPLACE WHERE day = 'd2' "
            "VALUES ('d2', 7)",
        )
    assert {
        (r["day"], r["id"]) for r in t.to_df().collect()
    } == {("d1", 99), ("d2", 7)}


def test_default_combined_with_not_null(spark, tmp_path):
    """`DEFAULT expr NOT NULL` (either order): the default expression
    must stop at the clause keyword — the constraint lands AND the
    default applies."""
    run_statement(
        spark,
        "CREATE TABLE dnn_t (id INT, status STRING DEFAULT 'new' NOT NULL, "
        "kind STRING NOT NULL DEFAULT 'x') "
        f"LOCATION '{tmp_path / 'dnn_t'}'",
    )
    t = sqldml.resolve_table(spark, "dnn_t")
    assert t.schema["status"].metadata["CURRENT_DEFAULT"] == "'new'"
    assert t.schema["status"].nullable is False
    assert t.schema["status"].metadata.get("engine.notNull") is True
    assert t.schema["kind"].metadata["CURRENT_DEFAULT"] == "'x'"
    assert t.schema["kind"].nullable is False
    # omitted NOT NULL column takes its default and passes the check
    run_statement(spark, "INSERT INTO dnn_t (id) VALUES (1)")
    got = t.to_df().collect()[0]
    assert (got["status"], got["kind"]) == ("new", "x")
    # an explicit NULL still refuses
    with pytest.raises(ValueError, match="notnull__status"):
        run_statement(spark, "INSERT INTO dnn_t VALUES (2, NULL, 'y')")


def test_replace_where_identity_obligations(spark, tmp_path):
    """replaceWhere honors the append path's identity contract:
    omitted column -> generated values past the watermark; GENERATED
    ALWAYS refuses explicit values; the watermark advances so later
    appends never duplicate."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    meta = {
        "delta.identity.start": 100,
        "delta.identity.step": 10,
        "delta.identity.allowExplicitInsert": False,
    }
    t = LakeTable.create(
        spark,
        str(tmp_path / "rw_ident"),
        schema=StructType(
            [
                StructField("uid", LongType(), True, meta),
                StructField("day", StringType(), True),
            ]
        ),
        format="delta",
    )
    t.append(spark.createDataFrame([Row(day="d1"), Row(day="d2")]))
    hwm0 = int(t.schema["uid"].metadata["delta.identity.highWaterMark"])

    res = t.replace_where(
        spark.createDataFrame([Row(day="d1"), Row(day="d1")]),
        "day = 'd1'",
    )
    assert res["numOutputRows"] == 2
    uids = {r["uid"] for r in t.to_df().collect()}
    assert None not in uids and len(uids) == 3
    assert all(u > hwm0 or u <= hwm0 for u in uids)  # all generated
    hwm1 = int(t.schema["uid"].metadata["delta.identity.highWaterMark"])
    assert hwm1 == max(uids)
    # a later append generates ABOVE the replaceWhere rows
    t.append(spark.createDataFrame([Row(day="d3")]))
    uids2 = {r["uid"] for r in t.to_df().collect()}
    assert len(uids2) == 4  # no duplicate identity values
    # GENERATED ALWAYS refuses explicit values on this path too
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.replace_where(
            spark.createDataFrame([Row(uid=999, day="d1")]), "day = 'd1'"
        )


def test_replace_where_generated_column_cdf_agrees(spark, tmp_path):
    """Generated columns recompute ONCE and the change feed matches
    the table (no raw-frame divergence)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("id", LongType(), True),
            StructField("day", StringType(), True),
            StructField(
                "id2",
                LongType(),
                True,
                {"delta.generationExpression": "id * 2"},
            ),
        ]
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "rw_gen"),
        schema=schema,
        format="delta",
        properties={"delta.enableChangeDataFeed": "true"},
    )
    t.append(spark.createDataFrame([Row(id=1, day="d1")]))
    v0 = t._log.latest_version(t.root)
    t.replace_where(
        spark.createDataFrame([Row(id=5, day="d1")]), "day = 'd1'"
    )
    assert {(r["id"], r["id2"]) for r in t.to_df().collect()} == {(5, 10)}
    ins = [
        r
        for r in t.read_changes(v0 + 1).collect()
        if r["_change_type"] == "insert"
    ]
    assert [(r["id"], r["id2"]) for r in ins] == [(5, 10)]


def test_insert_overwrite_partition_static(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "iop"),
        df=spark.createDataFrame(
            [Row(day="d1", id=1), Row(day="d1", id=2), Row(day="d2", id=3)]
        ),
        format="delta",
        partition_by=["day"],
    )
    sqldml.register_table(spark, "iop", t)
    res = run_statement(
        spark,
        "INSERT OVERWRITE iop PARTITION (day = 'd1') VALUES (10), (11)",
    ).collect()[0]
    assert res["numOutputRows"] == 2 and res["numDeletedRows"] == 2
    assert {
        (r["day"], r["id"]) for r in t.to_df().collect()
    } == {("d1", 10), ("d1", 11), ("d2", 3)}

    # INSERT INTO ... PARTITION appends with the pinned value
    run_statement(spark, "INSERT INTO iop PARTITION (day = 'd2') VALUES (9)")
    assert {
        r["id"] for r in t.to_df().filter("day = 'd2'").collect()
    } == {3, 9}

    # dynamic spec: the incoming frame's own distinct day values
    # decide which partitions swap (query columns in table order)
    res = run_statement(
        spark,
        "INSERT OVERWRITE iop PARTITION (day) "
        "SELECT 'd2', 77 UNION ALL SELECT 'd9', 88",
    ).collect()[0]
    assert res["numDynamicPartitions"] == 2
    assert {
        (r["day"], r["id"]) for r in t.to_df().collect()
    } == {("d1", 10), ("d1", 11), ("d2", 77), ("d9", 88)}


def test_insert_overwrite_partition_dynamic(spark, tmp_path):
    """Spark's partitionOverwriteMode=dynamic semantics: ONE commit
    swaps exactly the partitions present in the incoming frame;
    untouched partitions survive; the swap is metadata-only per
    partition (whole files drop by log action); CDF stages
    delete+insert; empty source touches nothing; static keys must
    precede dynamic ones."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "dyn"),
        df=spark.createDataFrame(
            [
                Row(day="d1", region="eu", id=1),
                Row(day="d1", region="us", id=2),
                Row(day="d2", region="eu", id=3),
            ]
        ),
        format="delta",
        partition_by=["day", "region"],
        properties={"delta.enableChangeDataFeed": "true"},
    )
    sqldml.register_table(spark, "dyn", t)
    v0 = t._log.latest_version(t.root)
    res = run_statement(
        spark,
        "INSERT OVERWRITE dyn PARTITION (day, region) "
        "SELECT 'd1', 'eu', 10 UNION ALL SELECT 'd3', 'ap', 30",
    ).collect()[0]
    assert res["numDynamicPartitions"] == 2
    assert res["numOutputRows"] == 2
    # (d1, eu) swapped, (d3, ap) created; (d1, us) and (d2, eu) survive
    assert {
        (r["day"], r["region"], r["id"]) for r in t.to_df().collect()
    } == {
        ("d1", "eu", 10),
        ("d1", "us", 2),
        ("d2", "eu", 3),
        ("d3", "ap", 30),
    }
    # the replaced partition dropped whole by stats (metadata-only)
    assert res["numWholeFilesRemoved"] >= 1
    # CDF: delete of the old (d1, eu) row, inserts of the new rows
    ch = t.read_changes(v0 + 1).collect()
    assert {
        (r["_change_type"], r["day"], r["region"], r["id"]) for r in ch
    } == {
        ("delete", "d1", "eu", 1),
        ("insert", "d1", "eu", 10),
        ("insert", "d3", "ap", 30),
    }
    # ONE commit for the whole dynamic swap
    assert t._log.latest_version(t.root) == v0 + 1

    # mixed static + dynamic: day pinned, region from the query
    res = run_statement(
        spark,
        "INSERT OVERWRITE dyn PARTITION (day = 'd1', region) "
        "SELECT 'us', 20",
    ).collect()[0]
    assert res["numDynamicPartitions"] == 1
    assert {
        (r["day"], r["region"], r["id"])
        for r in t.to_df().filter("day = 'd1'").collect()
    } == {("d1", "eu", 10), ("d1", "us", 20)}

    # empty source: nothing swaps, nothing lands
    res = run_statement(
        spark,
        "INSERT OVERWRITE dyn PARTITION (day, region) "
        "SELECT 'dx', 'xx', 0 WHERE 1 = 0",
    ).collect()[0]
    assert res["numDynamicPartitions"] == 0
    assert t.to_df().count() == 4

    # grammar: static after dynamic refuses
    with pytest.raises(ValueError, match="static.*precede"):
        run_statement(
            spark,
            "INSERT OVERWRITE dyn PARTITION (day, region = 'eu') "
            "SELECT 'd1', 1",
        )
    # a dynamic column must be a partition column
    with pytest.raises(ValueError, match="not a partition column"):
        run_statement(
            spark,
            "INSERT OVERWRITE dyn PARTITION (id) SELECT 'd1', 'eu', 1",
        )
    # a DYNAMIC spec must cover every partition column — an omitted
    # one would silently delete sibling sub-partitions
    with pytest.raises(ValueError, match="omits partition columns"):
        run_statement(
            spark,
            "INSERT OVERWRITE dyn PARTITION (day) SELECT 'd1', 'eu', 1",
        )


def test_insert_overwrite_dynamic_typed_partition_values(
    spark, tmp_path
):
    """Dynamic overwrite over non-string partition columns: integer
    values keep the stats fast path; timestamp values (whose hive
    serialization trims trailing fraction zeros — a padded literal
    would lexically mis-compare and wrongly PRUNE) render as typed
    TIMESTAMP literals and still replace exactly the right partition;
    string values with quotes/backslashes escape correctly."""
    from datetime import datetime

    t = LakeTable.create(
        spark,
        str(tmp_path / "dynty"),
        df=spark.createDataFrame(
            [
                Row(hr=datetime(2024, 1, 1, 0, 0, 0, 123000), n=5, id=1),
                Row(hr=datetime(2024, 1, 1, 1, 0, 0), n=7, id=2),
            ]
        ),
        format="delta",
        partition_by=["hr", "n"],
    )
    sqldml.register_table(spark, "dynty", t)
    res = run_statement(
        spark,
        "INSERT OVERWRITE dynty PARTITION (hr, n) "
        "SELECT TIMESTAMP '2024-01-01 00:00:00.123', 5, 10",
    ).collect()[0]
    assert res["numDynamicPartitions"] == 1
    # the old (hr=.123, n=5) row is GONE (no silent duplicate), the
    # untouched (hr=1:00, n=7) partition survives
    assert {
        (r["hr"], r["n"], r["id"]) for r in t.to_df().collect()
    } == {
        (datetime(2024, 1, 1, 0, 0, 0, 123000), 5, 10),
        (datetime(2024, 1, 1, 1, 0, 0), 7, 2),
    }

    # string values with quotes and backslashes round-trip
    t2 = LakeTable.create(
        spark,
        str(tmp_path / "dynesc"),
        df=spark.createDataFrame(
            [Row(day="o'hare", id=1), Row(day="a\\b", id=2)]
        ),
        format="delta",
        partition_by=["day"],
    )
    sqldml.register_table(spark, "dynesc", t2)
    res = run_statement(
        spark,
        "INSERT OVERWRITE dynesc PARTITION (day) "
        "SELECT 'o''hare', 9 UNION ALL SELECT 'a\\\\b', 8",
    ).collect()[0]
    assert res["numDynamicPartitions"] == 2
    assert {
        (r["day"], r["id"]) for r in t2.to_df().collect()
    } == {("o'hare", 9), ("a\\b", 8)}


def test_insert_values_default_keyword(spark, tmp_path):
    run_statement(
        spark,
        "CREATE TABLE dkw (id INT, status STRING DEFAULT 'active', "
        "n INT) "
        f"LOCATION '{tmp_path / 'dkw'}'",
    )
    t = sqldml.resolve_table(spark, "dkw")
    run_statement(
        spark,
        "INSERT INTO dkw VALUES (1, DEFAULT, 5), (2, 'manual', DEFAULT)",
    )
    got = {
        (r["id"], r["status"], r["n"]) for r in t.to_df().collect()
    }
    # DEFAULT takes the declared default; a column without one -> NULL
    assert got == {(1, "active", 5), (2, "manual", None)}
    # a string literal containing the word stays a literal
    run_statement(spark, "INSERT INTO dkw VALUES (3, 'DEFAULT', 1)")
    assert (3, "DEFAULT", 1) in {
        (r["id"], r["status"], r["n"]) for r in t.to_df().collect()
    }


def test_insert_partition_spec_validation(spark, tmp_path):
    """PARTITION specs validate like Spark: non-partition columns,
    unpartitioned tables, and column-list overlaps refuse; case
    mismatches resolve to the canonical spelling; NULL pins overwrite
    the null partition via null-safe equality."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "psv"),
        df=spark.createDataFrame(
            [Row(day="d1", id=1), Row(day=None, id=2)]
        ),
        format="delta",
        partition_by=["day"],
    )
    sqldml.register_table(spark, "psv", t)
    with pytest.raises(ValueError, match="not a partition column"):
        run_statement(
            spark, "INSERT OVERWRITE psv PARTITION (id = 5) VALUES ('x')"
        )
    with pytest.raises(ValueError, match="both the PARTITION spec"):
        run_statement(
            spark,
            "INSERT INTO psv PARTITION (day = 'd1') (day, id) "
            "VALUES ('d9', 1)",
        )
    flat = LakeTable.create(
        spark, str(tmp_path / "psv_flat"), df=spark.createDataFrame([Row(id=1)])
    )
    sqldml.register_table(spark, "psv_flat", flat)
    with pytest.raises(ValueError, match="unpartitioned"):
        run_statement(
            spark, "INSERT OVERWRITE psv_flat PARTITION (id = 1) VALUES (2)"
        )

    # case-insensitive resolution to the canonical column spelling
    run_statement(
        spark, "INSERT OVERWRITE psv PARTITION (DAY = 'd1') VALUES (10)"
    )
    assert {
        (r["day"], r["id"]) for r in t.to_df().collect()
    } == {("d1", 10), (None, 2)}

    # NULL pin swaps the null partition, leaves the rest
    run_statement(
        spark, "INSERT OVERWRITE psv PARTITION (day = NULL) VALUES (20)"
    )
    assert {
        (r["day"], r["id"]) for r in t.to_df().collect()
    } == {("d1", 10), (None, 20)}


def test_optimize_full_rejects_zorder_combo(spark, tmp_path):
    from databricks_delta_lake_project_spark.tables import sqldml

    t = LakeTable.create(
        spark, str(tmp_path / "ofz"), df=spark.createDataFrame([Row(k=1)])
    )
    sqldml.register_table(spark, "ofz", t)
    with pytest.raises(ValueError, match="cannot combine with ZORDER"):
        run_statement(spark, "OPTIMIZE ofz FULL ZORDER BY (k)")
    # unbalanced parens now surface as a parse error, not StopIteration
    with pytest.raises(ValueError, match="unbalanced|cannot parse"):
        run_statement(spark, "INSERT INTO ofz PARTITION (k='1' VALUES (1)")


def test_fsck_repair_table(spark, tmp_path):
    """FSCK drops active entries whose files vanished from storage so
    reads stop dying with FileNotFound; DRY RUN reports only."""
    import os

    t = LakeTable.create(
        spark,
        str(tmp_path / "fsck_t"),
        # repartitionByRange, not repartition: round-robin placement of
        # 3 rows depends on the session's core count, and the test needs
        # every file non-empty so removing one leaves exactly 2 rows
        df=spark.createDataFrame(
            [Row(id=1), Row(id=2), Row(id=3)]
        ).repartitionByRange(3, "id"),
        format="delta",
    )
    sqldml.register_table(spark, "fsck_t", t)
    victim = t._files()[0]
    os.remove(f"{t.root}/{victim['path']}")
    with pytest.raises(Exception):
        t.to_df().collect()  # broken table

    dry = sqldml.run_dml(spark, "FSCK REPAIR TABLE fsck_t DRY RUN")
    assert dry["numMissingFiles"] == 1 and dry["numRemovedFiles"] == 0
    with pytest.raises(Exception):
        t.to_df().collect()  # DRY RUN committed nothing

    res = sqldml.run_dml(spark, "FSCK REPAIR TABLE fsck_t")
    assert res["numRemovedFiles"] == 1
    assert t.to_df().count() == 2  # readable again, surviving rows
    # idempotent; healthy table no-ops without a commit
    v = t._log.latest_version(t.root)
    assert sqldml.run_dml(spark, "FSCK REPAIR TABLE fsck_t")[
        "numRemovedFiles"
    ] == 0
    assert t._log.latest_version(t.root) == v


def test_describe_extended_surfaces_new_metadata(spark, tmp_path):
    run_statement(
        spark,
        "CREATE TABLE dext (id INT) COMMENT 'doc table' "
        f"CLUSTER BY (id) LOCATION '{tmp_path / 'dext'}'",
    )
    sqldml.run_dml(
        spark, "ALTER TABLE dext ADD CONSTRAINT id_pos CHECK (id > 0)"
    )
    rows = {
        r["col_name"]: r["data_type"]
        for r in run_statement(spark, "DESCRIBE EXTENDED dext").collect()
    }
    assert rows.get("Comment") == "doc table"
    assert rows.get("id_pos") == "id > 0"
    assert rows.get("Clustering Columns") == "[id]"


def test_type_widening(spark, tmp_path):
    """ALTER COLUMN c TYPE <wider>: metadata-only — no file rewritten,
    old parquet upcasts at read time; gated on the public property;
    narrowing and lossy changes refuse."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "tw"),
        df=spark.sql(
            "SELECT cast(id AS int) AS i, cast(id AS float) AS f, "
            "cast(id AS decimal(5,2)) AS d FROM range(3)"
        ),
        format="delta",
    )
    sqldml.register_table(spark, "tw", t)
    with pytest.raises(ValueError, match="widening is disabled"):
        sqldml.run_dml(spark, "ALTER TABLE tw ALTER COLUMN i TYPE BIGINT")
    sqldml.run_dml(
        spark,
        "ALTER TABLE tw SET TBLPROPERTIES "
        "('delta.enableTypeWidening' = 'true')",
    )
    files_before = {e["path"] for e in t._files()}
    sqldml.run_dml(spark, "ALTER TABLE tw ALTER COLUMN i TYPE BIGINT")
    sqldml.run_dml(spark, "ALTER TABLE tw ALTER COLUMN f TYPE DOUBLE")
    sqldml.run_dml(
        spark, "ALTER TABLE tw ALTER COLUMN d SET DATA TYPE DECIMAL(10,4)"
    )
    # metadata-only: same files, new logical types, data intact
    assert {e["path"] for e in t._files()} == files_before
    assert dict((f.name, f.dataType.simpleString()) for f in t.schema.fields) == {
        "i": "bigint", "f": "double", "d": "decimal(10,4)"
    }
    got = sorted((r["i"], r["f"]) for r in t.to_df().collect())
    assert got == [(0, 0.0), (1, 1.0), (2, 2.0)]
    # new writes land under the widened type and mix with old files
    t.append(spark.sql(
        "SELECT cast(5000000000 AS bigint) AS i, cast(1.5 AS double) AS f, "
        "cast(1.5 AS decimal(10,4)) AS d"
    ))
    assert t.to_df().count() == 4
    assert max(r["i"] for r in t.to_df().collect()) == 5_000_000_000
    # unsafe changes refuse
    for bad in ("ALTER COLUMN i TYPE INT",       # narrowing
                "ALTER COLUMN f TYPE FLOAT",     # same/narrow
                "ALTER COLUMN d TYPE DECIMAL(6,1)",  # scale shrink
                "ALTER COLUMN i TYPE STRING"):   # lossy
        with pytest.raises(ValueError, match="safe widening"):
            sqldml.run_dml(spark, f"ALTER TABLE tw {bad}")


def test_clone_carries_constraints_defaults_notnull(spark, tmp_path):
    """SHALLOW CLONE composes with the r13 DDL tail: constraints ride
    the cloned properties, defaults and NOT NULL ride the cloned
    schema — the clone enforces them on ITS writes."""
    run_statement(
        spark,
        "CREATE TABLE ccd_src (id INT NOT NULL, "
        "status STRING DEFAULT 'fresh') "
        f"LOCATION '{tmp_path / 'ccd_src'}'",
    )
    run_statement(spark, "INSERT INTO ccd_src (id) VALUES (1)")
    sqldml.run_dml(
        spark, "ALTER TABLE ccd_src ADD CONSTRAINT id_pos CHECK (id > 0)"
    )
    sqldml.run_dml(
        spark,
        f"CREATE TABLE ccd_cl SHALLOW CLONE ccd_src "
        f"LOCATION '{tmp_path / 'ccd_cl'}'",
    )
    cl = sqldml.resolve_table(spark, "ccd_cl")
    assert cl.constraints() == {"id_pos": "id > 0"}
    with pytest.raises(ValueError, match="id_pos"):
        run_statement(spark, "INSERT INTO ccd_cl VALUES (-1, 'x')")
    with pytest.raises(ValueError, match="notnull__id"):
        run_statement(spark, "INSERT INTO ccd_cl VALUES (NULL, 'x')")
    run_statement(spark, "INSERT INTO ccd_cl (id) VALUES (2)")
    assert {
        (r["id"], r["status"]) for r in cl.to_df().collect()
    } == {(1, "fresh"), (2, "fresh")}
    # source untouched by the clone's write
    src = sqldml.resolve_table(spark, "ccd_src")
    assert src.to_df().count() == 1


def test_reorg_purge_on_shallow_clone(spark, tmp_path):
    """Clone-local DV deletes purge on the CLONE without touching the
    source's bytes (write isolation holds through REORG)."""
    src = LakeTable.create(
        spark,
        str(tmp_path / "rp_src"),
        df=spark.createDataFrame([Row(id=i) for i in range(6)]).coalesce(1),
        format="delta",
        properties={"delta.enableDeletionVectors": "true"},
    )
    sqldml.register_table(spark, "rp_src", src)
    sqldml.run_dml(
        spark,
        f"CREATE TABLE rp_cl SHALLOW CLONE rp_src "
        f"LOCATION '{tmp_path / 'rp_cl'}'",
    )
    cl = sqldml.resolve_table(spark, "rp_cl")
    r = cl.delete("id = 2")
    assert r["strategy"] == "dv"  # clone-local DV
    res = cl.reorg_purge()
    assert res["numFilesRemoved"] == 1 and res["numRowsRewritten"] == 5
    assert not any(e.get("deletionVector") for e in cl._files())
    assert sorted(x["id"] for x in cl.to_df().collect()) == [0, 1, 3, 4, 5]
    # the source still reads all six rows from its own untouched file
    assert sorted(x["id"] for x in src.to_df().collect()) == list(range(6))


def test_generate_symlink_manifest(spark, tmp_path):
    """GENERATE symlink_format_manifest: per-partition manifest files
    list the CURRENT snapshot's data-file URIs (a symlink reader sees
    exactly the table's rows); regeneration after DML replaces stale
    manifests wholesale; live deletion vectors refuse loudly; unknown
    modes refuse."""
    from pathlib import Path

    t = LakeTable.create(
        spark,
        str(tmp_path / "gsm"),
        df=spark.createDataFrame(
            [Row(day="d1", id=1), Row(day="d2", id=2)]
        ),
        format="delta",
        partition_by=["day"],
    )
    sqldml.register_table(spark, "gsm", t)
    res = run_statement(
        spark, "GENERATE symlink_format_manifest FOR TABLE gsm"
    ).collect()[0]
    assert res["numManifestFiles"] == 2
    mdir = Path(t.root) / "_symlink_format_manifest"
    manifests = sorted(mdir.rglob("manifest"))
    assert [m.parent.name for m in manifests] == ["day=d1", "day=d2"]
    # the listed URIs read back to exactly the table's rows
    from urllib.parse import unquote, urlparse

    def _paths(lines):
        return [unquote(urlparse(u).path) for u in lines if u]

    uris = [
        u for m in manifests for u in m.read_text().splitlines() if u
    ]
    assert {
        (r["day"], r["id"])
        for r in spark.read.parquet(*_paths(uris))
        .withColumn(
            "day",
            F.regexp_extract(F.input_file_name(), r"day=([^/]+)", 1),
        )
        .collect()
    } == {("d1", 1), ("d2", 2)}
    # DML then regenerate: the swapped partition's manifest reflects
    # the NEW file, the untouched partition's survives
    run_statement(
        spark,
        "INSERT OVERWRITE gsm PARTITION (day = 'd1') VALUES (10)",
    )
    run_statement(
        spark, "GENERATE symlink_format_manifest FOR TABLE gsm"
    )
    d1 = (mdir / "day=d1" / "manifest").read_text().splitlines()
    assert {
        r["id"] for r in spark.read.parquet(*_paths(d1)).collect()
    } == {10}
    # live DVs refuse (a manifest reader would resurrect the rows)
    t2 = LakeTable.create(
        spark,
        str(tmp_path / "gsmdv"),
        df=spark.createDataFrame(
            [Row(id=i) for i in range(10)]
        ).coalesce(1),
        format="delta",
        properties={"delta.enableDeletionVectors": "true"},
    )
    sqldml.register_table(spark, "gsmdv", t2)
    t2.delete("id = 3", strategy="dv")
    with pytest.raises(NotImplementedError, match="deletion vectors"):
        run_statement(
            spark, "GENERATE symlink_format_manifest FOR TABLE gsmdv"
        )
    with pytest.raises(ValueError, match="unknown mode"):
        run_statement(spark, "GENERATE foo FOR TABLE gsm")
