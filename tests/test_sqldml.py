"""SQL-string DML entry path: the reference's own SQL MERGE scripts
(``/root/reference/src/utils/delta_lake_features.py:268-323``) must
run VERBATIM against engine tables, routed through
MergeBuilder/update/delete/append. Covers MERGE update-all (pattern
1), conditional update (pattern 2), single-MERGE CDC with DELETE
(pattern 3), plus UPDATE / DELETE FROM / INSERT statements and the
loud refusal for NOT MATCHED BY SOURCE.
"""

from __future__ import annotations

import pytest

from databricks_delta_lake_project_spark.queries.sqlpack import run_statement
from databricks_delta_lake_project_spark.tables import LakeTable, sqldml


def _mk_customers(spark, tmp_path, name="customers"):
    df = spark.createDataFrame(
        [
            (1, "a@x.com", "BRONZE", "2024-01-01"),
            (2, "b@x.com", "SILVER", "2024-01-05"),
            (3, "c@x.com", "GOLD", "2024-01-03"),
        ],
        "customer_id int, email string, loyalty_tier string, updated_date string",
    )
    t = LakeTable.create(spark, str(tmp_path / name), df=df)
    sqldml.register_table(spark, name, t)
    return t


def _rows(t):
    return {
        r["customer_id"]: (r["email"], r["loyalty_tier"], r["updated_date"])
        for r in t.to_df().collect()
    }


def test_merge_pattern1_update_all_insert_all(spark, tmp_path):
    t = _mk_customers(spark, tmp_path)
    spark.createDataFrame(
        [
            (2, "b2@x.com", "GOLD", "2024-02-01"),
            (9, "i@x.com", "BRONZE", "2024-02-02"),
        ],
        "customer_id int, email string, loyalty_tier string, updated_date string",
    ).createOrReplaceTempView("source_data")
    # reference delta_lake_features.py:268-283 (pattern 1), verbatim
    res = run_statement(
        spark,
        """
        MERGE INTO customers AS target
        USING source_data AS source
        ON target.customer_id = source.customer_id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *;
        """,
    ).collect()[0]
    assert res["numTargetRowsUpdated"] == 1
    assert res["numTargetRowsInserted"] == 1
    rows = _rows(t)
    assert rows[2] == ("b2@x.com", "GOLD", "2024-02-01")
    assert rows[9] == ("i@x.com", "BRONZE", "2024-02-02")
    assert rows[1] == ("a@x.com", "BRONZE", "2024-01-01")


def test_merge_pattern2_conditional_update(spark, tmp_path):
    t = _mk_customers(spark, tmp_path)
    spark.createDataFrame(
        [
            (1, "new1@x.com", "GOLD", "2024-03-01"),  # newer -> applied
            (3, "old3@x.com", "BRONZE", "2023-12-01"),  # older -> skipped
        ],
        "customer_id int, email string, loyalty_tier string, updated_date string",
    ).createOrReplaceTempView("source_data")
    # reference delta_lake_features.py:286-301 (pattern 2), verbatim
    run_statement(
        spark,
        """
        -- Only update if source is newer
        MERGE INTO customers AS target
        USING source_data AS source
        ON target.customer_id = source.customer_id
        WHEN MATCHED AND source.updated_date > target.updated_date
          THEN UPDATE SET
            target.email = source.email,
            target.loyalty_tier = source.loyalty_tier,
            target.updated_date = source.updated_date
        WHEN NOT MATCHED THEN INSERT *;
        """,
    )
    rows = _rows(t)
    assert rows[1] == ("new1@x.com", "GOLD", "2024-03-01")
    assert rows[3] == ("c@x.com", "GOLD", "2024-01-03")


def test_merge_pattern3_single_merge_cdc(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "keep"), (2, "to_delete"), (3, "to_update")],
        "id int, val string",
    )
    t = LakeTable.create(spark, str(tmp_path / "silver_table"), df=df)
    sqldml.register_table(spark, "silver_table", t)
    spark.createDataFrame(
        [
            (2, "x", "delete", 100),
            (3, "updated", "update", 100),
            (3, "stale", "update", 50),  # rn=2 -> ignored
            (4, "inserted", "insert", 100),
            (5, "ghost", "delete", 100),  # delete of absent row -> no-op
        ],
        "id int, val string, cdc_operation string, cdc_timestamp int",
    ).createOrReplaceTempView("bronze_cdc_table")
    # reference delta_lake_features.py:308-323 (pattern 3), verbatim
    res = run_statement(
        spark,
        """
        -- Handle all CDC operations in a single MERGE
        MERGE INTO silver_table AS target
        USING (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY cdc_timestamp DESC) as rn
            FROM bronze_cdc_table
        ) AS source
        ON target.id = source.id AND source.rn = 1
        WHEN MATCHED AND source.cdc_operation = 'delete'
          THEN DELETE
        WHEN MATCHED AND source.cdc_operation IN ('insert', 'update')
          THEN UPDATE SET *
        WHEN NOT MATCHED AND source.cdc_operation != 'delete'
          THEN INSERT *;
        """,
    ).collect()[0]
    assert res["numTargetRowsDeleted"] == 1
    assert res["numTargetRowsUpdated"] == 1
    final = {
        (r["id"], r["val"])
        for r in t.to_df().select("id", "val").collect()
    }
    # NOTE: faithful Delta MERGE semantics — the rn=2 source row fails
    # the ON condition, so it is NOT MATCHED and the INSERT clause
    # fires for it too (real Delta inserts the stale duplicate with
    # this reference pattern; deduplicating belongs in the USING
    # subquery's WHERE rn = 1, not the ON clause)
    assert final == {
        (1, "keep"),
        (3, "updated"),
        (3, "stale"),
        (4, "inserted"),
    }


def test_merge_update_set_star_only_schema_cols(spark, tmp_path):
    # UPDATE SET * with source carrying EXTRA columns (rn) must still
    # work: only target-schema columns are set
    df = spark.createDataFrame([(1, "a")], "id int, val string")
    t = LakeTable.create(spark, str(tmp_path / "tbl"), df=df)
    sqldml.register_table(spark, "tbl", t)
    spark.createDataFrame(
        [(1, "b", 7)], "id int, val string, extra int"
    ).createOrReplaceTempView("src_extra")
    run_statement(
        spark,
        "MERGE INTO tbl t2 USING src_extra s2 ON t2.id = s2.id "
        "WHEN MATCHED THEN UPDATE SET *",
    )
    assert t.to_df().collect()[0]["val"] == "b"


def test_merge_insert_explicit_columns_with_condition(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 10)], "id int, val string, score int")
    t = LakeTable.create(spark, str(tmp_path / "tbl2"), df=df)
    sqldml.register_table(spark, "tbl2", t)
    spark.createDataFrame(
        [(2, "b"), (3, "skip")], "id int, val string"
    ).createOrReplaceTempView("src_cols")
    run_statement(
        spark,
        """
        MERGE INTO tbl2 AS target USING src_cols AS source
        ON target.id = source.id
        WHEN NOT MATCHED AND source.val != 'skip'
          THEN INSERT (id, val, score) VALUES (source.id, upper(source.val), 0)
        """,
    )
    rows = {r["id"]: (r["val"], r["score"]) for r in t.to_df().collect()}
    assert rows == {1: ("a", 10), 2: ("B", 0)}


def test_merge_three_part_name_resolves_by_suffix(spark, tmp_path):
    t = _mk_customers(spark, tmp_path, name="customers")
    spark.createDataFrame(
        [(1, "z@x.com", "GOLD", "2099-01-01")],
        "customer_id int, email string, loyalty_tier string, updated_date string",
    ).createOrReplaceTempView("source_data")
    # scripts written against the reference's 3-part catalog names
    # (customer_360_catalog.silver.customers) resolve by unique suffix
    run_statement(
        spark,
        """
        MERGE INTO customer_360_catalog.silver.customers AS target
        USING source_data AS source
        ON target.customer_id = source.customer_id
        WHEN MATCHED THEN UPDATE SET *
        """,
    )
    assert _rows(t)[1][0] == "z@x.com"


def test_sql_update_statement(spark, tmp_path):
    t = _mk_customers(spark, tmp_path, name="cust_u")
    res = run_statement(
        spark,
        "UPDATE cust_u SET loyalty_tier = 'PLATINUM', email = upper(email) "
        "WHERE customer_id <= 2",
    ).collect()[0]
    assert res["numUpdatedRows"] == 2
    rows = _rows(t)
    assert rows[1] == ("A@X.COM", "PLATINUM", "2024-01-01")
    assert rows[3][1] == "GOLD"


def test_sql_delete_statement(spark, tmp_path):
    t = _mk_customers(spark, tmp_path, name="cust_d")
    run_statement(spark, "DELETE FROM cust_d WHERE loyalty_tier = 'GOLD'")
    assert set(_rows(t)) == {1, 2}
    # unconditional delete
    run_statement(spark, "DELETE FROM cust_d")
    assert t.to_df().count() == 0


def test_sql_insert_statements(spark, tmp_path):
    t = _mk_customers(spark, tmp_path, name="cust_i")
    run_statement(
        spark,
        "INSERT INTO cust_i VALUES (7, 'g@x.com', 'BRONZE', '2024-04-01')",
    )
    assert _rows(t)[7] == ("g@x.com", "BRONZE", "2024-04-01")
    # INSERT INTO ... SELECT with an explicit column list
    t.to_df().createOrReplaceTempView("cust_i_v")
    run_statement(
        spark,
        "INSERT INTO cust_i (customer_id, email, loyalty_tier, updated_date) "
        "SELECT customer_id + 100, email, 'COPY', updated_date FROM cust_i_v "
        "WHERE customer_id = 7",
    )
    assert _rows(t)[107][1] == "COPY"
    # INSERT OVERWRITE replaces the table contents
    run_statement(
        spark,
        "INSERT OVERWRITE cust_i VALUES (42, 'only@x.com', 'GOLD', '2024-05-01')",
    )
    assert set(_rows(t)) == {42}


def test_not_matched_by_source_sql(spark, tmp_path):
    """Sync-style MERGE: rows absent from the source are retired
    (DELETE) or flagged (UPDATE) via WHEN NOT MATCHED BY SOURCE."""
    t = _mk_customers(spark, tmp_path, name="cust_bs")
    spark.createDataFrame(
        [(1, "keep1@x.com", "GOLD", "2099-01-01")],
        "customer_id int, email string, loyalty_tier string, updated_date string",
    ).createOrReplaceTempView("src_bs")
    res = run_statement(
        spark,
        """
        MERGE INTO cust_bs AS target USING src_bs AS source
        ON target.customer_id = source.customer_id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY SOURCE AND target.loyalty_tier = 'GOLD'
          THEN DELETE
        WHEN NOT MATCHED BY SOURCE
          THEN UPDATE SET target.loyalty_tier = 'LAPSED'
        """,
    ).collect()[0]
    # id 1 matched-updated; id 3 (GOLD, not in source) deleted; id 2
    # (SILVER, not in source) falls through to the second clause
    assert res["numTargetRowsDeleted"] == 1
    assert res["numTargetRowsUpdated"] == 2
    rows = _rows(t)
    assert set(rows) == {1, 2}
    assert rows[1][0] == "keep1@x.com"
    assert rows[2][1] == "LAPSED"


def test_alias_collision_target_named_s(spark, tmp_path):
    # the user's aliases may BE the builder's canonical t/s, swapped
    t = _mk_customers(spark, tmp_path, name="cust_sw")
    spark.createDataFrame(
        [(1, "sw@x.com", "GOLD", "2099-01-01")],
        "customer_id int, email string, loyalty_tier string, updated_date string",
    ).createOrReplaceTempView("src_sw")
    run_statement(
        spark,
        "MERGE INTO cust_sw AS s USING src_sw AS t ON s.customer_id = t.customer_id "
        "WHEN MATCHED THEN UPDATE SET s.email = t.email",
    )
    assert _rows(t)[1][0] == "sw@x.com"


def test_alter_table_sql_forms(spark, tmp_path):
    from pyspark.sql import Row

    from databricks_delta_lake_project_spark.tables import LakeTable

    t = LakeTable.create(
        spark,
        str(tmp_path / "alter_t"),
        df=spark.createDataFrame([Row(a=1, b="x")]),
        format="delta",
        properties={"delta.columnMapping.mode": "name"},
    )
    sqldml.register_table(spark, "alter_t", t)
    run_statement(spark, "ALTER TABLE alter_t RENAME COLUMN b TO label")
    assert [f.name for f in t.schema.fields] == ["a", "label"]
    run_statement(spark, "ALTER TABLE alter_t DROP COLUMN label")
    assert [f.name for f in t.schema.fields] == ["a"]
    run_statement(
        spark,
        "ALTER TABLE alter_t SET TBLPROPERTIES "
        "('delta.enableChangeDataFeed' = 'true')",
    )
    assert t.properties()["delta.enableChangeDataFeed"] == "true"
    with pytest.raises(NotImplementedError, match="unsupported ALTER"):
        run_statement(spark, "ALTER TABLE alter_t SET LOCATION '/elsewhere'")


def test_maintenance_sql_statements(spark, tmp_path):
    """OPTIMIZE / VACUUM / RESTORE run as plain SQL statements, routed
    to the engine's maintenance ops."""
    from pyspark.sql import Row

    t = LakeTable.create(
        spark,
        str(tmp_path / "maint_t"),
        df=spark.createDataFrame([Row(a=i, b=i % 4) for i in range(100)]),
        format="delta",
    )
    for i in range(100, 104):
        t.append(spark.createDataFrame([Row(a=i, b=i % 4)]))
    sqldml.register_table(spark, "maint_t", t)

    res = run_statement(spark, "OPTIMIZE maint_t").collect()[0]
    assert res["numFilesAdded"] >= 1
    res = run_statement(
        spark, "OPTIMIZE maint_t ZORDER BY (a, b)"
    ).collect()[0]
    assert res["numFilesAdded"] >= 1

    v_before = t.version()
    run_statement(spark, "DELETE FROM maint_t WHERE a < 50")
    assert t.to_df().count() == 54
    res = run_statement(
        spark, f"RESTORE TABLE maint_t TO VERSION AS OF {v_before}"
    ).collect()[0]
    assert res["restoredVersion"] == v_before
    assert t.to_df().count() == 104

    res = run_statement(
        spark, "VACUUM maint_t RETAIN 0 HOURS DRY RUN"
    ).collect()[0]
    assert res["numDeletedFiles"] >= 1  # the pre-restore rewrite files
    # real vacuum removes them
    res2 = run_statement(spark, "VACUUM maint_t RETAIN 0 HOURS").collect()[0]
    assert res2["numDeletedFiles"] >= 1
    assert t.to_df().count() == 104


def test_describe_history_statement(spark, tmp_path):
    t = _mk_customers(spark, tmp_path, name="hist_t")
    run_statement(spark, "DELETE FROM hist_t WHERE customer_id = 1")
    h = run_statement(spark, "DESCRIBE HISTORY hist_t")
    ops = [r["operation"] for r in h.orderBy("version").collect()]
    assert ops == ["CREATE TABLE AS SELECT", "DELETE"]


def test_create_table_sql_schema_demo(spark, tmp_path):
    """Reference delta_lake_features.py:206-212 verbatim (modulo the
    catalog prefix resolving to a managed engine path)."""
    spark.conf.set("spark.engine.warehouse.dir", str(tmp_path / "wh"))
    res = run_statement(
        spark,
        """
        CREATE OR REPLACE TABLE customer_360_catalog.silver.schema_demo (
            id INT,
            name STRING,
            value DOUBLE
        ) USING DELTA
        """,
    ).collect()[0]
    assert res["created"] == 1
    # schema-on-write enforcement: matching append works, extra column
    # is rejected (the behavior the reference demo shows)
    run_statement(
        spark,
        "INSERT INTO schema_demo VALUES (1, 'Alice', 100.0)",
    )
    t = sqldml.resolve_table(spark, "schema_demo")
    assert t.to_df().count() == 1
    with pytest.raises(ValueError, match="unknown columns"):
        t.append(
            spark.createDataFrame(
                [(2, "Bob", 200.0, "extra")],
                "id int, name string, value double, new_col string",
            )
        )
    # IF NOT EXISTS: no-op on the existing table
    res2 = run_statement(
        spark,
        "CREATE TABLE IF NOT EXISTS customer_360_catalog.silver.schema_demo "
        "(id INT) USING DELTA",
    ).collect()[0]
    assert res2["created"] == 0
    assert t.to_df().count() == 1


def test_create_table_ctas_cluster_by_and_optimize(spark, tmp_path):
    """Liquid-clustering contract (performance_optimization.py:145-169):
    CLUSTER BY is declared on the table, a bare OPTIMIZE triggers it,
    ALTER TABLE ... CLUSTER BY re-declares without rewrite."""
    spark.conf.set("spark.engine.warehouse.dir", str(tmp_path / "wh2"))
    spark.range(4096).selectExpr(
        "id % 64 AS customer_id", "CAST(id / 64 AS LONG) AS txn_day",
        "id AS amount"
    ).createOrReplaceTempView("src_ctas")
    res = run_statement(
        spark,
        "CREATE OR REPLACE TABLE gold.clustered "
        "USING DELTA CLUSTER BY (customer_id, txn_day) "
        "AS SELECT * FROM src_ctas",
    ).collect()[0]
    assert res["numOutputRows"] == 4096
    t = sqldml.resolve_table(spark, "clustered")
    assert t.properties()["engine.clusterBy"] == "customer_id,txn_day"

    # bare OPTIMIZE picks up the declared clustering (at fixture scale
    # the scope compacts to one file, so pin the commit's zOrderBy
    # parameter — pruning quality itself is pinned at scale in
    # tests/test_read_skipping.py)
    run_statement(spark, "OPTIMIZE gold.clustered")
    params = t._log.read_commit(t.root, t.version())["operationParameters"]
    assert params.get("zOrderBy") == ["customer_id", "txn_day"]

    # re-declare clustering: metadata-only commit
    files_before = {e["path"] for e in t._files()}
    run_statement(spark, "ALTER TABLE gold.clustered CLUSTER BY (txn_day)")
    assert t.properties()["engine.clusterBy"] == "txn_day"
    assert {e["path"] for e in t._files()} == files_before


def test_registered_tables_queryable_by_name(spark, tmp_path):
    """A full SQL session: CREATE -> INSERT -> SELECT -> MERGE USING a
    registered table -> SELECT again, all by name."""
    spark.conf.set("spark.engine.warehouse.dir", str(tmp_path / "wh3"))
    run_statement(
        spark, "CREATE OR REPLACE TABLE sess.src_t (id INT, v INT) USING DELTA"
    )
    run_statement(
        spark, "CREATE OR REPLACE TABLE sess.dst_t (id INT, v INT) USING DELTA"
    )
    run_statement(spark, "INSERT INTO src_t VALUES (1, 10), (2, 20)")
    run_statement(spark, "INSERT INTO dst_t VALUES (2, 0), (3, 30)")
    got = {
        (r["id"], r["v"])
        for r in run_statement(spark, "SELECT * FROM src_t").collect()
    }
    assert got == {(1, 10), (2, 20)}
    # MERGE USING a registered table BY NAME
    run_statement(
        spark,
        "MERGE INTO dst_t AS t9 USING src_t AS s9 ON t9.id = s9.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    got = {
        (r["id"], r["v"])
        for r in run_statement(spark, "SELECT * FROM dst_t ORDER BY id").collect()
    }
    assert got == {(1, 10), (2, 20), (3, 30)}
    # the view refreshes per statement: a later DELETE is visible
    run_statement(spark, "DELETE FROM dst_t WHERE id = 3")
    assert run_statement(spark, "SELECT COUNT(*) AS n FROM dst_t").collect()[0]["n"] == 2


def test_truncate_table(spark, tmp_path):
    t = _mk_customers(spark, tmp_path, name="trunc_t")
    v_before = t.version()
    res = run_statement(spark, "TRUNCATE TABLE trunc_t").collect()[0]
    assert res["numDeletedRows"] == 3 and res["numRemovedFiles"] >= 1
    assert t.to_df().count() == 0
    # metadata-only: pre-truncate version still time-travels
    assert t.to_df(version=v_before).count() == 3


def test_convert_to_delta_sql(spark, tmp_path):
    src = tmp_path / "raw_sql"
    spark.range(60).selectExpr(
        "id AS k", "CONCAT('p', id % 2) AS part"
    ).write.partitionBy("part").parquet(str(src))
    res = run_statement(
        spark,
        f"CONVERT TO DELTA parquet.`{src}` PARTITIONED BY (part string)",
    ).collect()[0]
    assert res["numConvertedFiles"] >= 2
    t = sqldml.resolve_table(spark, str(src))
    assert t.to_df().count() == 60
    assert [f.name for f in t.schema.fields] == ["k", "part"]


def test_case_when_inside_merge_conditions_and_sets(spark, tmp_path):
    """CASE WHEN expressions inside MERGE conditions and SET values
    must not be mistaken for clause boundaries."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, status string")
    t = LakeTable.create(spark, str(tmp_path / "case_t"), df=df)
    sqldml.register_table(spark, "case_t", t)
    spark.createDataFrame(
        [(1, "x"), (3, "y")], "id int, op string"
    ).createOrReplaceTempView("case_src")
    run_statement(
        spark,
        """
        MERGE INTO case_t AS tg USING case_src AS sr
        ON tg.id = sr.id AND CASE WHEN sr.op = 'skip' THEN false ELSE true END
        WHEN MATCHED THEN UPDATE SET
          tg.status = CASE WHEN sr.op = 'x' THEN 'was_x' ELSE 'other' END
        WHEN NOT MATCHED THEN INSERT (id, status)
          VALUES (sr.id, CASE WHEN sr.op = 'y' THEN 'new_y' ELSE 'new' END)
        """,
    )
    rows = {r["id"]: r["status"] for r in t.to_df().collect()}
    assert rows == {1: "was_x", 2: "b", 3: "new_y"}


def test_backticked_columns_in_set_and_insert(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "id int, val string")
    t = LakeTable.create(spark, str(tmp_path / "bt_t"), df=df)
    sqldml.register_table(spark, "bt_t", t)
    spark.createDataFrame([(1, "B"), (2, "C")], "id int, val string"
    ).createOrReplaceTempView("bt_src")
    run_statement(
        spark,
        "MERGE INTO bt_t tg USING bt_src sr ON tg.id = sr.id "
        "WHEN MATCHED THEN UPDATE SET `val` = sr.val "
        "WHEN NOT MATCHED THEN INSERT (`id`, `val`) VALUES (sr.id, sr.val)",
    )
    assert {(r["id"], r["val"]) for r in t.to_df().collect()} == {
        (1, "B"), (2, "C"),
    }
    run_statement(spark, "UPDATE bt_t SET `val` = 'Z' WHERE id = 2")
    assert {(r["id"], r["val"]) for r in t.to_df().collect()} == {
        (1, "B"), (2, "Z"),
    }


def test_insert_reports_real_row_count(spark, tmp_path):
    t = _mk_customers(spark, tmp_path, name="cnt_t")
    res = run_statement(
        spark,
        "INSERT INTO cnt_t VALUES (7, 'g@x.com', 'B', '2024-01-01'), "
        "(8, 'h@x.com', 'B', '2024-01-02')",
    ).collect()[0]
    assert res["numOutputRows"] == 2
    res = run_statement(
        spark,
        "INSERT OVERWRITE cnt_t VALUES (42, 'o@x.com', 'G', '2024-02-01')",
    ).collect()[0]
    assert res["numOutputRows"] == 1


def test_dml_on_delta_path_tables(spark, tmp_path):
    """The Databricks path form: DML against delta.`/path` with no
    prior registration — resolve_table opens the Delta dir directly."""
    p = str(tmp_path / "path_t")
    LakeTable.create(
        spark,
        p,
        df=spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"),
        format="delta",
    )
    run_statement(spark, f"DELETE FROM delta.`{p}` WHERE id = 1")
    run_statement(spark, f"UPDATE delta.`{p}` SET v = 'B' WHERE id = 2")
    t = sqldml.resolve_table(spark, p)
    assert {(r["id"], r["v"]) for r in t.to_df().collect()} == {(2, "B")}


def test_insert_backticked_column_list_and_overwrite_evolution(spark, tmp_path):
    t = _mk_customers(spark, tmp_path, name="bt2_t")
    run_statement(
        spark,
        "INSERT INTO bt2_t (`customer_id`, `email`, `loyalty_tier`, "
        "`updated_date`) VALUES (9, 'i@x.com', 'B', '2024-03-01')",
    )
    assert _rows(t)[9] == ("i@x.com", "B", "2024-03-01")


def test_metrics_df_tolerates_none_values(spark):
    """A None-valued metric (e.g. version=None from a no-op DDL) must
    not fail Spark type inference on the one-row metrics frame."""
    from databricks_delta_lake_project_spark.tables.sqldml import metrics_df

    df = metrics_df(spark, {"numAffectedRows": 3, "version": None})
    row = df.collect()[0]
    assert row["numAffectedRows"] == 3 and row["version"] is None
    assert dict(df.dtypes)["version"] == "bigint"


def test_create_table_identity_ddl(spark, tmp_path):
    """The reference's Delta DDL (delta_lake_features.py:206-262):
    `BIGINT GENERATED ALWAYS AS IDENTITY (START WITH n INCREMENT BY m)`
    parsed in CREATE TABLE onto the existing identity plumbing — the
    SQL-created table generates ids identically to the API-created
    one (same start/step/highWaterMark behavior)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    loc_sql = str(tmp_path / "ident_sql")
    sqldml.run_dml(
        spark,
        f"""CREATE TABLE ident_sql (
              uid BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 10),
              name STRING
            ) USING DELTA LOCATION '{loc_sql}'""",
    )
    t_sql = sqldml.resolve_table(spark, "ident_sql")

    meta = {"delta.identity.start": 100, "delta.identity.step": 10}
    t_api = LakeTable.create(
        spark,
        str(tmp_path / "ident_api"),
        schema=StructType(
            [
                StructField("uid", LongType(), True, meta),
                StructField("name", StringType(), True),
            ]
        ),
        format="delta",
    )
    frame = spark.createDataFrame([("a",), ("b",), ("c",)], "name string")
    t_sql.append(frame.coalesce(1))
    t_api.append(frame.coalesce(1))
    ids_sql = sorted(r["uid"] for r in t_sql.to_df().collect())
    ids_api = sorted(r["uid"] for r in t_api.to_df().collect())
    assert ids_sql == ids_api == [100, 110, 120]
    hwm = int(t_sql.schema["uid"].metadata["delta.identity.highWaterMark"])
    assert hwm == 120
    # GENERATED ALWAYS: explicit values refused through SQL INSERT too
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        sqldml.run_dml(spark, "INSERT INTO ident_sql (uid, name) VALUES (999, 'x')")


def test_create_table_by_default_identity_ddl(spark, tmp_path):
    loc = str(tmp_path / "ident_bd")
    sqldml.run_dml(
        spark,
        f"""CREATE TABLE ident_bd (
              uid BIGINT GENERATED BY DEFAULT AS IDENTITY,
              name STRING
            ) USING DELTA LOCATION '{loc}'""",
    )
    t = sqldml.resolve_table(spark, "ident_bd")
    sqldml.run_dml(spark, "INSERT INTO ident_bd (uid, name) VALUES (7, 'explicit')")
    t.append(spark.createDataFrame([("gen",)], "name string"))
    rows = {r["name"]: r["uid"] for r in t.to_df().collect()}
    assert rows["explicit"] == 7 and rows["gen"] is not None


def test_create_table_generated_column_ddl(spark, tmp_path):
    """`GENERATED ALWAYS AS (expr)` column clause: the expression is
    recomputed on every write (writer obligation), usable as a
    partition column with generated-column pruning."""
    loc = str(tmp_path / "genc")
    sqldml.run_dml(
        spark,
        f"""CREATE TABLE genc (
              id BIGINT,
              ts TIMESTAMP,
              day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))
            ) USING DELTA PARTITIONED BY (day) LOCATION '{loc}'""",
    )
    t = sqldml.resolve_table(spark, "genc")
    assert (
        t.schema["day"].metadata["delta.generationExpression"]
        == "CAST(ts AS DATE)"
    )
    t.append(
        spark.createDataFrame(
            [(1, "2024-03-01 10:00:00"), (2, "2024-03-02 00:30:00")],
            "id long, ts string",
        ).selectExpr("id", "CAST(ts AS TIMESTAMP) ts")
    )
    got = {(r["id"], str(r["day"])) for r in t.to_df().collect()}
    assert got == {(1, "2024-03-01"), (2, "2024-03-02")}


def test_create_table_generated_comparison_and_comment_literal(spark, tmp_path):
    """Review regressions: (a) a '<' inside a GENERATED expression must
    not swallow the following columns (angle brackets only open generic
    types at paren depth 0); (b) clause keywords inside a COMMENT
    string literal must not parse as clauses; (c) map<string,int>
    generics still survive the splitter."""
    loc = str(tmp_path / "genlt")
    sqldml.run_dml(
        spark,
        f"""CREATE TABLE genlt (
              a INT,
              note STRING COMMENT 'GENERATED ALWAYS AS IDENTITY',
              flag BOOLEAN GENERATED ALWAYS AS (a < 5),
              tags MAP<STRING,INT>,
              c STRING
            ) USING DELTA LOCATION '{loc}'""",
    )
    t = sqldml.resolve_table(spark, "genlt")
    assert [f.name for f in t.schema.fields] == ["a", "note", "flag", "tags", "c"]
    assert "delta.identity.start" not in dict(t.schema["note"].metadata or {})
    assert t.schema["flag"].metadata["delta.generationExpression"] == "a < 5"
    assert t.schema["tags"].dataType.simpleString() == "map<string,int>"
    t.append(
        spark.createDataFrame(
            [(3, "x", None, "y"), (9, "x", None, "y")],
            "a int, note string, tags map<string,int>, c string",
        )
    )
    got = {(r["a"], r["flag"]) for r in t.to_df().collect()}
    assert got == {(3, True), (9, False)}


@pytest.mark.parametrize("fmt", ["delta"])
def test_alter_add_columns_sql(spark, tmp_path, fmt):
    """ALTER TABLE ADD COLUMNS (delta_lake_features.py:258-262):
    metadata-only additive evolution — old rows
    null-fill, new appends carry the column."""
    from pyspark.sql import Row

    t = LakeTable.create(
        spark,
        str(tmp_path / f"addc_{fmt}"),
        df=spark.createDataFrame([Row(id=1)]),
        format=fmt,
    )
    sqldml.register_table(spark, f"addc_{fmt}", t)
    out = sqldml.run_dml(
        spark,
        f"ALTER TABLE addc_{fmt} ADD COLUMNS (score DOUBLE, note STRING)",
    )
    assert out["operation"] == "ADD COLUMNS"
    t2 = LakeTable(t.spark, t.root)
    assert [f.name for f in t2.schema.fields] == ["id", "score", "note"]
    t2.append(spark.createDataFrame([Row(id=2, score=0.5, note="n")]))
    got = {(r["id"], r["score"], r["note"]) for r in t2.to_df().collect()}
    assert got == {(1, None, None), (2, 0.5, "n")}
    # duplicate column refused
    with pytest.raises(ValueError, match="already exists"):
        sqldml.run_dml(spark, f"ALTER TABLE addc_{fmt} ADD COLUMNS (id INT)")


def test_alter_column_comment_and_tags_sql(spark, tmp_path):
    """ALTER COLUMN ... COMMENT and SET/UNSET TAGS
    (unity_catalog_setup.py:96-124): comments land in field metadata
    (visible to DESCRIBE), tags ride engine.tags.* properties."""
    from pyspark.sql import Row

    t = LakeTable.create(
        spark,
        str(tmp_path / "govt"),
        df=spark.createDataFrame([Row(customer_id=1)]),
        format="delta",
    )
    sqldml.register_table(spark, "govt", t)
    sqldml.run_dml(
        spark,
        "ALTER TABLE govt ALTER COLUMN customer_id "
        "COMMENT 'Unique customer identifier from CRM system'",
    )
    t2 = LakeTable(t.spark, t.root)
    assert (
        t2.schema["customer_id"].metadata["comment"]
        == "Unique customer identifier from CRM system"
    )
    # DESCRIBE surfaces it
    desc = run_statement(spark, "DESCRIBE govt").collect()
    assert desc[0]["comment"] == "Unique customer identifier from CRM system"

    sqldml.run_dml(
        spark,
        "ALTER TABLE govt SET TAGS ('pii' = 'true', 'team' = 'data-eng')",
    )
    assert LakeTable(t.spark, t.root).tags() == {
        "pii": "true", "team": "data-eng",
    }
    sqldml.run_dml(spark, "ALTER TABLE govt UNSET TAGS ('pii')")
    assert LakeTable(t.spark, t.root).tags() == {"team": "data-eng"}


@pytest.mark.parametrize("fmt", ["delta"])
def test_unset_tags_both_backends(spark, tmp_path, fmt):
    """UNSET TAGS must actually delete: the metaData configuration is
    replaced wholesale (incl. unsetting the LAST property, which still
    must emit metaData)."""
    from pyspark.sql import Row

    t = LakeTable.create(
        spark,
        str(tmp_path / f"tags_{fmt}"),
        df=spark.createDataFrame([Row(x=1)]),
        format=fmt,
    )
    t.set_tags({"pii": "true"})
    assert LakeTable(t.spark, t.root).tags() == {"pii": "true"}
    t.set_tags({"pii": ""}, unset=True)
    fresh = LakeTable(t.spark, t.root)
    assert fresh.tags() == {}
    assert "engine.tags.pii" not in fresh.properties()


def test_add_columns_rejects_duplicates_within_statement(spark, tmp_path):
    from pyspark.sql import Row

    t = LakeTable.create(
        spark,
        str(tmp_path / "dupadd"),
        df=spark.createDataFrame([Row(id=1)]),
        format="delta",
    )
    with pytest.raises(ValueError, match="already exists"):
        t.add_columns("a INT, A STRING")


def test_set_column_comment_case_insensitive(spark, tmp_path):
    from pyspark.sql import Row

    t = LakeTable.create(
        spark,
        str(tmp_path / "cmtcase"),
        df=spark.createDataFrame([Row(customer_id=1)]),
        format="delta",
    )
    t.set_column_comment("Customer_ID", "resolved like Spark")
    fresh = LakeTable(t.spark, t.root)
    assert fresh.schema["customer_id"].metadata["comment"] == (
        "resolved like Spark"
    )


def test_merge_with_schema_evolution_rewrite(spark, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION: source columns absent from the
    target are added (nullable); UPDATE SET * / INSERT * populate
    them; pre-existing untouched rows read NULL (old files read under
    the evolved schema)."""
    from pyspark.sql import Row

    t = LakeTable.create(
        spark,
        str(tmp_path / "se_t"),
        df=spark.createDataFrame(
            [Row(id=1, v="a"), Row(id=2, v="b"), Row(id=3, v="c")]
        ),
        format="delta",
    )
    sqldml.register_table(spark, "se_t", t)
    spark.createDataFrame(
        [Row(id=2, v="B!", score=0.9), Row(id=4, v="d", score=0.4)]
    ).createOrReplaceTempView("se_src")
    res = run_statement(
        spark,
        "MERGE WITH SCHEMA EVOLUTION INTO se_t AS t USING se_src AS s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    ).collect()[0]
    assert (
        res["numTargetRowsUpdated"],
        res["numTargetRowsInserted"],
    ) == (1, 1)
    assert [f.name for f in t.schema.fields] == ["id", "v", "score"]
    got = {
        (r["id"], r["v"], r["score"]) for r in t.to_df().collect()
    }
    assert got == {
        (1, "a", None),
        (2, "B!", 0.9),
        (3, "c", None),
        (4, "d", 0.4),
    }
    # fresh handle reads the same evolved snapshot
    assert {
        (r["id"], r["score"])
        for r in LakeTable(spark, t.root).to_df().collect()
    } == {(1, None), (2, 0.9), (3, None), (4, 0.4)}


def test_merge_schema_evolution_dv_and_cdf(spark, tmp_path):
    """Evolution composes with the DV MERGE shape and the change feed:
    post-images/inserts carry the new column, pre-images read NULL."""
    from pyspark.sql import Row

    t = LakeTable.create(
        spark,
        str(tmp_path / "se_dv"),
        df=spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]),
        format="delta",
        properties={
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    src = spark.createDataFrame([Row(id=2, v="B!", score=1.5)])
    res = (
        t.merge(src, "t.id = s.id")
        .withSchemaEvolution()
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
    assert res["strategy"] == "dv" and res["numTargetRowsUpdated"] == 1
    assert {
        (r["id"], r["v"], r["score"]) for r in t.to_df().collect()
    } == {(1, "a", None), (2, "B!", 1.5)}
    changes = {
        (r["id"], r["_change_type"], r["score"])
        for r in t.read_changes(1).collect()
    }
    assert changes == {
        (2, "update_preimage", None),
        (2, "update_postimage", 1.5),
    }


def test_merge_automerge_conf_and_no_evolution_default(spark, tmp_path):
    """Without the flag extra source columns are ignored (the Delta
    contract); the OSS autoMerge conf turns evolution on globally."""
    from pyspark.sql import Row

    t = LakeTable.create(
        spark,
        str(tmp_path / "se_conf"),
        df=spark.createDataFrame([Row(id=1, v="a")]),
        format="delta",
    )
    src = spark.createDataFrame([Row(id=1, v="A!", extra=7)])
    t.merge(src, "t.id = s.id").whenMatchedUpdateAll().execute()
    assert [f.name for f in t.schema.fields] == ["id", "v"]

    spark.conf.set("spark.databricks.delta.schema.autoMerge.enabled", "true")
    try:
        t.merge(src, "t.id = s.id").whenMatchedUpdateAll().execute()
    finally:
        spark.conf.unset("spark.databricks.delta.schema.autoMerge.enabled")
    assert [f.name for f in t.schema.fields] == ["id", "v", "extra"]
    assert t.to_df().collect()[0]["extra"] == 7


def test_merge_schema_evolution_explicit_set_clause(spark, tmp_path):
    """Evolution with a NON-star UPDATE SET must not reference the
    new column on the target side (it has no t-side yet): untouched
    evolved columns stay NULL for matched rows."""
    from pyspark.sql import Row

    t = LakeTable.create(
        spark,
        str(tmp_path / "se_set"),
        df=spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]),
        format="delta",
    )
    sqldml.register_table(spark, "se_set", t)
    spark.createDataFrame(
        [Row(id=1, v="A!", score=0.7), Row(id=9, v="z", score=0.1)]
    ).createOrReplaceTempView("se_set_src")
    run_statement(
        spark,
        "MERGE WITH SCHEMA EVOLUTION INTO se_set AS t USING se_set_src AS s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    got = {(r["id"], r["v"], r["score"]) for r in t.to_df().collect()}
    # matched row: v updated, evolved column NOT set by the clause ->
    # NULL; inserted row carries the source value
    assert got == {(1, "A!", None), (2, "b", None), (9, "z", 0.1)}
