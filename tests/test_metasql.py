"""SQL metadata statements (X9): SHOW CATALOGS/SCHEMAS/TABLES/
TBLPROPERTIES/CREATE TABLE, DESCRIBE [EXTENDED|DETAIL], ANALYZE TABLE,
CACHE TABLE over registered LakeTables (reference
``remote_development.py:210-236``, ``performance_optimization.py:
195-234``, ``common_functions.py:50-60``)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row

from databricks_delta_lake_project_spark.queries.sqlpack import run_statement
from databricks_delta_lake_project_spark.tables import LakeTable, sqldml


@pytest.fixture()
def world(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "txn"),
        df=spark.createDataFrame(
            [
                Row(customer_id=1, amount=10.0, day="d1"),
                Row(customer_id=2, amount=None, day="d1"),
                Row(customer_id=2, amount=30.0, day="d2"),
            ]
        ),
        format="delta",
        partition_by=["day"],
        properties={"quality": "silver", "engine.clusterBy": "customer_id"},
    )
    sqldml.register_table(spark, "cat360.silver.transactions", t)
    return t


def test_show_catalogs_schemas_tables(spark, world):
    cats = {r["catalog"] for r in run_statement(spark, "SHOW CATALOGS").collect()}
    assert {"spark_catalog", "cat360"} <= cats

    schemas = {
        r["namespace"]
        for r in run_statement(spark, "SHOW SCHEMAS IN cat360").collect()
    }
    assert schemas == {"silver"}

    tables = run_statement(spark, "SHOW TABLES IN cat360.silver").collect()
    assert [(r["namespace"], r["tableName"], r["isTemporary"]) for r in tables] == [
        ("cat360.silver", "transactions", False)
    ]
    # unfiltered listing includes it too
    all_tables = {
        r["tableName"] for r in run_statement(spark, "SHOW TABLES").collect()
    }
    assert "transactions" in all_tables


def test_describe_and_extended(spark, world):
    out = run_statement(spark, "DESCRIBE transactions").collect()
    cols = {(r["col_name"], r["data_type"]) for r in out[:3]}
    assert ("customer_id", "bigint") in cols and ("day", "string") in cols
    # partition section present
    names = [r["col_name"] for r in out]
    assert "# Partition Information" in names

    ext = run_statement(spark, "DESCRIBE EXTENDED cat360.silver.transactions")
    info = {r["col_name"]: r["data_type"] for r in ext.collect()}
    assert info["Location"] == world.root
    assert info["Provider"] == "delta"
    assert "quality=silver" in info["Table Properties"]


def test_describe_detail(spark, world):
    d = run_statement(spark, "DESCRIBE DETAIL transactions").collect()[0]
    assert d["format"] == "delta"
    assert d["location"] == world.root
    assert d["partitionColumns"] == ["day"]
    assert d["clusteringColumns"] == ["customer_id"]
    assert d["numFiles"] == len(world._files())
    assert d["sizeInBytes"] > 0
    assert d["properties"]["quality"] == "silver"


def test_show_create_table(spark, world):
    stmt = run_statement(
        spark, "SHOW CREATE TABLE cat360.silver.transactions"
    ).collect()[0]["createtab_stmt"]
    assert stmt.startswith("CREATE TABLE cat360.silver.transactions")
    assert "customer_id BIGINT" in stmt
    assert "USING DELTA" in stmt
    assert "PARTITIONED BY (day)" in stmt
    assert "CLUSTER BY (customer_id)" in stmt
    assert f"LOCATION '{world.root}'" in stmt
    assert "'quality' = 'silver'" in stmt


def test_show_tblproperties(spark, world):
    props = {
        r["key"]: r["value"]
        for r in run_statement(spark, "SHOW TBLPROPERTIES transactions").collect()
    }
    assert props["quality"] == "silver"
    one = run_statement(
        spark, "SHOW TBLPROPERTIES transactions ('quality')"
    ).collect()
    assert one == [Row(key="quality", value="silver")]


def test_analyze_table_stats_persisted(spark, world):
    out = run_statement(
        spark,
        "ANALYZE TABLE transactions COMPUTE STATISTICS "
        "FOR COLUMNS customer_id, amount",
    )
    stats = {r["key"]: r["value"] for r in out.collect()}
    assert stats["engine.stats.rowCount"] == "3"
    cid = json.loads(stats["engine.stats.col.customer_id"])
    assert (cid["min"], cid["max"], cid["nullCount"], cid["distinctCount"]) == (
        1, 2, 0, 2,
    )
    amt = json.loads(stats["engine.stats.col.amount"])
    assert amt["nullCount"] == 1
    # persisted: a fresh DESCRIBE EXTENDED (and properties()) sees them
    assert world.properties()["engine.stats.rowCount"] == "3"


def test_cache_and_uncache_table(spark, world):
    got = run_statement(spark, "CACHE TABLE transactions").collect()[0]
    assert got["operation"] == "CACHE TABLE"
    assert spark.catalog.isCached("transactions")
    run_statement(spark, "UNCACHE TABLE transactions")
    assert not spark.catalog.isCached("transactions")


def test_fallthrough_to_native_spark(spark, world):
    """Metadata verbs over non-LakeTable names keep Spark-native
    behavior (temp views, catalog objects)."""
    spark.createDataFrame([Row(x=1)]).createOrReplaceTempView("plain_view")
    out = run_statement(spark, "DESCRIBE plain_view").collect()
    assert out[0]["col_name"] == "x"


def test_show_tables_includes_native_temp_views(spark, world):
    """SHOW TABLES must keep listing what spark.sql would have listed
    (native temp views / catalog tables) merged with engine tables."""
    spark.createDataFrame([Row(x=1)]).createOrReplaceTempView("native_tv")
    rows = run_statement(spark, "SHOW TABLES").collect()
    names = {r["tableName"] for r in rows}
    assert "transactions" in names and "native_tv" in names
    by_name = {r["tableName"]: r for r in rows}
    assert by_name["native_tv"]["isTemporary"] is True
    spark.catalog.dropTempView("native_tv")


def test_cache_table_path_addressed_refuses_loudly(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "pathtab"),
        df=spark.createDataFrame([Row(x=1)]),
        format="delta",
    )
    with pytest.raises(ValueError, match="registered table name"):
        run_statement(spark, f"CACHE TABLE `{t.root}`")


def test_analyze_conflicts_with_concurrent_property_change(
    spark, tmp_path, monkeypatch
):
    """ANALYZE commits a FULL property snapshot; a rival property
    change landing between the stats job and the commit must raise a
    retryable conflict, never be silently reverted."""
    from databricks_delta_lake_project_spark.tables.log import (
        ConcurrentModificationError,
    )

    t = LakeTable.create(
        spark,
        str(tmp_path / "an_race"),
        df=spark.createDataFrame([Row(x=1), Row(x=2)]),
        format="delta",
    )
    sqldml.register_table(spark, "an_race", t)
    backend = t._log
    real_commit = backend.commit

    def sabotage(root, op, adds, removes, *a, **k):
        if op == "ANALYZE":
            # rival SET TBLPROPERTIES lands first (through the real
            # commit path so the metaData action is well-formed)
            real_commit(
                root,
                "SET TBLPROPERTIES",
                [],
                [],
                backend.schema_at(root),
                properties={**t.properties(), "rival.flag": "true"},
            )
        return real_commit(root, op, adds, removes, *a, **k)

    monkeypatch.setattr(backend, "commit", sabotage)
    with pytest.raises(ConcurrentModificationError):
        run_statement(spark, "ANALYZE TABLE an_race COMPUTE STATISTICS")
    monkeypatch.setattr(backend, "commit", real_commit)
    # the rival's property survived
    assert t.properties()["rival.flag"] == "true"
    # a clean retry lands the stats WITHOUT reverting the rival
    run_statement(spark, "ANALYZE TABLE an_race COMPUTE STATISTICS")
    props = t.properties()
    assert props["rival.flag"] == "true"
    assert props["engine.stats.rowCount"] == "2"


def test_cache_dotted_path_never_caches_same_suffix_view(spark, tmp_path, world):
    """A path whose basename shares a dotted suffix with a registered
    table must refuse — not cache the unrelated registered view."""
    p = tmp_path / "events.transactions"
    LakeTable.create(
        spark, str(p), df=spark.createDataFrame([Row(x=1)]), format="delta"
    )
    with pytest.raises(ValueError, match="registered table name"):
        run_statement(spark, f"CACHE TABLE `{p}`")
    # the refusal happens before any view sync, so either no
    # 'transactions' view exists yet or, if one does, it is not cached
    assert not spark.catalog.tableExists("transactions") or (
        not spark.catalog.isCached("transactions")
    )


def test_show_tables_keeps_user_view_shadowing_engine_name(
    spark, tmp_path
):
    """A USER-owned temp view that shares an engine table's name wins
    SELECT resolution (sync_views never shadows it) — SHOW TABLES must
    list BOTH it and the engine row, suppressing only the module's own
    synced views. Uses a fresh name so no prior sync owns the view."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "shadowt"),
        df=spark.createDataFrame([Row(a=1)]),
        format="delta",
    )
    sqldml.register_table(spark, "ns2.shadowt", t)
    spark.createDataFrame([Row(user_owned=1)]).createOrReplaceTempView(
        "shadowt"
    )
    try:
        rows = run_statement(spark, "SHOW TABLES").collect()
        pairs = {(r["namespace"], r["tableName"], r["isTemporary"]) for r in rows}
        assert ("ns2", "shadowt", False) in pairs
        assert ("", "shadowt", True) in pairs
        # and SELECT still resolves to the user's view
        assert spark.sql("SELECT * FROM shadowt").columns == ["user_owned"]
    finally:
        spark.catalog.dropTempView("shadowt")


def test_analyze_conflicts_with_concurrent_schema_evolution(
    spark, tmp_path, monkeypatch
):
    """A property-snapshot commit racing a rival SCHEMA change must
    conflict, not replay the pre-evolution schema."""
    from databricks_delta_lake_project_spark.tables.log import (
        ConcurrentModificationError,
    )

    t = LakeTable.create(
        spark,
        str(tmp_path / "an_evolve"),
        df=spark.createDataFrame([Row(x=1)]),
    )
    sqldml.register_table(spark, "an_evolve", t)
    backend = t._log
    real_commit = backend.commit

    def sabotage(root, op, adds, removes, *a, **k):
        if op == "ANALYZE":
            # a rival handle (its own backend) evolves the schema first
            LakeTable(t.spark, t.root).append(
                spark.createDataFrame([Row(x=2, y="new")]),
                merge_schema=True,
            )
        return real_commit(root, op, adds, removes, *a, **k)

    monkeypatch.setattr(backend, "commit", sabotage)
    with pytest.raises(ConcurrentModificationError):
        run_statement(spark, "ANALYZE TABLE an_evolve COMPUTE STATISTICS")
    monkeypatch.setattr(backend, "commit", real_commit)
    # the rival's evolved schema survived
    assert {f.name for f in LakeTable(t.spark, t.root).schema.fields} == {
        "x", "y",
    }


def test_create_catalog_and_schema_namespace_ddl(spark):
    """The reference's unity_catalog_setup.py:33-53 sequence verbatim:
    CREATE CATALOG / multi-part CREATE SCHEMA (both unsupported by OSS
    Spark) land in the engine's namespace registry and show up in
    SHOW CATALOGS / SHOW SCHEMAS."""
    from databricks_delta_lake_project_spark.tables import metasql

    try:
        run_statement(
            spark,
            "CREATE CATALOG IF NOT EXISTS customer_360_catalog "
            "COMMENT 'Customer 360 Analytics Platform - All data assets';",
        )
        for schema, comment in [
            ("bronze", "Raw data layer - append-only, no transformations"),
            ("silver", "Cleaned and conformed data - business rules applied"),
            ("gold", "Business-ready aggregations and analytics tables"),
        ]:
            run_statement(
                spark,
                f"CREATE SCHEMA IF NOT EXISTS customer_360_catalog.{schema} "
                f"COMMENT '{comment}';",
            )
        cats = {
            r["catalog"]
            for r in run_statement(spark, "SHOW CATALOGS").collect()
        }
        assert "customer_360_catalog" in cats
        schemas = {
            r["namespace"]
            for r in run_statement(
                spark, "SHOW SCHEMAS IN customer_360_catalog"
            ).collect()
        }
        assert {"bronze", "silver", "gold"} <= schemas
        # IF NOT EXISTS is idempotent; plain CREATE on existing raises
        run_statement(
            spark, "CREATE CATALOG IF NOT EXISTS customer_360_catalog"
        )
        with pytest.raises(ValueError, match="already exists"):
            run_statement(spark, "CREATE CATALOG customer_360_catalog")
        assert (
            metasql.declared_namespaces(spark, "catalog")[
                "customer_360_catalog"
            ]["comment"]
            == "Customer 360 Analytics Platform - All data assets"
        )
    finally:
        metasql._NAMESPACES.clear()


def test_multiparts_under_real_catalogs_stay_native(spark):
    """CREATE SCHEMA spark_catalog.x is native OSS Spark territory —
    the engine registry must not hijack it (the real schema must
    exist afterwards)."""
    from databricks_delta_lake_project_spark.tables import metasql

    try:
        run_statement(spark, "CREATE SCHEMA spark_catalog.revtest_ns")
        assert spark.catalog.databaseExists("revtest_ns")
        assert ("schema", "spark_catalog.revtest_ns") not in (
            metasql._NAMESPACES.get(
                next(iter(metasql._NAMESPACES), ""), {}
            )
        )
    finally:
        spark.sql("DROP SCHEMA IF EXISTS spark_catalog.revtest_ns")
        metasql._NAMESPACES.clear()


def test_namespace_clause_order_and_admin_sequence(spark):
    """MANAGED LOCATION before COMMENT (the Databricks-documented
    order) parses, and an ADMINS_CONF admin can run the whole
    unity_catalog_setup sequence under enforcement."""
    from databricks_delta_lake_project_spark.governance import (
        access_control as acl,
        systables,
    )
    from databricks_delta_lake_project_spark.tables import metasql

    spark.conf.set(acl.ENABLED_CONF, "true")
    spark.conf.set(acl.PRINCIPAL_CONF, "platform_admin")
    spark.conf.set(acl.ADMINS_CONF, "platform_admin")
    try:
        run_statement(
            spark,
            "CREATE CATALOG adm_cat MANAGED LOCATION 's3://b/p' "
            "COMMENT 'ordered the Databricks way'",
        )
        run_statement(
            spark, "CREATE SCHEMA adm_cat.bronze COMMENT 'raw layer'"
        )
        ns = metasql.declared_namespaces(spark, "catalog")["adm_cat"]
        assert ns["location"] == "s3://b/p"
        assert ns["comment"] == "ordered the Databricks way"
        assert "adm_cat.bronze" in metasql.declared_namespaces(
            spark, "schema"
        )
    finally:
        spark.conf.set(acl.ENABLED_CONF, "false")
        spark.conf.unset(acl.PRINCIPAL_CONF)
        spark.conf.unset(acl.ADMINS_CONF)
        acl._GRANTS.clear()
        systables._AUDIT.clear()
        systables._QUERY_HISTORY.clear()
        metasql._NAMESPACES.clear()


def test_volumes_ddl_and_path_resolution(spark, tmp_path):
    """The reference's volume setup (unity_catalog_setup.py:67-71) and
    the /Volumes/<cat>/<schema>/<vol>/... path convention its
    ingestion jobs use (ingest_transactions.py:21-23)."""
    from databricks_delta_lake_project_spark.tables import metasql

    spark.conf.set(metasql.VOLUMES_ROOT_CONF, str(tmp_path / "vols"))
    try:
        run_statement(
            spark,
            "CREATE VOLUME IF NOT EXISTS cat1.landing.raw_data "
            "COMMENT 'Landing zone for raw data files from source systems';",
        )
        run_statement(
            spark,
            "CREATE VOLUME IF NOT EXISTS cat1.checkpoints.streaming "
            "COMMENT 'Checkpoint storage for streaming pipelines';",
        )
        vols = run_statement(spark, "SHOW VOLUMES IN cat1.landing").collect()
        assert [(r["catalog"], r["schema"], r["volume_name"]) for r in vols] == [
            ("cat1", "landing", "raw_data")
        ]
        p = metasql.resolve_volume_path(
            spark, "/Volumes/cat1/landing/raw_data/crm"
        )
        assert p.startswith(str(tmp_path / "vols")) and p.endswith("/crm")
        # non-volume paths pass through untouched
        assert metasql.resolve_volume_path(spark, "/data/x") == "/data/x"
        with pytest.raises(ValueError, match="no such volume"):
            metasql.resolve_volume_path(spark, "/Volumes/cat1/landing/nope/x")
        with pytest.raises(ValueError, match="already exists"):
            run_statement(spark, "CREATE VOLUME cat1.landing.raw_data")
        with pytest.raises(ValueError, match="LOCATION"):
            run_statement(spark, "CREATE EXTERNAL VOLUME cat1.landing.ext1")
        ext = run_statement(
            spark,
            "CREATE EXTERNAL VOLUME cat1.landing.ext1 "
            f"LOCATION '{tmp_path / 'ext'}'",
        ).collect()[0]
        assert ext["path"] == str(tmp_path / "ext")
    finally:
        spark.conf.unset(metasql.VOLUMES_ROOT_CONF)
        metasql._NAMESPACES.clear()


def test_file_stream_reads_volume_paths(spark, tmp_path):
    """read_file_stream accepts the reference's /Volumes/... landing
    and schema-registry paths (translated to the volume's backing
    directory)."""
    import json as _json

    from databricks_delta_lake_project_spark.sources.autoload import (
        read_file_stream,
    )
    from databricks_delta_lake_project_spark.tables import metasql

    spark.conf.set(metasql.VOLUMES_ROOT_CONF, str(tmp_path / "vols"))
    try:
        run_statement(spark, "CREATE VOLUME c9.landing.raw_data")
        landing = metasql.resolve_volume_path(
            spark, "/Volumes/c9/landing/raw_data/txn"
        )
        import os

        os.makedirs(landing, exist_ok=True)
        with open(f"{landing}/a.json", "w") as f:
            f.write(_json.dumps({"txn_id": 1, "amount": 9.5}) + "\n")
        df = read_file_stream(
            spark,
            "/Volumes/c9/landing/raw_data/txn",
            fmt="json",
            schema_location="/Volumes/c9/landing/raw_data/_schemas",
        )
        assert df.isStreaming
        assert {"txn_id", "amount"} <= set(df.columns)
    finally:
        spark.conf.unset(metasql.VOLUMES_ROOT_CONF)
        metasql._NAMESPACES.clear()


def test_volume_hardening(spark, tmp_path):
    """Review pins: managed volumes reject LOCATION, IF NOT EXISTS
    never re-points existing metadata, URI locations skip makedirs,
    per-part backticks and double-quoted comments parse, volume access
    is ACL-enforced, and streaming checkpoints translate too."""
    from databricks_delta_lake_project_spark.governance import (
        access_control as acl,
        systables,
    )
    from databricks_delta_lake_project_spark.tables import metasql

    spark.conf.set(metasql.VOLUMES_ROOT_CONF, str(tmp_path / "vols"))
    try:
        with pytest.raises(ValueError, match="managed CREATE VOLUME"):
            run_statement(
                spark, f"CREATE VOLUME h.s.v1 LOCATION '{tmp_path}/x'"
            )
        run_statement(
            spark,
            'CREATE VOLUME `h`.`s`.`v2` COMMENT "per-part backticks"',
        )
        assert metasql.declared_namespaces(spark, "volume")["h.s.v2"][
            "comment"
        ] == "per-part backticks"
        # IF NOT EXISTS on an existing volume keeps its metadata
        ext_loc = str(tmp_path / "ext_a")
        run_statement(
            spark, f"CREATE EXTERNAL VOLUME h.s.v3 LOCATION '{ext_loc}'"
        )
        run_statement(
            spark,
            "CREATE EXTERNAL VOLUME IF NOT EXISTS h.s.v3 "
            f"LOCATION '{tmp_path}/ext_b'",
        )
        assert metasql.volume_path(spark, "h.s.v3") == ext_loc
        # URI-style external location: no local makedirs fabrication
        run_statement(
            spark,
            "CREATE EXTERNAL VOLUME h.s.v4 LOCATION 's3://bucket/landing'",
        )
        assert metasql.volume_path(spark, "h.s.v4") == "s3://bucket/landing"
        import os

        assert not os.path.exists("s3:")
        # volume access enforced under the ACL
        spark.conf.set(acl.ENABLED_CONF, "true")
        spark.conf.set(acl.PRINCIPAL_CONF, "nobody")
        with pytest.raises(PermissionError, match="SELECT"):
            metasql.resolve_volume_path(spark, "/Volumes/h/s/v2/f")
        # and the not-found error hides unlistable volumes
        with pytest.raises(ValueError, match=r"declared volumes: \[\]"):
            metasql.resolve_volume_path(spark, "/Volumes/h/s/nope/f")
    finally:
        spark.conf.set(acl.ENABLED_CONF, "false")
        spark.conf.unset(acl.PRINCIPAL_CONF)
        spark.conf.unset(metasql.VOLUMES_ROOT_CONF)
        acl._GRANTS.clear()
        systables._AUDIT.clear()
        metasql._NAMESPACES.clear()


def test_stream_sink_checkpoint_in_volume(spark, tmp_path):
    from databricks_delta_lake_project_spark.streaming.sink import (
        stream_to_lake_table,
    )
    from databricks_delta_lake_project_spark.tables import metasql

    spark.conf.set(metasql.VOLUMES_ROOT_CONF, str(tmp_path / "vols"))
    try:
        run_statement(spark, "CREATE VOLUME sv.checkpoints.streaming")
        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame([Row(x=1), Row(x=2)]).write.mode(
            "overwrite"
        ).parquet(str(src))
        t = LakeTable.create(
            spark,
            str(tmp_path / "sink_t"),
            schema=spark.read.parquet(str(src)).schema,
        )
        stream = spark.readStream.schema(
            spark.read.parquet(str(src)).schema
        ).parquet(str(src))
        q = stream_to_lake_table(
            stream, t, "/Volumes/sv/checkpoints/streaming/txn"
        )
        q.awaitTermination(60)
        assert t.to_df().count() == 2
        # the checkpoint landed inside the volume's backing dir
        resolved = metasql.resolve_volume_path(
            spark, "/Volumes/sv/checkpoints/streaming/txn"
        )
        import os

        assert os.path.isdir(resolved) and os.listdir(resolved)
    finally:
        spark.conf.unset(metasql.VOLUMES_ROOT_CONF)
        metasql._NAMESPACES.clear()


def test_volume_read_write_privilege_split(spark, tmp_path):
    """UC distinguishes READ VOLUME / WRITE VOLUME: a read-only grant
    (SELECT) opens volume reads but NOT writes (MODIFY); and a
    principal holding only CREATE on the parent schema can CREATE a
    volume without tripping a SELECT denial on the result row."""
    import pytest as _pytest

    from databricks_delta_lake_project_spark.governance import (
        access_control as acl,
        systables,
    )
    from databricks_delta_lake_project_spark.tables import metasql

    spark.conf.set(metasql.VOLUMES_ROOT_CONF, str(tmp_path / "vols"))
    try:
        run_statement(spark, "CREATE VOLUME rw.land.zone")
        spark.conf.set(acl.ENABLED_CONF, "true")
        spark.conf.set(acl.PRINCIPAL_CONF, "reader")
        acl.grant(spark, "USAGE", "CATALOG", "rw", "reader")
        acl.grant(spark, "USAGE", "SCHEMA", "rw.land", "reader")
        acl.grant(spark, "SELECT", "TABLE", "rw.land.zone", "reader")
        # read intent passes...
        p = metasql.resolve_volume_path(spark, "/Volumes/rw/land/zone/in")
        assert p.endswith("/in")
        # ...write intent is denied for the read-only principal
        with _pytest.raises(PermissionError, match="MODIFY"):
            metasql.resolve_volume_path(
                spark, "/Volumes/rw/land/zone/out", intent="write"
            )
        acl.grant(spark, "MODIFY", "TABLE", "rw.land.zone", "reader")
        assert metasql.volume_path(spark, "rw.land.zone", intent="write")
        with _pytest.raises(ValueError, match="read|write"):
            metasql.volume_path(spark, "rw.land.zone", intent="append")
        # CREATE-only principal: creation succeeds end-to-end (the
        # result row's path must not be SELECT-gated)
        spark.conf.set(acl.PRINCIPAL_CONF, "builder")
        acl.grant(spark, "USAGE", "CATALOG", "rw", "builder")
        acl.grant(spark, "CREATE", "SCHEMA", "rw.land", "builder")
        out = run_statement(
            spark, "CREATE VOLUME rw.land.fresh"
        ).collect()[0]
        assert out["operation"] == "CREATE VOLUME" and out["path"]
        # and the volume it just created is still read-gated for it
        with _pytest.raises(PermissionError, match="SELECT"):
            metasql.volume_path(spark, "rw.land.fresh")
    finally:
        spark.conf.set(acl.ENABLED_CONF, "false")
        spark.conf.unset(acl.PRINCIPAL_CONF)
        spark.conf.unset(metasql.VOLUMES_ROOT_CONF)
        acl._GRANTS.clear()
        systables._AUDIT.clear()
        metasql._NAMESPACES.clear()


def test_create_volume_ine_existing_path_is_acl_gated(spark, tmp_path):
    """CREATE VOLUME IF NOT EXISTS over an EXISTING volume must not
    reveal (or makedirs) its location to a principal holding only
    CREATE on the parent schema — the path in the result row comes
    from the ACL-gated resolver when nothing was created."""
    import pytest as _pytest

    from databricks_delta_lake_project_spark.governance import (
        access_control as acl,
        systables,
    )
    from databricks_delta_lake_project_spark.tables import metasql

    ext = tmp_path / "secret_loc"
    try:
        run_statement(
            spark,
            f"CREATE EXTERNAL VOLUME ine.land.zone LOCATION '{ext}'",
        )
        spark.conf.set(acl.ENABLED_CONF, "true")
        spark.conf.set(acl.PRINCIPAL_CONF, "builder")
        acl.grant(spark, "USAGE", "CATALOG", "ine", "builder")
        acl.grant(spark, "CREATE", "SCHEMA", "ine.land", "builder")
        with _pytest.raises(PermissionError, match="SELECT"):
            run_statement(
                spark,
                "CREATE EXTERNAL VOLUME IF NOT EXISTS ine.land.zone "
                f"LOCATION '{tmp_path / 'other'}'",
            )
        # with the read grant, the idempotent re-create reveals the
        # EXISTING location (metadata untouched by the second LOCATION)
        acl.grant(spark, "SELECT", "TABLE", "ine.land.zone", "builder")
        out = run_statement(
            spark,
            "CREATE EXTERNAL VOLUME IF NOT EXISTS ine.land.zone "
            f"LOCATION '{tmp_path / 'other'}'",
        ).collect()[0]
        assert out["path"] == str(ext)
    finally:
        spark.conf.set(acl.ENABLED_CONF, "false")
        spark.conf.unset(acl.PRINCIPAL_CONF)
        acl._GRANTS.clear()
        systables._AUDIT.clear()
        metasql._NAMESPACES.clear()


def test_volume_write_intent_requires_read_too(spark, tmp_path):
    """Write intent enforces SELECT in addition to MODIFY: checkpoint
    dirs and schema registries are read-modify-write, and UC grants
    WRITE VOLUME alongside READ VOLUME — a MODIFY-only principal must
    not gain read access through the write path."""
    import pytest as _pytest

    from databricks_delta_lake_project_spark.governance import (
        access_control as acl,
        systables,
    )
    from databricks_delta_lake_project_spark.tables import metasql

    spark.conf.set(metasql.VOLUMES_ROOT_CONF, str(tmp_path / "vols"))
    try:
        run_statement(spark, "CREATE VOLUME wo.land.zone")
        spark.conf.set(acl.ENABLED_CONF, "true")
        spark.conf.set(acl.PRINCIPAL_CONF, "writeonly")
        acl.grant(spark, "USAGE", "CATALOG", "wo", "writeonly")
        acl.grant(spark, "USAGE", "SCHEMA", "wo.land", "writeonly")
        acl.grant(spark, "MODIFY", "TABLE", "wo.land.zone", "writeonly")
        with _pytest.raises(PermissionError, match="SELECT"):
            metasql.volume_path(spark, "wo.land.zone", intent="write")
        acl.grant(spark, "SELECT", "TABLE", "wo.land.zone", "writeonly")
        assert metasql.volume_path(spark, "wo.land.zone", intent="write")
    finally:
        spark.conf.set(acl.ENABLED_CONF, "false")
        spark.conf.unset(acl.PRINCIPAL_CONF)
        spark.conf.unset(metasql.VOLUMES_ROOT_CONF)
        acl._GRANTS.clear()
        systables._AUDIT.clear()
        metasql._NAMESPACES.clear()
