"""Optimized writes for partitioned tables: every partitioned write is
rebalanced by its partition values, so a commit lands one file per
value (not one per input task × value), while writes that carry their
own layout (OPTIMIZE) and unpartitioned writes keep their plans."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from databricks_delta_lake_project_spark.queries.sqlpack import run_statement
from databricks_delta_lake_project_spark.tables import LakeTable, sqldml


@pytest.fixture
def write_plans(monkeypatch):
    """Optimized logical plan of every frame written to parquet."""
    plans: list[str] = []
    orig = DataFrameWriter.parquet

    def spy(self, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().optimizedPlan().toString())
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    return plans


def _three_values(spark, n: int):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("p"),
        F.lit(0).cast("long").alias("v"),
    )


def _files_per_value(t: LakeTable) -> dict[str, int]:
    out: dict[str, int] = defaultdict(int)
    for e in t._files():
        out[e["partitionValues"]["p"]] += 1
    return dict(out)


def test_partitioned_create_lands_one_file_per_value(spark, tmp_path, write_plans):
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        df=_three_values(spark, 300).repartition(8),
        format="delta",
        partition_by=["p"],
    )
    assert _files_per_value(t) == {"0": 1, "1": 1, "2": 1}
    assert "RebalancePartitions" in write_plans[-1]
    assert t.to_df().count() == 300


def test_partitioned_append_adds_one_file_per_value(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        df=_three_values(spark, 30),
        format="delta",
        partition_by=["p"],
    )
    before = {e["path"] for e in t._files()}
    t.append(_three_values(spark, 10).repartition(4))
    added = [e for e in t._files() if e["path"] not in before]
    # one file per value, not up to 4 tasks × 3 values
    assert len(added) == 3
    assert sorted(e["partitionValues"]["p"] for e in added) == ["0", "1", "2"]
    assert t.to_df().count() == 40


def test_value_larger_than_the_advisory_size_is_split(spark, tmp_path):
    """The rebalance does not funnel a large value into one task: a
    value over the advisory size still lands as several files."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "64k")
    try:
        df = spark.range(20_000).select(
            F.lit(0).alias("p"),
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("h"),
        )
        t = LakeTable.create(
            spark,
            str(tmp_path / "big"),
            df=df.repartition(8),
            format="delta",
            partition_by=["p"],
        )
    finally:
        spark.conf.set(key, old)
    assert 2 <= len(t._files()) <= 8
    assert t.to_df().count() == 20_000


def test_sql_insert_adds_at_most_one_file_per_value(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "ins"),
        df=_three_values(spark, 30),
        format="delta",
        partition_by=["p"],
    )
    sqldml.register_table(spark, "opt_write_ins", t)
    before = {e["path"] for e in t._files()}
    run_statement(
        spark,
        "INSERT INTO opt_write_ins VALUES "
        "(100, 0, 1), (101, 1, 1), (102, 0, 1), (103, 1, 1), (104, 0, 1)",
    ).collect()
    added = [e for e in t._files() if e["path"] not in before]
    assert len(added) <= 2  # two distinct partition values
    assert sum(e["rows"] for e in added) == 5


def test_partitioned_merge_counts_come_from_the_observation(
    spark, tmp_path, monkeypatch
):
    """The rebalance sits above the MERGE's CollectMetrics node; the
    counts must still ride the write, with no explicit recount."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "m"),
        df=_three_values(spark, 30).repartition(4),
        format="delta",
        partition_by=["p"],
    )
    failures: list[Exception] = []
    orig_get = Observation.get

    def get(self):
        try:
            return orig_get.fget(self)
        except Exception as exc:  # recorded, then re-raised unchanged
            failures.append(exc)
            raise

    monkeypatch.setattr(Observation, "get", property(get))
    src = spark.createDataFrame(
        [(0, 0, 7), (4, 1, 7), (5, 2, 7), (100, 1, 7)], "k long, p long, v long"
    )
    m = (
        t.merge(src, "t.k = s.k")
        .whenMatchedUpdate({"v": "s.v"})
        .whenNotMatchedInsertAll()
        .execute()
    )
    assert not failures
    assert m["numTargetRowsUpdated"] == 3
    assert m["numTargetRowsInserted"] == 1
    # the rewrite of the touched files plus the insert: one file per value
    assert max(_files_per_value(t).values()) == 1
    rows = {r["k"]: r["v"] for r in t.to_df().collect()}
    assert len(rows) == 31
    assert [rows[k] for k in (0, 4, 5, 100)] == [7, 7, 7, 7]


def test_unpartitioned_append_plan_has_no_rebalance(spark, tmp_path, write_plans):
    t = LakeTable.create(
        spark, str(tmp_path / "u"), df=_three_values(spark, 10), format="delta"
    )
    before = len(t._files())
    write_plans.clear()
    t.append(_three_values(spark, 10).repartition(4))
    assert write_plans
    assert not any("RebalancePartitions" in p for p in write_plans)
    assert len(t._files()) - before == 4  # one file per input task


def test_partitioned_zorder_keeps_its_clustering(spark, tmp_path, write_plans):
    """OPTIMIZE's range partitioning must survive on a partitioned
    table: a rebalance above it would collapse the layout to one file
    per partition value spanning the whole z range."""
    df = spark.range(4000).select(
        (F.col("id") % 2).alias("p"), (F.col("id") % 1000).alias("x")
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "z"),
        df=df.repartition(8),
        format="delta",
        partition_by=["p"],
    )
    write_plans.clear()
    t.optimize(zorder_by=["x"], target_files=4)
    assert not any("RebalancePartitions" in p for p in write_plans)
    by_value: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for e in t._files():
        st = e["stats"]["x"]
        by_value[e["partitionValues"]["p"]].append((st["min"], st["max"]))
    assert sorted(by_value) == ["0", "1"]
    for ranges in by_value.values():
        assert len(ranges) == 4
        # quartile ranges of x, not files spanning 0-999
        assert all(hi - lo < 300 for lo, hi in ranges), ranges
    assert t.to_df().count() == 4000
