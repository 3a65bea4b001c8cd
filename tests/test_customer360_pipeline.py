"""End-to-end medallion pipeline: bronze -> silver (quality gates) ->
gold over the deterministic testdata, plus CDF-based incremental
consumption of a pipeline output."""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_delta_lake_project_spark.pipelines import run_customer360
from databricks_delta_lake_project_spark.tables import LakeTable

from conftest import SF_SMALL


def test_customer360_end_to_end(spark, tmp_path):
    res = run_customer360(spark, SF_SMALL, str(tmp_path / "lake"))

    # DAG ordering: bronze feeds silver feeds gold
    o = res.order
    assert o.index("bronze_orders") < o.index("silver_orders")
    assert o.index("silver_orders") < o.index("gold_customer_360")
    assert o.index("silver_events") < o.index("gold_customer_360")
    assert o.index("silver_orders") < o.index("gold_revenue_daily")

    # silver gate dropped nothing on clean synthetic data but measured all rules
    exp = res.metrics["silver_orders"]["expectations"]
    assert set(exp) == {
        "valid_order_key", "valid_cust_fk", "positive_amount", "known_status"
    }
    assert all(v["n_fail"] == 0 for k, v in exp.items() if k != "known_status")

    # gold tables materialized with plausible shapes
    lake = tmp_path / "lake"
    c360 = LakeTable.for_path(spark, str(lake / "gold_customer_360")).to_df()
    assert c360.count() == res.metrics["gold_customer_360"]["rows"]
    assert {"customer_id", "order_count", "total_spent", "value_tier"} <= set(
        c360.columns
    )
    # no orphan aggregates: every row is a customer row
    n_customers = spark.read.parquet(f"{SF_SMALL}/customer.parquet").count()
    assert c360.count() == n_customers

    rev = LakeTable.for_path(spark, str(lake / "gold_revenue_daily")).to_df()
    row = rev.orderBy(F.col("order_date").desc()).first()
    total = rev.agg(F.sum("revenue")).collect()[0][0]
    assert abs(row["cum_revenue"] - total) < 1e-6  # running total converges

    seg = LakeTable.for_path(spark, str(lake / "gold_rfm_segments")).to_df()
    segs = {r["segment"] for r in seg.select("segment").distinct().collect()}
    assert segs <= {"champion", "loyal", "potential", "at_risk", "hibernating"}
    assert seg.count() > 0


def test_customer360_rerun_is_stable(spark, tmp_path):
    root = str(tmp_path / "lake")
    res1 = run_customer360(spark, SF_SMALL, root)
    res2 = run_customer360(spark, SF_SMALL, root)
    assert res2.metrics["gold_customer_360"]["action"] == "overwrite"
    assert (
        res1.metrics["gold_customer_360"]["rows"]
        == res2.metrics["gold_customer_360"]["rows"]
    )


def test_cdf_feeds_incremental_consumer(spark, tmp_path):
    """A CDF-enabled table's change feed is a valid streaming source
    for downstream incremental pipelines (S4-equivalent)."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        df=spark.createDataFrame([(1, "a")], "id long, v string"),
        properties={"enableChangeDataFeed": True},
    )
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    t.delete(F.col("id") == 1)

    changes = t.read_changes(starting_version=0)
    by_type = {
        (r["id"], r["_change_type"]) for r in changes.collect()
    }
    assert (1, "insert") in by_type
    assert (2, "insert") in by_type
    assert (1, "delete") in by_type

    # stream the change feed into a downstream aggregate
    stream = t.read_changes_stream()
    q = (
        stream.groupBy("_change_type")
        .count()
        .writeStream.format("memory")
        .queryName("cdf_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    counts = {
        r["_change_type"]: r["count"]
        for r in spark.sql("SELECT * FROM cdf_counts").collect()
    }
    assert counts.get("insert") == 2
    assert counts.get("delete") == 1
