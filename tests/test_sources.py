"""The bucketed co-located join and the catalog's no-job read gates."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from modevetl_spark.sources.catalog import TABLES, load


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Bucketing both sides on the join key -> SortMergeJoin with zero
    Exchange operators (the co-located join plan)."""
    # spark.sql.warehouse.dir is static; tables land in the session's
    # default warehouse and are dropped (managed => data deleted) below
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    for df, table in ((li, "li_b"), (o, "o_b")):
        df.write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy(
            "l_orderkey"
        ).saveAsTable(table)
    # disable broadcast so the join would otherwise need a shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(spark.table("o_b"), "l_orderkey")
        mode = joined._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = joined._jdf.queryExecution().explainString(mode)
        tree = plan.split("(1) Scan")[0]
        assert "SortMergeJoin" in plan
        assert tree.count("- Exchange (") == 0, tree
        assert joined.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


@pytest.mark.parametrize("table", TABLES)
def test_catalog_load_launches_no_job(spark, sf_dir, table, jobs_launched):
    """Declared schemas mean a table read plans from metadata: no
    schema-inference job per read. Job counts do not move with host load,
    so this is an exact regression gate."""
    assert jobs_launched(lambda: load(spark, sf_dir, table)) == 0


@pytest.mark.parametrize(
    "key",
    ["q_flagship_revenue_cube", "q_tpch_local_supplier", "q_tpch_volume_shipping"],
)
def test_query_build_launches_no_job(spark, sf_dir, key, jobs_launched):
    """Building (not executing) these multi-table keys — 5-6 catalog reads
    each — launches no Spark job."""
    from modevetl_spark.queries import all_queries

    build = all_queries()[key]
    assert jobs_launched(lambda: build(spark, sf_dir)) == 0
