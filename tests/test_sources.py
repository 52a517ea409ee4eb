"""Source/sink format round-trips, the bucketed co-located join and the
catalog's no-job read gate."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from modevetl_spark.sources.catalog import TABLES, load
from modevetl_spark.sources.formats import (
    read_csv,
    read_jsonl,
    read_orc,
    write_bucketed,
    write_csv,
    write_jsonl,
    write_orc,
)


def _assert_same_rows(a, b, key):
    assert a.count() == b.count()
    assert a.exceptAll(b.select(a.columns)).count() == 0


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents")
    p = str(tmp_path / "docs_json")
    write_jsonl(docs, p)
    back = read_jsonl(spark, p, schema=docs.schema)
    _assert_same_rows(docs, back, "doc_id")
    inferred = read_jsonl(spark, p)  # inference path
    assert set(inferred.columns) == set(docs.columns)


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    nat = load(spark, sf_dir, "nation")
    p = str(tmp_path / "nation_csv")
    write_csv(nat, p)
    back = read_csv(spark, p, schema=nat.schema)
    _assert_same_rows(nat, back, "n_nationkey")


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    orders = load(spark, sf_dir, "orders")
    p = str(tmp_path / "orders_orc")
    write_orc(orders, p)
    _assert_same_rows(orders, read_orc(spark, p), "o_orderkey")


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Bucketing both sides on the join key -> SortMergeJoin with zero
    Exchange operators (the co-located join plan)."""
    # spark.sql.warehouse.dir is static; tables land in the session's
    # default warehouse and are dropped (managed => data deleted) below
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_b", ["l_orderkey"], 4, sort_cols=["l_orderkey"])
    write_bucketed(
        o.withColumnRenamed("o_orderkey", "l_orderkey"),
        "o_b",
        ["l_orderkey"],
        4,
        sort_cols=["l_orderkey"],
    )
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


def test_range_sorted_layout_prunable(spark, sf_dir, tmp_path):
    """write_range_sorted produces disjoint per-file key ranges (the
    property parquet min/max pruning needs to skip files)."""
    from modevetl_spark.sources.formats import write_range_sorted

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    path = str(tmp_path / "li_ranged")
    write_range_sorted(li, path, ["l_orderkey"], n_partitions=4)
    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi"))
        .collect()
    )
    assert len(per_file) >= 2
    spans = sorted((r.lo, r.hi) for r in per_file)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1, hi1)} {(lo2, hi2)}"
    # round-trip completeness
    assert spark.read.parquet(path).count() == li.count()


def test_es_bulk_lines_format(spark, sf_dir):
    """Bulk body:each row renders an action line (with _index/_id) and a
    source line that round-trips the row."""
    import json

    from modevetl_spark.sources.formats import es_bulk_lines

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).limit(5)
    lines = [r.line for r in es_bulk_lines(o, "orders_v1", "o_orderkey").collect()]
    assert len(lines) == 5
    for chunk in lines:
        action_s, source_s = chunk.split("\n")
        action = json.loads(action_s)
        source = json.loads(source_s)
        assert action["index"]["_index"] == "orders_v1"
        assert action["index"]["_id"] == str(source["o_orderkey"])
        assert set(source) == {"o_orderkey", "o_orderstatus"}


def test_zorder_value_interleaves_bits(spark):
    from modevetl_spark.sources.formats import zorder_value

    def morton(vals, bits, n):
        z = 0
        for d, v in enumerate(vals):
            for i in range(bits):
                z |= ((v >> i) & 1) << (i * n + d)
        return z

    pts = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(pts, ["x", "y"])
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zorder_value([F.col("x"), F.col("y")], bits=3).alias("z")
        ).collect()
    }
    for (x, y), z in got.items():
        assert z == morton((x, y), 3, 2), (x, y, z)
    # locality sanity: the four unit-quadrant corners of [0,4)^2 all sort
    # before any point of the [4,8)^2 quadrant
    assert max(got[(x, y)] for x in range(4) for y in range(4)) < min(
        got[(x, y)] for x in range(4, 8) for y in range(4, 8)
    )


def test_write_zordered_prunes_both_dimensions(spark, tmp_path):
    """Per-file min/max bounding boxes: a narrow band on the SECOND
    z-order column must intersect far fewer files than under a layout
    range-sorted by the first column only."""
    from modevetl_spark.sources.formats import write_range_sorted, write_zordered

    pts = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(pts, ["x", "y"])

    zpath = str(tmp_path / "zord")
    rpath = str(tmp_path / "rsort")
    write_zordered(df, zpath, ["x", "y"], n_partitions=16, bits=6)
    write_range_sorted(df, rpath, ["x"], n_partitions=16)

    def files_touching_y_band(path, lo, hi):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.min("y").alias("lo"), F.max("y").alias("hi"))
        )
        return per_file.where((F.col("hi") >= lo) & (F.col("lo") <= hi)).count()

    z_touched = files_touching_y_band(zpath, 10, 12)
    r_touched = files_touching_y_band(rpath, 10, 12)
    assert z_touched * 2 <= r_touched, (z_touched, r_touched)


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
