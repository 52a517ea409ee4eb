"""A12-A13 + D1-D5: edges/domains — the dense-cube heart of Qb.

Reference: ``pyLibrary/queries/cube.py`` (dense Matrix output),
``domains.py`` (set/time/duration/range/default domains, allowNulls).
Key semantic: every domain partition materializes, including empty ones —
unlike sparse SQL GROUP BY. Implemented via
``modevetl_spark.operators.cube.densify`` (domain grid crossJoin + left
join + coalesce), a pure DataFrame composition: the raw-data shuffle is the
groupBy; the densify join touches only the tiny aggregated result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modevetl_spark.functions.compat import dsum, sql_dsum
from modevetl_spark.operators.cube import (
    default_domain,
    densify,
    range_domain,
    set_domain,
    time_domain,
)
from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()


_CUBE_DENSE_ORACLE = f"""
WITH flags AS (SELECT unnest(['A', 'N', 'R']) AS l_returnflag),
     statuses AS (SELECT unnest(['F', 'O']) AS l_linestatus),
     agg AS (
         SELECT l_returnflag, l_linestatus,
                COUNT(*) AS n,
                {sql_dsum('l_quantity', 'sum_qty')}
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '2001-06-01'
         GROUP BY 1, 2
     )
SELECT f.l_returnflag, s.l_linestatus,
       COALESCE(a.n, 0) AS n,
       COALESCE(a.sum_qty, 0.0) AS sum_qty
FROM flags f
CROSS JOIN statuses s
LEFT JOIN agg a USING (l_returnflag, l_linestatus)
"""


@q("q_cube_dense", oracle_sql=_CUBE_DENSE_ORACLE)
def cube_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/D1: dense cube over two explicit ``set`` domains. The late
    shipdate filter guarantees genuinely empty cells that must still
    appear (count 0) — the defining Qb cube behavior."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.to_timestamp(F.lit("2001-06-01"))
    )
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity").alias("sum_qty"),
    )
    grid = [
        set_domain(spark, "l_returnflag", ["A", "N", "R"]),
        set_domain(spark, "l_linestatus", ["F", "O"]),
    ]
    return densify(
        grid,
        agg,
        keys=["l_returnflag", "l_linestatus"],
        fill={"n": F.lit(0).cast("long"), "sum_qty": F.lit(0.0)},
    )


_ROLLUP_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 'total_value')}
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


@q("q_rollup", oracle_sql=_ROLLUP_ORACLE)
def rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 [EXT]: SQL ROLLUP subtotals (Qb cubes have no subtotal rows)."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_value"),
    )


_CUBE_TIME_ORACLE = f"""
WITH months AS (
    SELECT m AS order_month
    FROM generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-07-01',
                         INTERVAL 1 MONTH) AS t(m)
),
agg AS (
    SELECT date_trunc('month', o_orderdate) AS order_month,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'total_value')}
    FROM orders
    GROUP BY 1
)
SELECT m.order_month,
       COALESCE(a.n_orders, 0) AS n_orders,
       COALESCE(a.total_value, 0.0) AS total_value
FROM months m
LEFT JOIN agg a USING (order_month)
"""


@q("q_cube_time", oracle_sql=_CUBE_TIME_ORACLE)
def cube_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: ``time`` domain — min/max/interval calendar partitions, all
    materialized (Date.floor('month') ≈ date_trunc)."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    agg = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_value"),
    )
    grid = [time_domain(spark, "order_month", "1995-01-01", "2001-08-01", "1 MONTH")]
    return densify(
        grid,
        agg,
        keys=["order_month"],
        fill={"n_orders": F.lit(0).cast("long"), "total_value": F.lit(0.0)},
    )


_BUCKET_DURATION_ORACLE = """
SELECT CAST(floor(date_diff('day', o_orderdate, l_shipdate) / 30) * 30 AS BIGINT)
           AS wait_bucket_days,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


@q("q_bucket_duration", oracle_sql=_BUCKET_DURATION_ORACLE)
def bucket_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: ``duration`` domain — elapsed order->ship time in 30-day buckets."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    wait = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            (F.floor(wait / 30) * 30).cast("long").alias("wait_bucket_days")
        )
        .agg(F.count(F.lit(1)).alias("n_items"))
    )


_BUCKET_NUMERIC_ORACLE = """
WITH buckets AS (
    SELECT CAST(b AS DOUBLE) AS price_bucket
    FROM generate_series(0, 550000, 50000) AS t(b)
),
agg AS (
    SELECT floor(o_totalprice / 50000) * 50000 AS price_bucket,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1
)
SELECT b.price_bucket, COALESCE(a.n_orders, 0) AS n_orders
FROM buckets b
LEFT JOIN agg a USING (price_bucket)
"""


@q("q_bucket_numeric", oracle_sql=_BUCKET_NUMERIC_ORACLE)
def bucket_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: ``range`` domain — fixed-width numeric buckets, densified.

    The bucket expression range-guards the floor leg: Spark floor(double)
    SATURATES to Long.MaxValue (no error), so floor(1e300/5e4)*50000 is a
    long-overflow abort on one dirty row. Out-of-range prices take a NULL
    bucket, which the densify grid join drops — exactly where the
    oracle's un-guarded double floor (DuckDB keeps a double) lands its
    1e300 bucket: outside the grid. Identical output on both engines,
    clean or hostile."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    agg = o.groupBy(
        F.when(
            F.abs(F.col("o_totalprice")) < 9.2e18,
            F.floor(F.col("o_totalprice") / 50000) * 50000,
        )
        .cast("double")
        .alias("price_bucket")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    grid = [range_domain(spark, "price_bucket", 0.0, 600000.0, 50000.0)]
    return densify(
        grid, agg, keys=["price_bucket"], fill={"n_orders": F.lit(0).cast("long")}
    )


_DEFAULT_DOMAIN_ORACLE = """
WITH segs AS (SELECT DISTINCT c_mktsegment FROM customer),
     agg AS (
         SELECT c_mktsegment, COUNT(*) AS n_customers,
                COUNT(DISTINCT c_nationkey) AS n_nations
         FROM customer
         GROUP BY 1
     )
SELECT s.c_mktsegment,
       COALESCE(a.n_customers, 0) AS n_customers,
       COALESCE(a.n_nations, 0) AS n_nations
FROM segs s
LEFT JOIN agg a USING (c_mktsegment)
"""


@q("q_cube_default_domain", oracle_sql=_DEFAULT_DOMAIN_ORACLE)
def cube_default_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: ``default`` domain — partitions discovered from the data at
    query time (select distinct, capped)."""
    prep(spark)
    c = load(spark, sf_dir, "customer")
    agg = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )
    grid = [default_domain(c, "c_mktsegment")]
    return densify(
        grid,
        agg,
        keys=["c_mktsegment"],
        fill={
            "n_customers": F.lit(0).cast("long"),
            "n_nations": F.lit(0).cast("long"),
        },
    )


_ALLOW_NULLS_ORACLE = f"""
WITH flags AS (SELECT unnest(['N', 'R', '<null>']) AS flag),
     agg AS (
         SELECT COALESCE(nullif(l_returnflag, 'A'), '<null>') AS flag,
                COUNT(*) AS n,
                {sql_dsum('l_quantity', 'sum_qty')}
         FROM lineitem
         GROUP BY 1
     )
SELECT f.flag, COALESCE(a.n, 0) AS n, COALESCE(a.sum_qty, 0.0) AS sum_qty
FROM flags f
LEFT JOIN agg a USING (flag)
"""


@q("q_cube_allow_nulls", oracle_sql=_ALLOW_NULLS_ORACLE)
def cube_allow_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 ``allowNulls``: values outside the declared domain (here 'A',
    nulled out to simulate missing data) land in the overflow partition
    (``domains.py`` allowNulls=True)."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem").withColumn(
        "flag", F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("A")), F.lit("<null>"))
    )
    agg = li.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    )
    grid = [set_domain(spark, "flag", ["N", "R", "<null>"])]
    return densify(
        grid,
        agg,
        keys=["flag"],
        fill={"n": F.lit(0).cast("long"), "sum_qty": F.lit(0.0)},
    )
