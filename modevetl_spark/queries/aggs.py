"""A1-A15: the Qb aggregate family (``select.aggregate`` names).

Reference: ``pyLibrary/queries/windows.py`` accumulators (python path) and
``es_query_aggop.py``/``es_query_terms.py`` (facet path). The reference's
``stats.py`` keeps Z-moments (sums of powers) and derives var/skew/kurt
from them — we reproduce exactly that design for the moments query because
it is also the only way to get bit-identical floats out of two engines.

Scale notes: every query here is groupBy->agg — partial aggregation
(map-side combine) collapses data before the shuffle; group-key cardinality
is tiny, so the exchange moves only partials. ``collect_set`` is bounded by
the value domain (small here); for unbounded domains prefer the multiset
map (q_map_counts) or approx sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modevetl_spark.functions.compat import davg, dsum, sql_davg, sql_dsum
from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()


_BASIC_ORACLE = f"""
SELECT COUNT(*) AS n_rows,
       COUNT(l_quantity) AS n_qty,
       {sql_dsum('l_quantity', 'sum_qty')},
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty,
       {sql_davg('l_quantity', 'avg_qty')}
FROM lineitem
"""


@q("q_agg_basic", oracle_sql=_BASIC_ORACLE)
def agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A3: count / sum / min / max / average (global aggop)."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_quantity").alias("n_qty"),
        dsum("l_quantity").alias("sum_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        davg("l_quantity").alias("avg_qty"),
    )


_GEOMEAN_ORACLE = """
SELECT l_returnflag,
       ROUND(EXP(CAST(SUM(TRY_CAST(LN(l_quantity) AS DECIMAL(38,20)))
                      AS DOUBLE)
                 / COUNT(l_quantity)), 6) AS geomean_qty
FROM lineitem
WHERE l_quantity > 0
GROUP BY l_returnflag
"""


@q("q_agg_geomean", oracle_sql=_GEOMEAN_ORACLE)
def agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: geometric mean = exp(avg(ln x)), ln-sums accumulated in decimal
    so partial-aggregation order can't drift the result."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 0)
    # try convention (r13 cohort); ln of any finite positive double is
    # ≤ ~709.8, structurally inside (38,20) — one-convention invariant
    ln_sum = F.sum(
        F.log(F.col("l_quantity")).try_cast("decimal(38,20)")
    ).cast("double")
    return li.groupBy("l_returnflag").agg(
        # no 0-count guard needed: the l_quantity > 0 filter means every
        # group is formed from non-null rows, so COUNT >= 1 structurally
        F.round(F.exp(ln_sum / F.count("l_quantity")), 6).alias("geomean_qty")
    )


_MEDIAN_ORACLE = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty
FROM lineitem
GROUP BY l_returnflag
"""


@q("q_agg_median", oracle_sql=_MEDIAN_ORACLE)
def agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: exact median (linear-interpolated 50th percentile).

    Exact ``percentile`` here for oracle parity; the 100 TB path is
    ``percentile_approx`` (sketch-mergeable, single pass) — see
    tests/test_operators.py for the approx twin.
    """
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median_qty")
    )


_PCTL_ORACLE = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.90), 6) AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99
FROM lineitem
GROUP BY l_returnflag
"""


@q("q_agg_percentile", oracle_sql=_PCTL_ORACLE)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: parameterized percentiles."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("l_extendedprice", F.lit(0.90)), 6).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 6).alias("p99"),
    )


_DISTINCT_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps
FROM lineitem
GROUP BY l_returnflag
"""


@q("q_agg_distinct_count", oracle_sql=_DISTINCT_ORACLE)
def agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: cardinality. Exact here; at 100 TB swap in
    approx_count_distinct (HLL, mergeable, no distinct-expand shuffle)."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


_COLLECT_ORACLE = """
SELECT o_orderstatus,
       string_agg(o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
GROUP BY o_orderstatus
"""


@q("q_agg_collect_set", oracle_sql=_COLLECT_ORACLE)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: ``union`` aggregate (set-union of values), array_sort'ed for
    determinism.

    The set is emitted as a joined string because pandas-level array reprs
    differ between Spark (list) and DuckDB (ndarray) and would break the
    driver's value hash; the genuine array form is unit-tested in
    tests/test_operators.py.
    """
    prep(spark)
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderpriority")), ","
        ).alias("priorities")
    )


_COND_ORACLE = f"""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returned,
       COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted,
       {sql_dsum("CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END", 'returned_value')}
FROM lineitem
GROUP BY l_linestatus
"""


@q("q_agg_conditional", oracle_sql=_COND_ORACLE)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: conditional counts/sums (count-where idiom)."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "n_returned"
        ),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
        dsum(
            F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice")).otherwise(
                0
            )
        ).alias("returned_value"),
    )


# Z-moment formulas from exact decimal power sums (the reference's stats.py
# stores exactly these sums). Same algebra in both engines -> identical
# doubles; also sidesteps Spark-vs-DuckDB skew/kurt definition differences
# (population vs bias-corrected sample).
_MOMENTS_ORACLE = """
WITH sums AS (
    SELECT l_returnflag,
           COUNT(l_quantity) AS n,
           CAST(SUM(TRY_CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS s1,
           CAST(SUM(TRY_CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS s2
    FROM lineitem
    GROUP BY l_returnflag
)
SELECT l_returnflag,
       CASE WHEN n > 1
            THEN ROUND(GREATEST(s2 - s1 * s1 / n, 0) / (n - 1), 6)
       END AS var_qty,
       CASE WHEN n > 1
            THEN ROUND(SQRT(GREATEST(s2 - s1 * s1 / n, 0) / (n - 1)), 6)
       END AS std_qty
FROM sums
"""


@q("q_agg_moments", oracle_sql=_MOMENTS_ORACLE)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: variance/std from exact power sums (Z-moments, ``stats.py``).

    Degenerate-group contract (SQL var_samp semantics, mirrored in the
    oracle's CASE WHEN): a group with n ≤ 1 non-null values has no
    sample variance → NULL, never a DIVIDE_BY_ZERO job abort under ANSI
    mode; the cancellation ``s2 − s1²/n`` is clamped at 0 on both
    engines (it can land at −1e−18 on constant groups, where Spark's
    sqrt returns NaN but DuckDB's raises)."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    qv = F.col("l_quantity")
    sums = li.groupBy("l_returnflag").agg(
        F.count(qv).alias("n"),
        F.sum(qv.try_cast("decimal(18,6)")).cast("double").alias("s1"),
        F.sum((qv * qv).try_cast("decimal(28,6)")).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    var = F.when(
        n > 1, F.greatest(s2 - s1 * s1 / n, F.lit(0.0)) / (n - F.lit(1))
    )
    return sums.select(
        "l_returnflag",
        F.round(var, 6).alias("var_qty"),
        F.round(F.sqrt(var), 6).alias("std_qty"),
    )


_GROUPBY_ORACLE = f"""
SELECT l_returnflag,
       l_linestatus,
       {sql_dsum('l_quantity', 'sum_qty')},
       {sql_dsum('l_extendedprice', 'sum_base_price')},
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
       {sql_davg('l_quantity', 'avg_qty')},
       {sql_davg('l_discount', 'avg_disc')},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@q("q_groupby_multi", oracle_sql=_GROUPBY_ORACLE)
def groupby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: sparse multi-key groupby with a battery of aggregates (the
    TPC-H Q1 shape — one row per observed key combo)."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("2001-09-02"))
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc_price).alias("sum_disc_price"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


_DISTINCT_ROWS_ORACLE = """
SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
"""


@q("q_distinct_rows", oracle_sql=_DISTINCT_ROWS_ORACLE)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: Q.distinct / unique rows."""
    prep(spark)
    return load(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment").distinct()


_MODE_ORACLE = """
SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS n_rows
FROM (
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
           ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                              ORDER BY COUNT(*) DESC,
                                       o_orderpriority DESC) AS rn
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
)
WHERE rn = 1
"""


@q("q_agg_mode", oracle_sql=_MODE_ORACLE)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+: per-group mode (most frequent value) with a DETERMINISTIC
    tie-break (highest value wins). Spark's built-in ``F.mode`` is
    explicitly non-deterministic on ties, so this uses the max-of-struct
    idiom instead: count per (group, value), then ``max(struct(cnt, value))``
    — an ordinary two-level hash aggregate with map-side partials, no
    window, no sort. At 100 TB both aggregations shuffle only distinct
    (group, value) pairs."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    cnt = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    top = cnt.groupBy("o_orderstatus").agg(
        F.max(F.struct("cnt", "o_orderpriority")).alias("m")
    )
    return top.select(
        "o_orderstatus",
        F.col("m.o_orderpriority").alias("mode_priority"),
        F.col("m.cnt").alias("n_rows"),
    )


_STRING_AGG_ORACLE = """
SELECT c_nationkey,
       string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
       COUNT(*) AS n_customers
FROM customer
GROUP BY c_nationkey
"""


@q("q_agg_string_agg", oracle_sql=_STRING_AGG_ORACLE)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8+: ordered string aggregation (LISTAGG / string_agg) — distinct
    values per group, sorted, joined with a separator. Spark has no
    ordered string_agg aggregate, but ``collect_set`` + ``array_sort`` +
    ``array_join`` is semantically identical and keeps the ordering
    deterministic regardless of shuffle order. collect_set partials merge
    map-side; only distinct values travel, so group payload is bounded by
    domain cardinality, not row count."""
    prep(spark)
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias(
            "segments"
        ),
        F.count(F.lit(1)).alias("n_customers"),
    )
