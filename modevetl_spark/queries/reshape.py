"""Reshape + time-series queries [EXT]: pivot/unpivot (the relational
form of the reference's cube Matrix output) and gap-fill /
forward-fill (standard analytics-engine time-series operators built on
the densify + window primitives).

Also here:

- ``q_gapfill_percentile`` — day-grid gap fill with each user's lower median.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modevetl_spark.operators.cube import densify, time_domain
from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()

_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_ORACLE = f"""
SELECT user_id,
       {", ".join(
           f"CAST(COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT)"
           f" AS {t}" for t in _TYPES
       )}
FROM events
GROUP BY user_id
"""


@q("q_pivot", oracle_sql=_PIVOT_ORACLE)
def pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long->wide: per-user event-type counts as columns (the
    relational face of a 2-edge dense cube). Pivot values are declared
    explicitly so no extra distinct pass runs and columns are stable."""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").pivot("event_type", _TYPES).count()
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in _TYPES],
    )


_UNPIVOT_ORACLE = """
SELECT user_id, event_type, COUNT(*) AS n
FROM events
GROUP BY user_id, event_type
"""


@q("q_unpivot", oracle_sql=_UNPIVOT_ORACLE)
def unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot wide->long (round-trips the pivot back; zero-count cells
    drop out, restoring the sparse groupby)."""
    prep(spark)
    wide = pivot(spark, sf_dir)
    long = wide.unpivot(
        ids=["user_id"],
        values=_TYPES,
        variableColumnName="event_type",
        valueColumnName="n",
    )
    return long.where(F.col("n") > 0)


_FFILL_ORACLE = """
WITH days AS (
    SELECT d AS day
    FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30',
                         INTERVAL 1 DAY) t(d)
),
users AS (SELECT DISTINCT user_id FROM events),
daily AS (
    SELECT user_id,
           date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
           ROUND(CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)
               AS daily_value
    FROM events
    GROUP BY 1, 2
)
SELECT u.user_id,
       dy.day,
       COALESCE(d.daily_value,
                last_value(d.daily_value IGNORE NULLS) OVER (
                    PARTITION BY u.user_id ORDER BY dy.day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                0.0) AS filled_value
FROM users u
CROSS JOIN days dy
LEFT JOIN daily d ON d.user_id = u.user_id AND d.day = dy.day
"""


@q("q_gapfill_ffill", oracle_sql=_FFILL_ORACLE)
def gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill + forward fill: densify the user x day grid,
    then carry the last observed daily value forward into the gaps
    (densify + last(ignorenulls) window; no UDF)."""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.round(
            F.sum(F.col("value").try_cast("decimal(18,6)")).cast("double"), 2
        ).alias("daily_value")
    )
    grid = [
        ev.select("user_id").distinct(),
        time_domain(spark, "day", "2024-01-01", "2024-01-31", "1 DAY"),
    ]
    dense = densify(grid, daily, keys=["user_id", "day"], fill={})
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return dense.select(
        "user_id",
        "day",
        F.coalesce(
            F.col("daily_value"),
            F.last("daily_value", ignorenulls=True).over(w),
            F.lit(0.0),
        ).alias("filled_value"),
    )


_PROFILE_ORACLE = """
SELECT 'l_quantity' AS col, COUNT(*) AS n, CAST(COUNT(l_quantity) AS BIGINT) AS n_nonnull,
       ROUND(MIN(l_quantity), 6) AS min_v, ROUND(MAX(l_quantity), 6) AS max_v,
       CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct
FROM lineitem
UNION ALL
SELECT 'l_discount', COUNT(*), CAST(COUNT(l_discount) AS BIGINT),
       ROUND(MIN(l_discount), 6), ROUND(MAX(l_discount), 6),
       CAST(COUNT(DISTINCT l_discount) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', COUNT(*), CAST(COUNT(l_extendedprice) AS BIGINT),
       ROUND(MIN(l_extendedprice), 6), ROUND(MAX(l_extendedprice), 6),
       CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT)
FROM lineitem
"""


@q("q_profile_columns", oracle_sql=_PROFILE_ORACLE)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] column profiling (the data-quality sweep a pipeline runs
    before training): one scan, all column stats via a single multi-agg
    projection unioned into long form — not one job per column."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_discount", "l_extendedprice"]
    stats = li.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            agg
            for c in cols
            for agg in (
                F.count(c).alias(f"{c}__nonnull"),
                F.round(F.min(c), 6).alias(f"{c}__min"),
                F.round(F.max(c), 6).alias(f"{c}__max"),
                F.countDistinct(c).alias(f"{c}__distinct"),
            )
        ],
    )
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col("n").alias("n"),
                F.col(f"{c}__nonnull").alias("n_nonnull"),
                F.col(f"{c}__min").alias("min_v"),
                F.col(f"{c}__max").alias("max_v"),
                F.col(f"{c}__distinct").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return stats.select(F.explode(per_col).alias("s")).select("s.*")


# --- Gap fill with the per-key lower median -----------------------------

_MEDIAN_FILL_ORACLE = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           ROUND(CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
    FROM events
    WHERE ts >= TIMESTAMP '1900-01-01' AND ts < TIMESTAMP '2100-01-01'
    GROUP BY 1, 2
),
span AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1),
grid AS (
    SELECT user_id,
           CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
    FROM span
),
ranked AS (
    SELECT user_id, v,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY v, day) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS cnt
    FROM daily WHERE v IS NOT NULL
),
med AS (
    SELECT user_id, v AS med_v FROM ranked
    WHERE rn = CAST(CEIL(cnt / CAST(2 AS DOUBLE)) AS BIGINT)
)
SELECT g.user_id, CAST(g.day AS TIMESTAMP) AS day,
       COALESCE(d.v, m.med_v) AS value_filled,
       d.v IS NOT NULL AS observed
FROM grid g
LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
JOIN med m ON m.user_id = g.user_id
"""


@q("q_gapfill_percentile", oracle_sql=_MEDIAN_FILL_ORACLE)
def gapfill_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2+/T2+ [EXT]: gap fill with the per-key LOWER MEDIAN — densify
    each user's daily metric to a full day grid and fill missing days
    with the user's median observed daily value: the robust-statistic
    fill that completes the family next to last-observation
    (``q_gapfill_ffill``) and linear interpolation
    (``q_gapfill_interp``); medians shrug off the outlier days that
    poison a mean fill.

    Lower median on purpose (rank ``ceil(n/2)`` in ``(v, day)``
    order): it SELECTS an existing 6dp value instead of averaging the
    middle pair, so no new float is manufactured and the cross-engine
    .5-boundary rounding trap (round-5 k-means lesson) cannot occur —
    the oracle picks the identical row by the identical rank rule.
    NULL daily sums (a user-day whose every ``value`` is NULL) are
    excluded from the median rank on BOTH engines — Spark orders NULLs
    first while SQL ROW_NUMBER orders them last, so letting them into
    the rank would silently shift the pick (and could even fill gaps
    with NULL); the fill for such a day still comes from the non-null
    median via COALESCE.

    Plan shape: one (user, day) hash agg; the per-user median is a
    user-partitioned window rank (balanced — partitioned by key, never
    global) picking one row per user; the grid is generated from each
    user's min/max span (|users|·|days| rows — produced, never
    scanned) and takes the fill via two user-keyed joins that share
    the aggregation's hash partitioning. At 100 TB nothing windows or
    sorts globally. The valid-event-time guard (mirrored in the
    oracle) bounds the span a single malformed year-9999 row could
    otherwise explode to ~2.9M grid rows — the q_gapfill_interp
    poison-pill class."""
    prep(spark)
    ev = load(spark, sf_dir, "events").where(
        (F.col("ts") >= F.lit("1900-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2100-01-01").cast("timestamp"))
    )
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        # try_cast at the fold seam: one 1e300 value row NULLs out
        # instead of aborting the stage (COVERAGE.md M11)
        F.round(
            F.sum(F.col("value").try_cast("decimal(18,6)")).cast("double"), 6
        ).alias("v")
    )
    w_rank = Window.partitionBy("user_id").orderBy("v", "day")
    w_cnt = Window.partitionBy("user_id")
    med = (
        daily.where(F.col("v").isNotNull())
        .select(
            "user_id",
            "v",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w_cnt).alias("cnt"),
        )
        .where(
            F.col("rn")
            == F.ceil(F.col("cnt") / F.lit(2.0)).cast("bigint")
        )
        .select("user_id", F.col("v").alias("med_v"))
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    grid = span.select("user_id", F.explode(F.sequence("lo", "hi")).alias("day"))
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .join(med, "user_id")
        .select(
            "user_id",
            F.col("day").cast("timestamp").alias("day"),
            F.coalesce("v", "med_v").alias("value_filled"),
            F.col("v").isNotNull().alias("observed"),
        )
    )
