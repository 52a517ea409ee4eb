"""Round-5 breadth, part 2: warehouse/ETL shapes a reference user runs
daily — TPC-H Q4 (EXISTS semi-join shape) and Q7 (two-nation volume
shipping), SCD Type-2 dimension building from a change log, sequential
Poisson weighted sampling (integer-exact, engine-portable), per-user-day
session path mining, and MAD robust group statistics. All oracle-gated.

Reference parity note: the upstream engine's ETL jobs are incremental
upsert loops over change feeds (`[UPSTREAM MoDevETL/hierarchy.py]`);
SCD-2 interval building is the lakehouse-native statement of that same
change-capture contract, and the TPC-H shapes exercise the join matrix
(§2.3) at report altitude.

Float discipline matches the rest of the repo: money sums go through the
decimal-exact compat layer; percentile/interpolation outputs are rounded
to 6 dp (the grade established by q_agg_median/q_agg_percentile);
sampling priorities are pure BIGINT arithmetic — no float anywhere.

Also here:

- ``q_sample_reservoir`` — exactly-k uniform sample of orders.
- ``q_sample_reservoir_weighted`` — exactly-k weighted reservoir sample.
- ``q_linkage_weights`` — Fellegi–Sunter frequency-weighted linkage scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modevetl_spark.functions.compat import dsum_money, sql_dsum_money
from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()


# --- TPC-H Q4 shape: order-priority count over an EXISTS probe ----------

_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM (
    SELECT DISTINCT o.o_orderkey, o.o_orderpriority
    FROM orders o
    JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
)
GROUP BY o_orderpriority
"""


@q("q_tpch_order_priority", oracle_sql=_Q4_ORACLE)
def tpch_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+: TPC-H Q4 shape — orders in a half-year window that had at
    least one line item shipped after the order date (the fixture's
    stand-in for commitdate<receiptdate), counted per priority.

    Plan shape: the date-filtered orders slice broadcasts (a half-year
    of order keys), so the EXISTS probe runs as a broadcast-hash join
    the fact table STREAMS through — lineitem is never shuffled; only
    the matched (orderkey, priority) pairs (a tiny fraction) reach the
    distinct's exchange, and the final agg groups on ~5 priorities.
    At 100 TB, if a date slice outgrows the broadcast threshold the
    same query falls back to a shuffled left-semi join keyed on the
    order key — drop the hint and let AQE decide; the semantics don't
    move."""
    prep(spark)
    o = (
        load(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    matched = (
        li.join(
            F.broadcast(o),
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
        )
        .select("o_orderkey", "o_orderpriority")
        .distinct()
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


# --- TPC-H Q7 shape: volume shipping between two nations ----------------

_N_A, _N_B = "NATION_3", "NATION_7"

_Q7_ORACLE = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
       {sql_dsum_money("revenue")}
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
WHERE n1.n_name IN ('{_N_A}', '{_N_B}')
  AND n2.n_name IN ('{_N_A}', '{_N_B}')
  AND n1.n_name <> n2.n_name
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""

_MONEY = "l_extendedprice"


@q("q_tpch_volume_shipping", oracle_sql=_Q7_ORACLE)
def tpch_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+: TPC-H Q7 shape — bilateral trade volume between two nations
    by ship year, the canonical snowflake where BOTH ends of the fact
    row resolve through dimension chains (supplier→nation and
    customer→order→nation).

    Plan shape: every dimension side collapses to a broadcast — nation
    filters to 2 rows, supplier and customer prune to ~2/25 of
    themselves through it, and the filtered orders→customer join (a
    few % of orders) broadcasts onto the shipdate-sliced fact scan. The
    fact table reaches the final ~8-key group agg without a single
    pre-agg shuffle; plan-gated SortMergeJoin-free. At 100 TB the
    orders slice is the first to outgrow broadcast; AQE then shuffles
    exactly the (orderkey) join while everything else stays broadcast."""
    prep(spark)
    n = load(spark, sf_dir, "nation").where(F.col("n_name").isin(_N_A, _N_B))
    s2 = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c2 = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o2 = (
        load(spark, sf_dir, "orders")
        .join(F.broadcast(c2), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    joined = (
        li.join(F.broadcast(o2), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s2), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(dsum_money("l_extendedprice", "l_discount").alias("revenue"))


# --- SCD Type-2 dimension build from a change log -----------------------

_SCD2_ORACLE = """
WITH st AS (
    SELECT user_id, event_type AS state, ts, event_id,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
),
ch AS (
    SELECT user_id, state, ts, event_id
    FROM st
    WHERE prev IS NULL OR prev <> state
)
SELECT user_id, state,
       ts AS effective_from,
       LEAD(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS effective_to,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version
FROM ch
"""


@q("q_scd2_dimension", oracle_sql=_SCD2_ORACLE)
def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4++/T5+: SCD Type-2 dimension build — collapse a change log
    (events as "user's current state became X at ts") into validity
    intervals [effective_from, effective_to) with a per-user version
    counter; the open interval (effective_to NULL) is the current row.
    This is the lakehouse-native form of the reference's incremental
    upsert contract: replaying the same log yields the same intervals
    (idempotent), and appending a batch only extends/closes tail rows.

    Plan shape: ONE exchange — both windows and the change filter key
    on user_id, so Spark plans a single hash partitioning with two sort
    passes over it (the second sort collapses: the change filter
    preserves order). No joins; at 100 TB this scales as a pure keyed
    shuffle of the change columns only."""
    from modevetl_spark.operators.scd2 import scd2_build

    prep(spark)
    return scd2_build(load(spark, sf_dir, "events"))


# --- Sequential Poisson weighted sampling (integer-exact) ---------------

_WEIGHTED_ORACLE = """
SELECT doc_id, source, n_chars,
       (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        * 1000000) // nullif(n_chars, 0) AS priority
FROM documents
ORDER BY priority NULLS LAST, doc_id
LIMIT 100
"""


@q("q_sample_weighted", oracle_sql=_WEIGHTED_ORACLE)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+/sampling: weight-proportional document sampling without
    replacement — sequential Poisson sampling (Ohlsson 1998): each doc
    draws a deterministic uniform u from md5(doc_id), gets priority
    u/weight, and the k smallest priorities win, so heavier docs
    (weight = n_chars, the training-token proxy) are proportionally
    likelier to be kept. Unlike `df.sample()`'s per-partition RNG the
    draw is a pure function of the key: stable under repartitioning,
    retries, and AQE re-plans, and replayable by any engine.

    Integer-exact: priority = (u32 * 10^6) div weight in BIGINT — no
    float anywhere, so Spark and DuckDB agree to the bit (the repo's
    md5-affine idiom: Spark conv(substr(md5,1,8),16,10) == DuckDB
    ('0x'||substr(md5,1,8))::BIGINT). Ties break on doc_id.

    Plan shape: per-row hash + one global TakeOrderedAndProject (no
    full sort, no shuffle of the corpus — each partition keeps its
    local top-k candidates)."""
    prep(spark)
    d = load(spark, sf_dir, "documents")
    u32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    return (
        d.select(
            "doc_id",
            "source",
            "n_chars",
            (u32 * F.lit(1000000)).alias("_num"),
        )
        .select(
            "doc_id",
            "source",
            "n_chars",
            # nullif guards the integer division: a zero-weight row
            # yields NULL priority (u/0 = +inf conceptually — pinned to
            # sort LAST on both engines) instead of aborting the stage
            # with DIVIDE_BY_ZERO (COVERAGE.md M11)
            F.expr("_num div nullif(n_chars, 0)").alias("priority"),
        )
        .orderBy(F.col("priority").asc_nulls_last(), "doc_id")
        .limit(100)
    )


# --- Session path mining (top user journeys) ----------------------------

_PATHS_ORACLE = """
WITH e AS (
    SELECT user_id, CAST(ts AS DATE) AS day, event_type, ts, event_id,
           ROW_NUMBER() OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts, event_id) AS rn
    FROM events
),
p AS (
    SELECT user_id, day,
           STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
    FROM e WHERE rn <= 5
    GROUP BY user_id, day
)
SELECT path, COUNT(*) AS n_user_days
FROM p
GROUP BY path
ORDER BY n_user_days DESC, path
LIMIT 20
"""


@q("q_session_paths", oracle_sql=_PATHS_ORACLE)
def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9+: top user journeys — the first five event types of each
    user-day joined into a path string, counted across all user-days,
    top 20. The product-analytics companion to q_event_transitions
    (first-order Markov counts): transitions say which step follows
    which, paths say which whole journeys dominate.

    Plan shape: one exchange on (user_id, day) serves both the
    row_number window and the path regroup (same keys — Spark reuses
    the partitioning, no second exchange); the path→count agg shuffles
    only distinct paths (bounded: ≤5-step strings over 5 event types),
    and the top-20 is TakeOrderedAndProject. Deterministic: ties inside
    a day break on event_id, path ties in the ranking break on the
    path string."""
    prep(spark)
    ev = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    first5 = ev.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)
    paths = first5.groupBy("user_id", "day").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_user_days"))
        .orderBy(F.desc("n_user_days"), "path")
        .limit(20)
    )


# --- MAD robust group statistics ----------------------------------------

_MAD_ORACLE = """
WITH med AS (
    SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
    FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       ROUND(MAX(m.med), 6) AS median_qty,
       ROUND(quantile_cont(ABS(l.l_quantity - m.med), 0.5), 6) AS mad_qty
FROM lineitem l
JOIN med m ON m.l_returnflag = l.l_returnflag
GROUP BY l.l_returnflag
"""


@q("q_agg_mad", oracle_sql=_MAD_ORACLE)
def agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+: median absolute deviation per group — the robust scale
    estimate outlier-tolerant quality pipelines prefer over stddev
    (one 10^9-token document moves a stddev, not a MAD). Exact
    two-pass: group medians (exact interpolated percentile, the
    q_agg_median discipline), broadcast back, median of absolute
    deviations.

    Plan shape: two bounded-key hash aggs over the same scan + one
    broadcast join of the ~3-row medians table — the fact shuffles
    only into per-group percentile state. The 100 TB swap is
    percentile_approx in both passes (mergeable sketches, same plan)."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("med")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.max("med"), 6).alias("median_qty"),
            F.round(
                F.percentile(
                    F.abs(F.col("l_quantity") - F.col("med")), F.lit(0.5)
                ),
                6,
            ).alias("mad_qty"),
        )
    )


# --- Chi-square independence audit (event_type x day-of-week) -----------

_CHI2_ORACLE = """
WITH cell AS (
    SELECT event_type,
           CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow,
           COUNT(*) AS observed
    FROM events GROUP BY 1, 2
),
j AS (
    SELECT event_type, dow, observed,
           CAST(SUM(observed) OVER (PARTITION BY event_type)
                * SUM(observed) OVER (PARTITION BY dow) AS DOUBLE)
           / SUM(observed) OVER () AS expected
    FROM cell
)
SELECT event_type, dow, observed,
       ROUND(expected, 6) AS expected,
       ROUND((CAST(observed AS DOUBLE) - expected)
             * (CAST(observed AS DOUBLE) - expected) / expected, 6)
           AS contribution,
       ROUND(CAST(SUM(CAST(ROUND((CAST(observed AS DOUBLE) - expected)
                                 * (CAST(observed AS DOUBLE) - expected)
                                 / expected, 9) AS DECIMAL(18,9)))
                      OVER () AS DOUBLE), 6) AS chi2_total
FROM j
"""


@q("q_stats_chi2", oracle_sql=_CHI2_ORACLE)
def stats_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10++: chi-square independence audit of event_type × day-of-week —
    the distribution-drift check a data pipeline runs before trusting a
    newly ingested slice (is activity mix independent of weekday?).
    Emits the full contingency table with per-cell contributions and the
    chi-square statistic.

    Float discipline: expected = (row·col)/n is one exact double
    division of exact integers; each contribution is a per-row
    expression; the chi2 total is per-term round-to-9dp + DECIMAL(18,9)
    (association-free — the q_token_entropy rule for order-sensitive
    sums).

    Plan shape: ONE (type,dow) hash agg with map-side combine touches
    the fact; row/column margins and the grand total are window sums
    over the 35-row contingency table itself — the fact table scans
    exactly once, margins never re-aggregate it."""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    cell = ev.groupBy(
        "event_type",
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("observed"))
    row_n = F.sum("observed").over(Window.partitionBy("event_type"))
    col_n = F.sum("observed").over(Window.partitionBy("dow"))
    n = F.sum("observed").over(Window.partitionBy())
    j = cell.select(
        "event_type",
        "dow",
        "observed",
        ((row_n * col_n).cast("double") / n).alias("expected_raw"),
    )
    contrib = (
        (F.col("observed").cast("double") - F.col("expected_raw"))
        * (F.col("observed").cast("double") - F.col("expected_raw"))
        / F.col("expected_raw")
    )
    w_all = Window.partitionBy()
    return j.select(
        "event_type",
        "dow",
        "observed",
        F.round("expected_raw", 6).alias("expected"),
        F.round(contrib, 6).alias("contribution"),
        F.round(
            F.sum(F.round(contrib, 9).cast("decimal(18,9)"))
            .over(w_all)
            .cast("double"),
            6,
        ).alias("chi2_total"),
    )


# --- Linear-interpolation gap fill (time-series densify) ----------------

_INTERP_ORACLE = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           ROUND(CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
    FROM events
    WHERE ts >= TIMESTAMP '1900-01-01' AND ts < TIMESTAMP '2100-01-01'
    GROUP BY 1, 2
),
span AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1),
grid AS (
    SELECT user_id, CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
    FROM span
),
g AS (
    SELECT grid.user_id, grid.day, d.v
    FROM grid LEFT JOIN daily d ON d.user_id = grid.user_id AND d.day = grid.day
),
f AS (
    SELECT user_id, day, v,
           LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
           LAST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
           FIRST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
           FIRST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
    FROM g
)
SELECT user_id, CAST(day AS TIMESTAMP) AS day,
       ROUND(COALESCE(v,
                      pv + (nv - pv) * (CAST(day - pd AS DOUBLE)
                                        / CAST(nd - pd AS DOUBLE))), 6)
           AS value_filled,
       v IS NOT NULL AS observed
FROM f
"""


@q("q_gapfill_interp", oracle_sql=_INTERP_ORACLE)
def gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2+/T2+: linear-interpolation gap fill — densify each user's
    daily metric to a full day grid and fill missing days by linear
    interpolation between the neighboring observed days (the numeric
    companion of q_gapfill_ffill's last-observation-carried-forward).
    Grid edges are always observed (the grid spans each user's own
    min..max observed day), so every gap is interior.

    Determinism: daily sums are decimal-exact then 6-dp rounded; the
    interpolation `pv + (nv-pv) * (Δdays/Δspan)` is three exact IEEE
    ops on rounded inputs — bit-identical in any engine.

    Plan shape: one (user,day) hash agg, a per-user min/max agg whose
    sequence explode is narrow, one co-keyed left join, and one window
    exchange on user_id serving all four frame-bounded accumulations.
    At 100 TB the grid is |users|·|days| — generated, never scanned.

    The valid-event-time guard (mirrored in the oracle) is a DoS
    defense, not cosmetics: the grid spans each user's min..max day,
    so ONE malformed year-9999 event would explode that user's
    sequence to ~2.9M days — a single dirty row inflating the job by
    orders of magnitude. Bounding event time to [1900, 2100) caps any
    user's grid at 73k rows; clean fixtures (2024) are untouched."""
    prep(spark)
    ev = load(spark, sf_dir, "events").where(
        (F.col("ts") >= F.lit("1900-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2100-01-01").cast("timestamp"))
    )
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.round(
            F.sum(F.col("value").try_cast("decimal(18,6)")).cast("double"), 6
        ).alias("v")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("day")
    )
    g = grid.join(daily, ["user_id", "day"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    f = g.select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("pd"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("nd"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        F.datediff("day", "pd").cast("double")
        / F.datediff("nd", "pd").cast("double")
    )
    return f.select(
        "user_id",
        F.col("day").cast("timestamp").alias("day"),
        F.round(F.coalesce("v", interp), 6).alias("value_filled"),
        F.col("v").isNotNull().alias("observed"),
    )


# --- Rolling 7-day active users (WAU) -----------------------------------

_WAU_ORACLE = """
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS a FROM events),
days AS (SELECT DISTINCT a AS day FROM ud),
contrib AS (
    SELECT DISTINCT user_id,
           CAST(UNNEST(generate_series(a, a + INTERVAL 6 DAY,
                                       INTERVAL 1 DAY)) AS DATE) AS day
    FROM ud
)
SELECT CAST(day AS TIMESTAMP) AS day, COUNT(*) AS wau_7d
FROM contrib
WHERE day IN (SELECT day FROM days)
GROUP BY 1
"""


@q("q_rolling_active_users", oracle_sql=_WAU_ORACLE)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2+/A7+: trailing 7-day distinct active users per day (rolling
    WAU) — the engagement metric every events pipeline reports. Distinct
    count over a sliding window has no direct window-function form;
    the scalable exact rewrite is contribution explode: each (user,
    activity-day) contributes that user to the 7 days it keeps them
    active, distinct collapses multi-active users, one bounded hash agg
    counts.

    Plan shape: distinct (user, day) pairs (the only fact-sized
    shuffle), ×7 narrow explode, second distinct, ~|days| -key count
    agg; the observed-days filter broadcasts. At 100 TB the explode
    factor is the window length — linear, partition-local, no global
    window anywhere."""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("a")).distinct()
    days = ud.select(F.col("a").alias("day")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("a"), F.date_add("a", 6))).alias("day"),
    ).distinct()
    return (
        contrib.join(F.broadcast(days), "day", "left_semi")
        .groupBy(F.col("day").cast("timestamp").alias("day"))
        .agg(F.count(F.lit(1)).alias("wau_7d"))
    )


# --- Rule-based validation / quarantine report --------------------------

_VALIDATE_ORACLE = """
WITH agg AS (
    SELECT COUNT(*) AS total,
        SUM(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS v1,
        SUM(CASE WHEN NOT (o_orderdate >= TIMESTAMP '1990-01-01'
                           AND o_orderdate < TIMESTAMP '2005-01-01')
                 THEN 1 ELSE 0 END) AS v2,
        SUM(CASE WHEN NOT (o_orderstatus IN ('P', 'O', 'F'))
                 THEN 1 ELSE 0 END) AS v3,
        SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                 THEN 1 ELSE 0 END) AS v4,
        SUM(CASE WHEN NOT (o_custkey IS NOT NULL AND o_custkey > 0)
                 THEN 1 ELSE 0 END) AS v5,
        SUM(CASE WHEN NOT (o_totalprice <= 300000) THEN 1 ELSE 0 END) AS v6
    FROM orders
)
SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
       ROUND(CAST(n_violations AS DOUBLE) / total, 6) AS violation_rate
FROM (
    SELECT 'totalprice_positive' AS rule, v1 AS n_violations, total FROM agg
    UNION ALL SELECT 'orderdate_in_range', v2, total FROM agg
    UNION ALL SELECT 'status_known', v3, total FROM agg
    UNION ALL SELECT 'priority_format', v4, total FROM agg
    UNION ALL SELECT 'custkey_positive', v5, total FROM agg
    UNION ALL SELECT 'totalprice_le_300k', v6, total FROM agg
)
"""


@q("q_validate_rules", oracle_sql=_VALIDATE_ORACLE)
def validate_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+/P3+: rule-based data validation report — the quality gate an
    ingestion pipeline runs before accepting a batch (the quarantine
    counterpart keeps the violating rows; this emits per-rule violation
    counts and rates). Six declarative rules over orders, including one
    (the 300k price cap) that actually fires on the fixture.

    Plan shape: every rule is a conditional sum in ONE scan + one
    single-row aggregate; the per-rule rows come from a stack (unpivot)
    of that row — adding a rule adds a column, never a pass. At 100 TB
    this is the cheapest possible full-table audit: one map-side-
    combined agg."""
    prep(spark)
    o = load(spark, sf_dir, "orders")

    def viol(cond):
        return F.sum(F.when(~cond, 1).otherwise(0))

    agg = o.agg(
        F.count(F.lit(1)).alias("total"),
        viol(F.col("o_totalprice") > 0).alias("v1"),
        viol(
            (F.col("o_orderdate") >= F.lit("1990-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("2005-01-01").cast("timestamp"))
        ).alias("v2"),
        viol(F.col("o_orderstatus").isin("P", "O", "F")).alias("v3"),
        viol(F.col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$")).alias("v4"),
        viol(
            F.col("o_custkey").isNotNull() & (F.col("o_custkey") > 0)
        ).alias("v5"),
        viol(F.col("o_totalprice") <= 300000).alias("v6"),
    )
    stacked = agg.selectExpr(
        "stack(6, "
        "'totalprice_positive', v1, "
        "'orderdate_in_range', v2, "
        "'status_known', v3, "
        "'priority_format', v4, "
        "'custkey_positive', v5, "
        "'totalprice_le_300k', v6) AS (rule, n_violations)",
        "total",
    )
    return stacked.select(
        "rule",
        "n_violations",
        F.round(
            F.col("n_violations").cast("double") / F.col("total"), 6
        ).alias("violation_rate"),
    )


# --- Sorted-neighborhood near-dup blocking ------------------------------

_SNM_ORACLE = """
WITH t AS (
    SELECT doc_id, substr(lower(text), 1, 32) AS k,
           list_distinct(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                     x -> x <> '')) AS toks
    FROM documents
),
r AS (
    SELECT doc_id, toks,
           ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn
    FROM t
),
p AS (
    SELECT a.doc_id AS aid, b.doc_id AS bid,
           len(list_intersect(a.toks, b.toks)) AS ni,
           len(a.toks) AS na, len(b.toks) AS nb
    FROM r a
    JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 5
)
SELECT LEAST(aid, bid) AS id_a,
       GREATEST(aid, bid) AS id_b,
       ROUND(CAST(ni AS DOUBLE) / (na + nb - ni), 6) AS jaccard
FROM p
WHERE CAST(ni AS DOUBLE) / (na + nb - ni) >= 0.3
"""


@q("q_dedup_snm", oracle_sql=_SNM_ORACLE)
def dedup_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+: sorted-neighborhood (merge/purge) near-dup blocking — the
    third candidate-generation family next to MinHash-LSH banding and
    SimHash chunks: sort by a locality-preserving key (the first 32
    chars of the normalized text), compare each doc only with its 5
    successors, verify with exact token Jaccard ≥ 0.3. Recall comes
    from the key ordering (prefix-identical near-dups are adjacent);
    precision from the exact verify — the same contract as the LSH
    paths, with a sort instead of a hash family.

    Scale shape: the global rank is NOT a single-partition window —
    operators/dedup.global_rank range-partitions on the key and
    reconciles per-partition row numbers with broadcast cumulative
    offsets; the w candidate joins are equi-joins on the rank
    (offset explode), co-partitioned, no boundary cases."""
    from modevetl_spark.operators.dedup import sorted_neighborhood_pairs

    prep(spark)
    d = load(spark, sf_dir, "documents")
    pairs = sorted_neighborhood_pairs(
        d, F.substring(F.lower("text"), 1, 32), window=5
    )
    ni = F.size(F.array_intersect("toks_a", "toks_b"))
    na, nb = F.size("toks_a"), F.size("toks_b")
    jac = ni.cast("double") / (na + nb - ni)
    return (
        pairs.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
            jac.alias("_j"),
        )
        .where(F.col("_j") >= 0.3)
        .drop("_j")
    )


# --- Conversion lag quantiles (first view -> first purchase) ------------

_CONVERT_ORACLE = """
WITH fv AS (
    SELECT user_id, MIN(ts) AS first_view
    FROM events WHERE event_type = 'view' GROUP BY user_id
),
fp AS (
    SELECT e.user_id, MIN(e.ts) AS first_purchase, MAX(f.first_view) AS first_view
    FROM events e JOIN fv f ON f.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts >= f.first_view
    GROUP BY e.user_id
),
lags AS (
    SELECT CAST(FLOOR(epoch(first_purchase)) AS BIGINT)
           - CAST(FLOOR(epoch(first_view)) AS BIGINT) AS lag_sec
    FROM fp
)
SELECT COUNT(*) AS n_converted,
       ROUND(quantile_cont(lag_sec, 0.25), 6) AS p25_sec,
       ROUND(quantile_cont(lag_sec, 0.50), 6) AS p50_sec,
       ROUND(quantile_cont(lag_sec, 0.90), 6) AS p90_sec
FROM lags
"""


@q("q_time_to_convert", oracle_sql=_CONVERT_ORACLE)
def time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7+: conversion-lag distribution — seconds from a user's first
    view to their first subsequent purchase, summarized as exact
    quantiles. The latency companion of q_funnel_conversion (which
    counts who converts; this measures how fast).

    Plan shape: two user-keyed hash aggs sharing the user_id join key
    (the firsts table is broadcast-eligible), lag arithmetic on epoch
    integers, one global percentile agg over |converted users| rows.
    100 TB swap: percentile_approx, same plan."""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(fv), "user_id")
        .where(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("first_purchase"),
            F.max("first_view").alias("first_view"),
        )
    )
    lags = fp.select(
        (
            F.unix_timestamp("first_purchase") - F.unix_timestamp("first_view")
        ).alias("lag_sec")
    )
    return lags.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("lag_sec", F.lit(0.25)), 6).alias("p25_sec"),
        F.round(F.percentile("lag_sec", F.lit(0.50)), 6).alias("p50_sec"),
        F.round(F.percentile("lag_sec", F.lit(0.90)), 6).alias("p90_sec"),
    )


# --- Deterministic A/B split + two-proportion z-test --------------------

_AB_ORACLE = """
WITH assign AS (
    SELECT user_id,
           CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 4) < '8000'
                THEN 'A' ELSE 'B' END AS grp
    FROM (SELECT DISTINCT user_id FROM events)
),
conv AS (
    SELECT DISTINCT user_id FROM events
    WHERE event_type = 'purchase' AND value > 200
),
g AS (
    SELECT a.grp,
           COUNT(*) AS n_users,
           SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS n_conv
    FROM assign a LEFT JOIN conv c ON c.user_id = a.user_id
    GROUP BY a.grp
),
w AS (
    SELECT
        MAX(CASE WHEN grp = 'A' THEN n_users END) AS n_a,
        MAX(CASE WHEN grp = 'A' THEN n_conv END) AS conv_a,
        MAX(CASE WHEN grp = 'B' THEN n_users END) AS n_b,
        MAX(CASE WHEN grp = 'B' THEN n_conv END) AS conv_b
    FROM g
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
       ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
       ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
       CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b THEN
           ROUND((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                 / SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (CAST(1.0 AS DOUBLE)
                           - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (CAST(1.0 AS DOUBLE) / n_a
                           + CAST(1.0 AS DOUBLE) / n_b)), 6)
       END AS z_score
FROM w
"""


@q("q_stats_ab_test", oracle_sql=_AB_ORACLE)
def stats_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+++: deterministic A/B experiment summary — users split 50/50
    by content hash (the repo's md5-bucket idiom: assignment survives
    retries, repartitioning, and re-runs), conversion = any purchase
    event, compared with the two-proportion pooled z-test.

    Determinism: counts are exact integers; the z statistic is a fixed
    tree of exact IEEE ops (divisions, one correctly-rounded sqrt) so
    both engines agree to the bit before the 6-dp round.

    Plan shape: distinct users (one fact-keyed shuffle), broadcast
    semi-ish left join of the tiny converter set, 2-key hash agg, then
    a single-row pivot. The z-test itself costs nothing at any scale —
    the fact is touched twice (assignment + converters), both prunable
    to (user_id, event_type)."""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    assign = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 4)
                < "8000",
                "A",
            )
            .otherwise("B")
            .alias("grp"),
        )
    )
    conv = (
        ev.where((F.col("event_type") == "purchase") & (F.col("value") > 200))
        .select("user_id")
        .distinct()
        .withColumn("_c", F.lit(1))
    )
    g = (
        assign.join(F.broadcast(conv), "user_id", "left")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.coalesce("_c", F.lit(0))).alias("n_conv"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == "A", F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("grp") == "A", F.col("n_conv"))).alias("conv_a"),
        F.max(F.when(F.col("grp") == "B", F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("grp") == "B", F.col("n_conv"))).alias("conv_b"),
    )
    p_pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (
        F.col("conv_a").cast("double") / F.col("n_a")
        - F.col("conv_b").cast("double") / F.col("n_b")
    ) / F.sqrt(
        p_pool
        * (F.lit(1.0) - p_pool)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    n_conv_tot = F.col("conv_a") + F.col("conv_b")
    n_tot = F.col("n_a") + F.col("n_b")
    return w.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(F.col("conv_a").cast("double") / F.col("n_a"), 6).alias(
            "rate_a"
        ),
        F.round(F.col("conv_b").cast("double") / F.col("n_b"), 6).alias(
            "rate_b"
        ),
        # z undefined when the pooled rate is 0 or 1 (ANSI division guard)
        F.when(
            (n_conv_tot > 0) & (n_conv_tot < n_tot), F.round(z, 6)
        ).alias("z_score"),
    )


# --- Multimodal frame sampling (UDTF-shaped mapInPandas) ----------------

# WHERE doc_id IS NOT NULL + COALESCE(length, 0): the engine drops
# NULL-id rows before the UDF and treats a NULL payload as empty bytes
# (see operators/multimodal.sample_frames) — the oracle implements the
# identical dirty-input contract.
_FRAMES_ORACLE = """
WITH f AS (
    SELECT doc_id,
           COALESCE(length(text), 0) % 640 + 1 AS w,
           COALESCE(length(text), 0) % 480 + 1 AS h,
           COALESCE(length(text), 0) % 7 + 1 AS nf
    FROM documents WHERE doc_id IS NOT NULL
),
t AS (
    SELECT doc_id, nf,
           CASE WHEN w >= h THEN 64 ELSE GREATEST(1, (w * 64) // h) END AS tw,
           CASE WHEN w >= h THEN GREATEST(1, (h * 64) // w) ELSE 64 END AS th
    FROM f
)
SELECT doc_id,
       CAST(UNNEST(range(0, nf, 2)) AS BIGINT) AS frame_idx,
       md5(CAST(doc_id AS VARCHAR) || ':'
           || CAST(UNNEST(range(0, nf, 2)) AS VARCHAR)) AS frame_md5,
       CAST(tw AS BIGINT) AS thumb_w,
       CAST(th AS BIGINT) AS thumb_h
FROM t
"""


@q("q_multimodal_frames", oracle_sql=_FRAMES_ORACLE)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4+/U3: video frame sampling + thumbnail resize through
    Arrow-batched mapInPandas with FAN-OUT (one payload row → its
    sampled frames — the UDTF contract a real keyframe extractor
    needs). Decode stubbed deterministically (operators/multimodal.py
    sample_frames): frame count from payload length, frame content as
    md5(doc:idx), aspect-preserving integer thumbnail math — all
    SQL-replayable, so even the Python fan-out stage is hash-graded.

    Scale shape: payloads never shuffle (features derived in the map
    stage, payload projected away); output size is rows × nf/every,
    bounded; Arrow batch memory capped by maxRecordsPerBatch."""
    from modevetl_spark.operators.multimodal import (
        sample_frames,
        with_binary_payload,
    )
    from modevetl_spark.operators._util import spread

    prep(spark)
    d = spread(load(spark, sf_dir, "documents"))
    return sample_frames(with_binary_payload(d), every=2)


# --- Triangle count / global clustering coefficient ---------------------

_TRIANGLES_ORACLE = """
WITH e AS (
    SELECT p_partkey AS src, p_partkey + 1 AS dst FROM part
    UNION
    SELECT p_partkey AS src, p_partkey + 2 AS dst FROM part
),
tri AS (
    SELECT COUNT(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.src = e1.dst
    JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
deg AS (
    SELECT node, COUNT(*) AS d
    FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)
    GROUP BY node
),
wed AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
SELECT CAST(t.n_triangles AS BIGINT) AS n_triangles,
       w.n_wedges,
       ROUND(CAST(3 * t.n_triangles AS DOUBLE) / w.n_wedges, 6)
           AS global_clustering
FROM tri t CROSS JOIN wed w
"""


@q("q_graph_triangles", oracle_sql=_TRIANGLES_ORACLE)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9++: triangle count + global clustering coefficient — the graph
    cohesion metric next to degrees/components/PageRank/closure. Runs
    on a deterministic circulant graph (partkey → partkey+1 and +2, so
    every consecutive triple closes a triangle) with the canonical
    oriented-edge algorithm: edges stored src<dst ONCE, a 2-path join
    on the middle vertex, a closing-edge equi-join — each triangle
    counted exactly once, no direction explosion.

    Scale shape: two vertex-keyed equi-joins with map-side-combined
    degree aggs; at web scale the standard hardening is degree
    orientation (point each edge at its higher-degree endpoint) so
    per-vertex fan-out is bounded by sqrt(m) — same joins, re-keyed;
    hub salting (operators/skew.py) composes if the degree histogram
    (q_graph_degrees) says so. Wedge count is exact integer arithmetic
    (d·(d-1)/2); the clustering coefficient is one exact division."""
    prep(spark)
    p = load(spark, sf_dir, "part")
    e = (
        p.select(
            F.col("p_partkey").alias("src"),
            (F.col("p_partkey") + 1).alias("dst"),
        )
        .union(
            p.select(
                F.col("p_partkey").alias("src"),
                (F.col("p_partkey") + 2).alias("dst"),
            )
        )
        .distinct()
    )
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = e.select(F.col("src").alias("a2"), F.col("dst").alias("c2"))
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wed = deg.agg(
        F.sum(F.expr("CAST(d * (d - 1) AS BIGINT) div 2"))
        .cast("bigint")
        .alias("n_wedges")
    )
    return (
        tri.crossJoin(F.broadcast(wed))
        .select(
            "n_triangles",
            "n_wedges",
            F.round(
                (F.lit(3) * F.col("n_triangles")).cast("double")
                / F.col("n_wedges"),
                6,
            ).alias("global_clustering"),
        )
    )


@q("q_scd2_incremental", oracle_sql=_SCD2_ORACLE)
def scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4++/A14++: incremental SCD-2 maintenance graded against the
    single-shot build oracle — the events log is sliced into three
    date batches, each merged O(delta) into a fresh on-disk interval
    store (operators/scd2.py: only touched users' OPEN tails rebuild;
    closed intervals are never read or rewritten), and the final store
    must hash-equal building the dimension from all of history at once.
    The materialized-dimension twin of q_agg_incremental_state."""
    import tempfile

    from modevetl_spark.operators.scd2 import merge_scd2_state

    prep(spark)
    ev = load(spark, sf_dir, "events")
    cuts = ["2024-01-11", "2024-01-21"]
    slices = [
        ev.where(F.col("ts") < F.lit(cuts[0]).cast("timestamp")),
        ev.where(
            (F.col("ts") >= F.lit(cuts[0]).cast("timestamp"))
            & (F.col("ts") < F.lit(cuts[1]).cast("timestamp"))
        ),
        ev.where(F.col("ts") >= F.lit(cuts[1]).cast("timestamp")),
    ]
    store = tempfile.mkdtemp(prefix="scd2_state_")
    for s in slices:
        merge_scd2_state(spark, s, store)
    out = spark.read.parquet(store)
    return out.select(
        "user_id", "state", "effective_from", "effective_to", "version"
    )


# --- Vocabulary build + ordered token-id encoding (graded) --------------

_VOCAB_ORACLE = """
WITH tf AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> t <> '')) AS token,
           generate_subscripts(
               list_filter(regexp_split_to_array(lower(text), '\\s+'),
                           t -> t <> ''), 1) AS pos
    FROM documents
),
counts AS (SELECT token, COUNT(*) AS freq FROM tf GROUP BY token),
vocab AS (
    SELECT token,
           CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) - 1 AS BIGINT)
               AS token_id
    FROM counts
    QUALIFY ROW_NUMBER() OVER (ORDER BY freq DESC, token) <= 50
)
SELECT t.doc_id,
       array_to_string(list(COALESCE(v.token_id, -1) ORDER BY t.pos), ',')
           AS token_ids_csv,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM tf t
LEFT JOIN vocab v ON v.token = t.token
WHERE t.doc_id < 50
GROUP BY t.doc_id
"""


@q("q_vocab_encode", oracle_sql=_VOCAB_ORACLE)
def vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3++ (graded form of the r2 unit-only operator pair): build a
    frequency-ranked 50-token vocabulary over the corpus, then encode
    each document's token stream as an ORDERED id array (OOV = -1) —
    the tokenizer-vocab step before training, with token order
    preserved through posexplode positions.

    Plan shape: one explode→hash-agg for counts, TakeOrdered truncation
    BEFORE the ranking window (the window task sees ≤50 rows at any
    corpus size), broadcast vocab join onto the position-exploded docs,
    one per-doc regroup."""
    from modevetl_spark.operators.text import build_vocab, encode_tokens

    prep(spark)
    d = load(spark, sf_dir, "documents")
    vocab = build_vocab(d, "text", max_size=50)
    enc = encode_tokens(d.where(F.col("doc_id") < 50), "doc_id", "text", vocab)
    return enc.select(
        "doc_id",
        F.array_join(
            F.transform(F.col("token_ids"), lambda x: x.cast("string")), ","
        ).alias("token_ids_csv"),
        "n_tokens",
    )


# --- Train/val/test split assignment audit (graded) ---------------------

_SPLIT_ORACLE = """
WITH b AS (
    SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
    FROM documents
)
SELECT CASE WHEN bucket < '199a' THEN 'test'
            WHEN bucket < 'e666' THEN 'train'
            ELSE 'val' END AS split,
       COUNT(*) AS n_docs
FROM b
GROUP BY 1
"""


@q("q_split_assign", oracle_sql=_SPLIT_ORACLE)
def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+++ (graded form of the r2 unit-only hash_split): deterministic
    train/val/test assignment audit — 80/10/10 by content hash of the
    doc id (operators/sampling.hash_split: disjoint md5-bucket
    intervals in sorted-name order, so 'test' owns [0000,199a),
    'train' [199a,e666), 'val' the rest — exactly the literals the
    oracle replays). Counts per split; the assignment is a pure
    function of the key, so this report is identical on any cluster,
    any partitioning, any retry.

    Plan shape: one scan, one ≤3-key hash agg with map-side combine."""
    from modevetl_spark.operators.sampling import hash_split

    prep(spark)
    d = load(spark, sf_dir, "documents")
    parts = hash_split(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    out = None
    for name, df in sorted(parts.items()):
        piece = df.select(F.lit(name).alias("split"), "doc_id")
        out = piece if out is None else out.unionByName(piece)
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


# --- Join-matrix completions: full outer + bag set ops ------------------

_FULL_OUTER_ORACLE = """
SELECT COALESCE(c.c_custkey, oc.o_custkey) AS custkey,
       c.c_name,
       CAST(COALESCE(oc.n, 0) AS BIGINT) AS n_orders,
       CASE WHEN c.c_custkey IS NULL THEN 'orphan_order'
            WHEN oc.o_custkey IS NULL THEN 'no_orders'
            ELSE 'matched' END AS side
FROM customer c
FULL JOIN (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1) oc
  ON oc.o_custkey = c.c_custkey
"""


@q("q_join_full_outer", oracle_sql=_FULL_OUTER_ORACLE)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+ (completes the join matrix): FULL OUTER customer × order
    rollup — customers with no orders keep a 0 count, and orders whose
    custkey matches no customer would surface as 'orphan_order' (this
    fixture has full referential integrity — q_validate_rules' 12
    custkey-0 flags are a business-rule violation, and customer 0
    exists — so the orphan side is exercised by the pytest on synthetic
    frames). The reconciliation report both sides of an ETL handoff
    run.

    Plan shape: the order rollup is a bounded-key hash agg; full outer
    cannot broadcast (both sides produce unmatched rows) so it shuffles
    both inputs on the key once — exactly the minimum."""
    prep(spark)
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    oc = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    j = c.join(oc, c.c_custkey == oc.o_custkey, "full")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"),
        F.when(F.col("c_custkey").isNull(), "orphan_order")
        .when(F.col("o_custkey").isNull(), "no_orders")
        .otherwise("matched")
        .alias("side"),
    )


_EXCEPT_ALL_ORACLE = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@q("q_except_all", oracle_sql=_EXCEPT_ALL_ORACLE)
def except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4+ (bag semantics): EXCEPT ALL — multiplicity-aware difference
    (a key occurring 5 times minus 2 keeps 3 rows), which is what
    frontier bookkeeping needs when duplicates carry meaning. Planner
    rewrites to a counted anti-form; no distinct collapse."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    f = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.exceptAll(op)


_INTERSECT_ALL_ORACLE = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@q("q_intersect_all", oracle_sql=_INTERSECT_ALL_ORACLE)
def intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5+ (bag semantics): INTERSECT ALL — min-multiplicity overlap."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    f = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersectAll(op)


# --- Trailing-window anomaly detection (daily revenue) ------------------

_ANOMALY_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
           ROUND(CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6)))
                      AS DOUBLE), 2) AS revenue
    FROM orders GROUP BY 1
),
w AS (
    SELECT day, revenue,
           ROUND(AVG(revenue) OVER t, 6) AS trail_mean,
           ROUND(GREATEST(
               AVG(revenue * revenue) OVER t
               - (AVG(revenue) OVER t) * (AVG(revenue) OVER t),
               0.0e0), 6) AS trail_var,
           COUNT(*) OVER t AS n_trail
    FROM daily
    WINDOW t AS (ORDER BY day ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
)
SELECT day, revenue, trail_mean,
       ROUND((revenue - trail_mean) / SQRT(trail_var), 6) AS z
FROM w
WHERE n_trail >= 7 AND trail_var > 0
  AND ABS((revenue - trail_mean) / SQRT(trail_var)) > 2.0e0
"""


@q("q_anomaly_days", oracle_sql=_ANOMALY_ORACLE)
def anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+++++/W1++: trailing-window anomaly detection — days whose
    revenue sits more than 2 trailing standard deviations from the
    previous 14 days' mean (at least 7 prior days required). The
    monitoring query a pipeline runs over its own output volumes to
    catch upstream breakage.

    Determinism: daily revenue is decimal-exact then 2-dp rounded, the
    trailing mean/variance are windowed averages of those rounded
    doubles, themselves rounded to 6 dp before the z computation
    (variance clamped at 0 for constant windows — DuckDB sqrt raises on
    the -1e-18 cancellation residue where Spark returns NaN); z is then
    a fixed tree of exact IEEE ops.

    Scale shape: one bounded-key (day) hash agg over the fact, then a
    single-partition window over |days| rows — bounded by the calendar,
    not the data; at 100 TB partition the window by month and stitch,
    or keep it: ~3650 rows/decade is driver-trivial."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(
        # try_cast at the fold seam: one 1e300 price row NULLs out
        # instead of aborting the stage (COVERAGE.md M11)
        F.round(
            F.sum(F.col("o_totalprice").try_cast("decimal(18,6)")).cast(
                "double"
            ),
            2,
        ).alias("revenue")
    )
    t = Window.orderBy("day").rowsBetween(-14, -1)
    w = daily.select(
        "day",
        "revenue",
        F.round(F.avg("revenue").over(t), 6).alias("trail_mean"),
        F.round(
            F.greatest(
                F.avg(F.col("revenue") * F.col("revenue")).over(t)
                - F.avg("revenue").over(t) * F.avg("revenue").over(t),
                F.lit(0.0),
            ),
            6,
        ).alias("trail_var"),
        F.count(F.lit(1)).over(t).alias("n_trail"),
    )
    z = (F.col("revenue") - F.col("trail_mean")) / F.sqrt("trail_var")
    return (
        w.where((F.col("n_trail") >= 7) & (F.col("trail_var") > 0))
        .where(F.abs(z) > 2.0)
        .select("day", "revenue", "trail_mean", F.round(z, 6).alias("z"))
    )


# --- Market-basket co-occurrence (co-purchased part pairs) --------------

_COPURCHASE_ORACLE = """
WITH pp AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
    FROM pp a
    JOIN pp b
      ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
)
SELECT part_a, part_b, COUNT(*) AS n_orders
FROM pairs
GROUP BY 1, 2
ORDER BY n_orders DESC, part_a, part_b
LIMIT 20
"""


@q("q_copurchase_pairs", oracle_sql=_COPURCHASE_ORACLE)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1++++/J8+: market-basket co-occurrence — the top 20 part pairs
    appearing in the same order, the support count behind association
    rules and co-purchase recommenders.

    Scale shape: pairs are generated INSIDE each order's part array
    (sorted collect_set → JVM higher-order i<j expansion), never by a
    fact self-join — per-order work is quadratic in basket size (small
    and bounded: ~4 lineitems/order here; cap baskets in the rare
    pathological case), total work linear in orders. One orderkey
    shuffle for the baskets, one pair-keyed hash agg with map-side
    combine, TakeOrdered top-20."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .where(F.size("parts") >= 2)
    )
    pairs_expr = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("parts"), i + 2, F.size(F.col("parts"))
                ),
                lambda y: F.struct(
                    x.alias("part_a"), y.alias("part_b")
                ),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs_expr).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


# --- Deterministic fixed-size reservoir sample --------------------------

_RESERVOIR_ORACLE = """
SELECT o_orderkey, o_totalprice,
       CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
            AS BIGINT) AS priority
FROM orders
ORDER BY priority, o_orderkey
LIMIT 200
"""


@q("q_sample_reservoir", oracle_sql=_RESERVOIR_ORACLE)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+ [EXT]: deterministic reservoir sample — EXACTLY k=200 orders,
    uniform over the key space, independent of row order and partition
    layout. ``q_sample_hash`` is Bernoulli (a rate, size varies);
    training-data recipes routinely need an exact row budget — the
    classic reservoir. Determinism replaces the RNG: each row's
    priority is the shared 32-bit md5 idiom on its key
    (``conv(substr(md5(k),1,8),16,10)``, engine-identical), and the
    sample is the k smallest priorities with the unique key as
    tie-break — the bottom-k-by-random-priority formulation of
    reservoir sampling, replayable by any engine.

    Plan shape: ``ORDER BY priority LIMIT k`` compiles to
    TakeOrderedAndProject — each task keeps a k-row heap, the driver
    merges |tasks|·k candidate rows; NO global sort, no shuffle of the
    data. At 100 TB the cost is one streaming scan plus k·P rows of
    driver merge — the same bound as the repo's other TakeOrdered
    cuts (vocab build, Misra–Gries candidates)."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    priority = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    return (
        o.select("o_orderkey", "o_totalprice", priority.alias("priority"))
        .orderBy("priority", "o_orderkey")
        .limit(200)
    )


# --- Weighted reservoir sample (A-ES, min-of-replica priorities) ---------

_WRES_K = 200

_WRES_ORACLE = f"""
WITH base AS (
    SELECT o_orderkey, o_totalprice,
           GREATEST(6 - COALESCE(
                        TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER),
                        5), 1)
               AS weight
    FROM orders
),
pri AS (
    SELECT o_orderkey, weight, o_totalprice,
           list_min(list_transform(range(1, weight + 1),
               i -> CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                                            || '#' || CAST(i AS VARCHAR)),
                                         1, 8)) AS BIGINT)
           )) AS priority
    FROM base
)
SELECT o_orderkey, CAST(weight AS BIGINT) AS weight, o_totalprice, priority
FROM pri ORDER BY priority NULLS LAST, o_orderkey LIMIT {_WRES_K}
"""


@q("q_sample_reservoir_weighted", oracle_sql=_WRES_ORACLE)
def sample_reservoir_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+16 [EXT]: weighted reservoir sample — EXACTLY k={K} orders
    where an order's inclusion odds scale with an integer importance
    weight (urgency: '1-URGENT' ⇒ w=5 … '5-LOW' ⇒ w=1), the weighted
    row-budget cut every curation recipe needs (oversample the rare
    high-value stratum without a separate stratified pass).

    Method: the A-ES weighted-reservoir ordering (Efraimidis &
    Spirakis 2006) keeps the k rows with the best priority u^(1/w) —
    equivalently, the minimum of w independent uniform draws, because
    min(u_1..u_w) has CDF 1−(1−x)^w, the same order statistic. The
    min-of-w-draws form needs NO pow() (not correctly rounded, not
    portable — the q_decayed_value lesson); each draw is the shared
    deterministic 32-bit md5 idiom on (key, replica-index), so the
    sample replays bit-identically in any engine. Two malformed-input
    guards keep parity structural: weight is clamped to ≥1 in BOTH
    engines (a priority digit ≥6 would give w≤0, where Spark's
    sequence(1, w) runs DESCENDING while DuckDB's range(1, w+1) is
    empty→NULL — a silent divergence), and null priorities are pinned
    NULLS LAST in BOTH engines (Spark's asc default is NULLS FIRST,
    DuckDB's NULLS LAST). Weight mix in the fixture sample confirms
    the gradient (w=5 lands ~3x more rows than w=1 at sf0.01).

    Plan shape: the w replica hashes materialize as a ROW-LOCAL array
    (transform over sequence(1, w)) folded by array_min — no explode,
    no per-replica rows, no shuffle of any kind; then ORDER BY priority
    LIMIT k compiles to TakeOrderedAndProject (per-task k-row heaps,
    driver merges |tasks|·k rows) exactly like q_sample_reservoir. At
    100 TB: one streaming scan, k·P-row driver merge, weights bounded
    by the priority domain (≤5 hashes per row)."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    # try_cast + COALESCE(·, 5): a malformed priority digit (empty or
    # non-numeric string in dirty data) clamps to the minimum weight 1
    # instead of an ANSI CAST_INVALID_INPUT job abort; the oracle's
    # TRY_CAST/COALESCE pair implements the identical rule.
    weight = F.greatest(
        F.lit(6)
        - F.coalesce(
            F.substring(F.col("o_orderpriority"), 1, 1).try_cast("int"),
            F.lit(5),
        ),
        F.lit(1),
    ).alias("weight")
    replica_hash = lambda i: F.conv(  # noqa: E731
        F.substring(
            F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit("#"),
                    i.cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    priority = F.array_min(
        F.transform(F.sequence(F.lit(1), F.col("weight")), replica_hash)
    )
    return (
        o.select("o_orderkey", weight, "o_totalprice")
        .withColumn("priority", priority)
        .select(
            "o_orderkey",
            F.col("weight").cast("bigint").alias("weight"),
            "o_totalprice",
            "priority",
        )
        .orderBy(F.col("priority").asc_nulls_last(), "o_orderkey")
        .limit(_WRES_K)
    )


sample_reservoir_weighted.__doc__ = sample_reservoir_weighted.__doc__.format(
    K=_WRES_K
)


# --- Frequency-weighted record-linkage scoring (Fellegi–Sunter u-weights) --

_LINK_K = 100
_LINK_SHIFT = 100_000  # cents shift: acctbal >= -1000 => shifted >= 0

_LINK_ORACLE = f"""
WITH c AS (
    SELECT c_custkey, c_nationkey, c_mktsegment,
           TRY_CAST(ROUND(c_acctbal * 100) AS BIGINT) + {_LINK_SHIFT} AS cents
    FROM customer
),
f AS (
    SELECT c_custkey, c_nationkey, c_mktsegment, cents,
           cents // 10000 AS band
    FROM c
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM f),
wseg AS (
    SELECT CAST(FLOOR(CAST(ROUND(2 * log2(n.n) - log2(s.s2), 9)
                           AS DECIMAL(18,9)) * 1000000) AS BIGINT) AS w
    FROM (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS s2
          FROM (SELECT COUNT(*) AS cnt FROM f GROUP BY c_mktsegment)) s
    CROSS JOIN n
),
wband AS (
    SELECT CAST(FLOOR(CAST(ROUND(2 * log2(n.n) - log2(s.s2), 9)
                           AS DECIMAL(18,9)) * 1000000) AS BIGINT) AS w
    FROM (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS s2
          FROM (SELECT COUNT(*) AS cnt FROM f GROUP BY band)) s
    CROSS JOIN n
),
wcents AS (
    SELECT CAST(FLOOR(CAST(ROUND(2 * log2(n.n) - log2(s.s2), 9)
                           AS DECIMAL(18,9)) * 1000000) AS BIGINT) AS w
    FROM (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS s2
          FROM (SELECT COUNT(*) AS cnt FROM f GROUP BY cents)) s
    CROSS JOIN n
),
pairs AS (
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           CAST(a.c_mktsegment = b.c_mktsegment AS BIGINT) AS same_seg,
           CAST(a.band = b.band AS BIGINT) AS same_band,
           CAST(a.cents = b.cents AS BIGINT) AS same_cents
    FROM f a JOIN f b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
)
SELECT p.cust_a, p.cust_b, p.same_seg, p.same_band, p.same_cents,
       CAST(p.same_seg * ws.w + p.same_band * wb.w + p.same_cents * wc.w
            AS BIGINT) AS score_microbits
FROM pairs p CROSS JOIN wseg ws CROSS JOIN wband wb CROSS JOIN wcents wc
ORDER BY score_microbits DESC, p.cust_a, p.cust_b
LIMIT {_LINK_K}
"""


@q("q_linkage_weights", oracle_sql=_LINK_ORACLE)
def linkage_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+18 [EXT]: frequency-weighted record-linkage scoring — the
    Fellegi–Sunter (1969) agreement-weight construction in its
    frequency-based (u-weight) form: within nation blocks, candidate
    customer pairs score Σ_f agree_f · w_f over three fields
    (market segment, $100 balance band, exact balance cents), where
    w_f = −log2(u_f) and u_f = Σ_v c_v²/N² is the chance-agreement
    probability — agreeing on a RARE value (exact cents) is strong
    match evidence, agreeing on a 5-value segment is weak. This is the
    classic entity-resolution scoring tier that sits on top of any
    blocking family (SNM, LSH, containment) already in the registry.

    Exactness: u expands to w = 2·log2(N) − log2(Σ c_v²) — integer-arg
    log2 (engine-identical) — rounded at 9dp, scaled to exact BIGINT
    MICRO-BITS; the pair score is then pure integer arithmetic
    (parity structural, the q_mixture_weights shape). Balances shift
    by +$1000 in cents before banding so integer division never sees
    a negative operand (Spark div truncates toward zero, DuckDB //
    floors — they agree only on non-negatives). Deterministic top-k
    tie-break by (cust_a, cust_b).

    Plan shape: the pair stage is a BLOCKED equi-self-join on the
    nation key (fan-out Σ_blocks b², never N² — the blocking-join
    family's contract; at 100 TB the block key widens to
    nation × balance-band to bound b). ALL THREE field histograms come
    from ONE grouping-sets aggregate (grouping sets expand map-side —
    the q_privacy_kanonymity trick — so the dim is scanned once for
    every weight, not twice per field), pivoted by grouping_id into a
    single one-row weight table broadcast into the pair stream; the
    top-k compiles to TakeOrderedAndProject."""
    prep(spark)
    cust = load(spark, sf_dir, "customer")
    f = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        # try_cast: a 1e300 balance overflows BIGINT at the cents
        # quantization and must NULL out (the row then agrees with
        # nothing on cents/band), not abort the stage (COVERAGE.md M11)
        (
            F.round(F.col("c_acctbal") * 100).try_cast("bigint")
            + F.lit(_LINK_SHIFT)
        ).alias("cents"),
    ).withColumn("band", F.expr("cents div 10000"))

    # one pass for all three per-field value histograms; gid bit = 1
    # marks an AGGREGATED column, so (seg)=3, (band)=5, (cents)=6
    cells = f.groupingSets(
        [["c_mktsegment"], ["band"], ["cents"]],
        "c_mktsegment",
        "band",
        "cents",
    ).agg(F.count(F.lit(1)).alias("cnt"), F.grouping_id().alias("gid"))
    stats = cells.groupBy("gid").agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("s2"),
        F.sum("cnt").cast("bigint").alias("n"),
    )
    wmicro = (
        F.floor(
            F.round(2 * F.log2("n") - F.log2("s2"), 9).cast("decimal(18,9)")
            * 1000000
        )
        .cast("bigint")
        .alias("w")
    )
    ws = stats.select("gid", wmicro)
    wrow = ws.agg(
        F.max(F.when(F.col("gid") == 3, F.col("w"))).alias("w_seg"),
        F.max(F.when(F.col("gid") == 5, F.col("w"))).alias("w_band"),
        F.max(F.when(F.col("gid") == 6, F.col("w"))).alias("w_cents"),
    )

    a = f.select(
        F.col("c_custkey").alias("cust_a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
        F.col("cents").alias("cents_a"),
        F.col("band").alias("band_a"),
    )
    b = f.select(
        F.col("c_custkey").alias("cust_b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
        F.col("cents").alias("cents_b"),
        F.col("band").alias("band_b"),
    )
    pairs = a.join(
        b,
        (F.col("nat_a") == F.col("nat_b"))
        & (F.col("cust_a") < F.col("cust_b")),
    ).select(
        "cust_a",
        "cust_b",
        (F.col("seg_a") == F.col("seg_b")).cast("bigint").alias("same_seg"),
        (F.col("band_a") == F.col("band_b")).cast("bigint").alias("same_band"),
        (F.col("cents_a") == F.col("cents_b"))
        .cast("bigint")
        .alias("same_cents"),
    )
    score = (
        F.col("same_seg") * F.col("w_seg")
        + F.col("same_band") * F.col("w_band")
        + F.col("same_cents") * F.col("w_cents")
    ).cast("bigint")
    return (
        pairs.crossJoin(F.broadcast(wrow))
        .select(
            "cust_a",
            "cust_b",
            "same_seg",
            "same_band",
            "same_cents",
            score.alias("score_microbits"),
        )
        .orderBy(F.col("score_microbits").desc(), "cust_a", "cust_b")
        .limit(_LINK_K)
    )
