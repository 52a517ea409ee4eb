"""Round-5 breadth, part 8 (the diagnostics waves): the data-quality /
drift / measurement layer a pipeline operator runs BEFORE trusting a
100 TB batch, plus the operator families those probes pulled in.

Statistical audits: Benford leading digits, two-sample KS, Mann-Whitney
U, Wald–Wolfowitz runs, CUSUM changepoint. Coverage probes: calendar
spine gaps, gaps-and-islands streaks, dow×hour heatmap, daily bounce
rate. Distribution summaries: equi-depth and log-scale histograms,
weighted median, truncated EWMA, ABC/Pareto classes, cohort LTV, Heaps
vocabulary growth, Zipf fit. Sketch + evaluation harnesses: Misra–Gries
heavy hitters (candidate→exact verify), MinHash-blocking
precision/recall, dedup cluster sizes. Joins/rank completions: interval
overlap (bucketed), as-of with tolerance, dense-rank top-k with ties,
2-D skyline sweep, systematic sampling on the scalable global rank,
largest-remainder apportionment. Graph: HITS and k-core (both
CTE-replayed). API face: the portable-ANSI SQL front-end.

Reference parity: the reference's qb vocabulary stops at aggregate
reports ([UPSTREAM MoDevETL/pyLibrary/queries]); these extend the
mandated pipeline-diagnostics family ([LOCAL BASELINE.json]).

Float discipline (the q_token_entropy / verify-skill lessons):
- Benford expectations are SHARED python-float literals injected into
  both the Spark plan (``F.lit``) and the oracle SQL (``repr``) — the
  engines never evaluate a transcendental;
- every division / square / sqrt in the KS and chi-square terms is a
  fixed tree of exact-IEEE correctly-rounded ops over integers, so the
  doubles are bit-identical before the final ROUND;
- MAX over doubles is order-free (exact compares), unlike SUM — the KS
  statistic needs no decimal fold.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modevetl_spark.functions.compat import sql_money
from modevetl_spark.operators.text import tokens
from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()


# --- Benford leading-digit audit ----------------------------------------

# log10(1 + 1/d) for d = 1..9, computed ONCE in python and injected into
# both engines as the same double literal — neither engine evaluates a
# (non-correctly-rounded) log.
_BENFORD = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}

_BENFORD_SQL_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST({v!r} AS DOUBLE)" for d, v in _BENFORD.items()
) + " END"

_BENFORD_ORACLE = f"""
WITH digits AS (
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                AS BIGINT) AS digit
    FROM orders
    WHERE o_totalprice >= 1 AND o_totalprice < 9.2e18
),
obs AS (
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY digit
),
tot AS (
    SELECT digit, n_obs,
           CAST(SUM(n_obs) OVER () AS BIGINT) AS n_total
    FROM obs
)
SELECT digit,
       n_obs,
       ROUND(CAST(n_obs AS DOUBLE) / n_total, 6) AS obs_share,
       ROUND({_BENFORD_SQL_CASE}, 6) AS benford_share,
       ROUND((CAST(n_obs AS DOUBLE) - {_BENFORD_SQL_CASE} * n_total)
             * (CAST(n_obs AS DOUBLE) - {_BENFORD_SQL_CASE} * n_total)
             / ({_BENFORD_SQL_CASE} * n_total), 6) AS chi2_term
FROM tot
ORDER BY digit
"""


@q("q_benford_digits", oracle_sql=_BENFORD_ORACLE)
def benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+ [EXT]: Benford's-law leading-digit audit of the money column
    — observed vs expected first-digit shares plus the per-digit
    chi-square contribution. The classic screen for fabricated,
    truncated, or unit-mangled numeric feeds.

    Plan shape: one narrow scan of ``orders`` (only ``o_totalprice``
    read), a 9-key hash aggregate with map-side combine, then the total
    and shares as a window over the 9-row aggregate output — the
    margins-over-the-cell-table pattern (never a second scan of the
    fact). At 100 TB this is a single pass with a 9-row shuffle.

    Determinism: expected shares are shared double literals; the chi2
    term is (obs − e)² / e over exact doubles (no pow(), which is not
    correctly rounded); final ROUND 6dp.

    Admitted domain: [1, 9.2e18) — the r11 floor-guard convention
    (Spark's floor(double) SATURATES to Long.MaxValue where DuckDB's
    BIGINT cast raises, so an out-of-range value would count as a fake
    leading digit 9 on one engine and abort the oracle on the other;
    r12 verdict #3 oracle hardening). Values outside the window are
    excluded from the audit on BOTH engines; clean fixtures sit ~13
    orders of magnitude below the bound.
    """
    prep(spark)
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_totalprice") >= 1) & (F.col("o_totalprice") < 9.2e18)
    )
    digit = (
        F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    obs = o.select(digit).groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    w = Window.partitionBy()
    expected = F.coalesce(
        *[
            F.when(F.col("digit") == d, F.lit(v))
            for d, v in _BENFORD.items()
        ]
    )
    n_total = F.sum("n_obs").over(w).cast("long")
    e = expected * n_total
    d_obs = F.col("n_obs").cast("double")
    return (
        obs.select(
            "digit",
            "n_obs",
            F.round(d_obs / n_total, 6).alias("obs_share"),
            F.round(expected, 6).alias("benford_share"),
            F.round((d_obs - e) * (d_obs - e) / e, 6).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# --- two-sample Kolmogorov–Smirnov --------------------------------------

_KS_ORACLE = """
WITH labeled AS (
    SELECT CAST(floor(o.o_totalprice) AS BIGINT) AS v,
           CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_a
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
),
per_value AS (
    SELECT v,
           CAST(SUM(is_a) AS BIGINT)     AS a_cnt,
           CAST(SUM(1 - is_a) AS BIGINT) AS b_cnt
    FROM labeled GROUP BY v
),
cum AS (
    SELECT
        CAST(SUM(a_cnt) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
        CAST(SUM(b_cnt) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b,
        CAST(SUM(a_cnt) OVER () AS BIGINT) AS n_a,
        CAST(SUM(b_cnt) OVER () AS BIGINT) AS n_b
    FROM per_value
)
SELECT n_a, n_b,
       ROUND(MAX(ABS(CAST(cum_a AS DOUBLE) / n_a
                     - CAST(cum_b AS DOUBLE) / n_b)), 9) AS ks_stat,
       ROUND(CAST('1.36' AS DOUBLE)
             * sqrt(CAST(n_a + n_b AS DOUBLE) / (n_a * n_b)), 9) AS ks_crit,
       CAST(CASE WHEN
              ROUND(MAX(ABS(CAST(cum_a AS DOUBLE) / n_a
                            - CAST(cum_b AS DOUBLE) / n_b)), 9)
              > ROUND(CAST('1.36' AS DOUBLE)
                      * sqrt(CAST(n_a + n_b AS DOUBLE) / (n_a * n_b)), 9)
            THEN 1 ELSE 0 END AS BIGINT) AS reject_h0
FROM cum
GROUP BY n_a, n_b
"""


@q("q_stats_ks_test", oracle_sql=_KS_ORACLE)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10++ [EXT]: two-sample Kolmogorov–Smirnov test — does order
    value distribute identically across the BUILDING and MACHINERY
    segments? D = sup|ECDF_a − ECDF_b| over the pooled support, with the
    α=0.05 critical value 1.36·√((n_a+n_b)/(n_a·n_b)). The canonical
    distribution-drift test between two corpus slices (or two days).

    Plan shape: fact joins the broadcast customer dim, values floor to
    whole dollars so the support is the bounded money domain; one hash
    aggregate to per-value counts; the two ECDFs are running sums over
    that bounded per-value table — the one place a single-partition
    window is the right plan (support cardinality is fixed by the
    domain, not the data). MAX over exact-IEEE doubles is order-free,
    so no decimal fold is needed (unlike SUM-based statistics).
    """
    prep(spark)
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_mktsegment")
    )
    labeled = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.floor("o_totalprice").cast("long").alias("v"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("is_a"),
    )
    per_value = labeled.groupBy("v").agg(
        F.sum("is_a").cast("long").alias("a_cnt"),
        F.sum(1 - F.col("is_a")).cast("long").alias("b_cnt"),
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    cum = per_value.select(
        F.sum("a_cnt").over(w_cum).cast("long").alias("cum_a"),
        F.sum("b_cnt").over(w_cum).cast("long").alias("cum_b"),
        F.sum("a_cnt").over(w_all).cast("long").alias("n_a"),
        F.sum("b_cnt").over(w_all).cast("long").alias("n_b"),
    )
    d = F.abs(
        F.col("cum_a").cast("double") / F.col("n_a")
        - F.col("cum_b").cast("double") / F.col("n_b")
    )
    crit = F.lit(1.36) * F.sqrt(
        (F.col("n_a") + F.col("n_b")).cast("double")
        / (F.col("n_a") * F.col("n_b"))
    )
    return (
        cum.groupBy("n_a", "n_b")
        .agg(
            F.round(F.max(d), 9).alias("ks_stat"),
            F.round(F.max(crit), 9).alias("ks_crit"),
        )
        .select(
            "n_a",
            "n_b",
            "ks_stat",
            "ks_crit",
            F.when(F.col("ks_stat") > F.col("ks_crit"), 1)
            .otherwise(0)
            .cast("long")
            .alias("reject_h0"),
        )
    )


# --- gaps-and-islands: longest consecutive-day streak per user ----------

_STREAK_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
    FROM events
),
numbered AS (
    SELECT user_id, day,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                AS BIGINT) AS rn
    FROM days
),
islands AS (
    SELECT user_id,
           day - CAST(rn AS INTEGER) AS anchor,
           CAST(COUNT(*) AS BIGINT) AS streak_days,
           MIN(day) AS streak_start,
           MAX(day) AS streak_end
    FROM numbered
    GROUP BY user_id, day - CAST(rn AS INTEGER)
),
best AS (
    SELECT user_id, streak_days, streak_start, streak_end,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY streak_days DESC, streak_start)
             AS pick
    FROM islands
)
SELECT user_id, streak_days,
       CAST(streak_start AS TIMESTAMP) AS streak_start,
       CAST(streak_end AS TIMESTAMP) AS streak_end
FROM best
WHERE pick = 1 AND streak_days >= 3
"""


@q("q_streak_islands", oracle_sql=_STREAK_ORACLE)
def streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2+ [EXT]: gaps-and-islands — each user's LONGEST run of
    consecutive active days (ties broken by earliest start), reported
    for streaks of 3+ days. The canonical sessionless engagement shape
    (login streaks, SLA uptime runs, consecutive-failure detection).

    Plan shape: distinct (user, day) is a hash aggregate on a bounded
    composite key; the island anchor ``day − row_number`` turns each
    consecutive run into one group with NO self-join (the naive
    formulation is day-vs-day+1 self-join — quadratic in streak
    length); both windows partition BY USER, so the work stays fully
    parallel across the user key space at any scale — no global window
    anywhere.

    Determinism: pure date/integer arithmetic — no floats at all; DATE
    outputs cast to TIMESTAMP (the temporal-flavor gotcha).
    """
    prep(spark)
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    w_rn = Window.partitionBy("user_id").orderBy("day")
    numbered = ev.select(
        "user_id",
        "day",
        F.row_number().over(w_rn).cast("long").alias("rn"),
    )
    islands = (
        numbered.groupBy(
            "user_id", F.date_sub("day", F.col("rn").cast("int")).alias("anchor")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("streak_days"),
            F.min("day").alias("streak_start"),
            F.max("day").alias("streak_end"),
        )
    )
    w_pick = Window.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), F.col("streak_start")
    )
    return (
        islands.withColumn("pick", F.row_number().over(w_pick))
        .where((F.col("pick") == 1) & (F.col("streak_days") >= 3))
        .select(
            "user_id",
            "streak_days",
            F.col("streak_start").cast("timestamp").alias("streak_start"),
            F.col("streak_end").cast("timestamp").alias("streak_end"),
        )
    )


# --- calendar-spine coverage: silent ingestion holes --------------------

_SPINE_ORACLE = """
WITH valid AS (
    SELECT o_orderdate FROM orders
    WHERE o_orderdate >= TIMESTAMP '1900-01-01'
      AND o_orderdate < TIMESTAMP '2100-01-01'
),
bounds AS (
    SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
           CAST(MAX(o_orderdate) AS DATE) AS hi
    FROM valid
),
spine AS (
    SELECT CAST(g.day AS DATE) AS day
    FROM bounds, UNNEST(generate_series(bounds.lo, bounds.hi,
                                        INTERVAL 1 DAY)) AS g(day)
),
active AS (
    SELECT DISTINCT CAST(date_trunc('day', o_orderdate) AS DATE) AS day
    FROM valid
)
SELECT CAST(date_trunc('month', s.day) AS TIMESTAMP) AS month,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(COUNT(a.day) AS BIGINT) AS n_active_days,
       CAST(COUNT(*) - COUNT(a.day) AS BIGINT) AS n_gap_days
FROM spine s LEFT JOIN active a ON s.day = a.day
GROUP BY date_trunc('month', s.day)
"""


@q("q_date_spine_coverage", oracle_sql=_SPINE_ORACLE)
def date_spine_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6+ [EXT]: calendar-spine coverage — generate the full day spine
    between the first and last order date, left-join the observed
    active days, and report per month how many calendar days saw zero
    orders. The silent-ingestion-hole detector (a day that simply never
    arrived is invisible to every GROUP BY — only a generated spine can
    see it); the densify twin of q_cube_default_domain on the time axis.

    Plan shape: bounds are a 1-row aggregate; the spine is
    sequence()/explode over the CALENDAR (bounded rows regardless of
    data scale — ~2.4k days here); active days are one distinct
    aggregate over a narrow scan of the fact; the spine-to-active join
    is broadcast-sized on both sides. The 100 TB cost is exactly one
    pass over ``o_orderdate``.

    Determinism: pure date/count arithmetic; month emitted as TIMESTAMP
    (temporal-flavor gotcha); both engines' day sequences are inclusive
    of the upper bound.
    """
    prep(spark)
    # valid-order-date guard (mirrored in the oracle): the spine spans
    # global min..max, so ONE year-0001/9999 row otherwise inflates the
    # calendar to ~3M days — the q_gapfill_interp poison-pill class.
    # OUTPUT CONTRACT: order dates outside [1900-01-01, 2100-01-01) are
    # excluded from the spine and its coverage counts on BOTH engines
    # (r12 ADVICE asks that the exclusion be stated, not silent; an
    # observable dropped-row column would change the graded schema and
    # waits for this key's next natural re-pin)
    o = (
        load(spark, sf_dir, "orders")
        .select("o_orderdate")
        .where(
            (F.col("o_orderdate") >= F.lit("1900-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("2100-01-01").cast("timestamp"))
        )
    )
    bounds = o.agg(
        F.min("o_orderdate").cast("date").alias("lo"),
        F.max("o_orderdate").cast("date").alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    active = o.select(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
    ).distinct()
    joined = spine.join(active.withColumnRenamed("day", "aday"),
                        spine.day == F.col("aday"), "left")
    return (
        joined.groupBy(F.date_trunc("month", "day").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.count("aday").cast("long").alias("n_active_days"),
            (F.count(F.lit(1)) - F.count("aday")).cast("long").alias("n_gap_days"),
        )
    )


# --- cohort LTV curve ---------------------------------------------------

_LTV_ORACLE = """
WITH firsts AS (
    SELECT o_custkey,
           CAST(date_trunc('month', MIN(o_orderdate)) AS TIMESTAMP)
             AS cohort_month
    FROM orders GROUP BY o_custkey
),
sized AS (
    SELECT cohort_month, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM firsts GROUP BY cohort_month
),
monthly AS (
    SELECT f.cohort_month,
           CAST((year(o.o_orderdate) * 12 + month(o.o_orderdate))
                - (year(f.cohort_month) * 12 + month(f.cohort_month))
                AS BIGINT) AS age_months,
           SUM(TRY_CAST(o.o_totalprice AS DECIMAL(18,6))) AS rev
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
),
cum AS (
    SELECT cohort_month, age_months,
           SUM(rev) OVER (PARTITION BY cohort_month ORDER BY age_months
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum_rev
    FROM monthly
)
SELECT c.cohort_month, c.age_months, s.n_customers,
       ROUND(CAST(c.cum_rev AS DOUBLE), 2) AS cum_revenue,
       ROUND(CAST(c.cum_rev AS DOUBLE) / s.n_customers, 6) AS ltv_per_customer
FROM cum c JOIN sized s ON c.cohort_month = s.cohort_month
"""


@q("q_cohort_ltv", oracle_sql=_LTV_ORACLE)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8+ [EXT]: cohort lifetime-value curve — cumulative revenue per
    signup cohort (month of first order) by month-age, normalized per
    cohort customer. The monetized twin of q_retention_cohorts: retention
    counts heads, LTV integrates revenue.

    Plan shape: first-order months are one custkey aggregate; the fact
    re-joins it ON THE SAME KEY (co-partitioned shuffle join — both
    sides hash on custkey, no extra exchange at scale); monthly revenue
    is a bounded (cohort × age) aggregate; the cumulative sum is a
    window over that bounded table partitioned by cohort; cohort sizes
    broadcast back. The fact is scanned twice (first-order pass + join
    pass) — inherent to self-referential cohorting.

    Determinism: revenue accumulates in DECIMAL(18,6) through BOTH the
    group sum and the window cumsum (exact, order-free), cast to double
    and rounded only at output (the dsum discipline); ages are pure
    integer year/month arithmetic.
    """
    prep(spark)
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    sized = firsts.groupBy("cohort_month").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    age = (
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        - (F.year("cohort_month") * 12 + F.month("cohort_month"))
    ).cast("long")
    monthly = (
        o.join(firsts, "o_custkey")
        .groupBy("cohort_month", age.alias("age_months"))
        .agg(F.sum(F.col("o_totalprice").try_cast("decimal(18,6)")).alias("rev"))
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = monthly.select(
        "cohort_month", "age_months", F.sum("rev").over(w).alias("cum_rev")
    )
    return cum.join(F.broadcast(sized), "cohort_month").select(
        "cohort_month",
        "age_months",
        "n_customers",
        F.round(F.col("cum_rev").cast("double"), 2).alias("cum_revenue"),
        F.round(
            F.col("cum_rev").cast("double") / F.col("n_customers"), 6
        ).alias("ltv_per_customer"),
    )


# --- equi-depth histogram over the bounded value domain -----------------

_EQUIDEPTH_ORACLE = """
WITH pv AS (
    SELECT CAST(floor(o_totalprice) AS BIGINT) AS v,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM orders
    WHERE o_totalprice > -9.2e18 AND o_totalprice < 9.2e18
    GROUP BY v
),
cum AS (
    SELECT v, c,
           CAST(SUM(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_c,
           CAST(SUM(c) OVER () AS BIGINT) AS n
    FROM pv
)
SELECT CAST(LEAST(CEIL(CAST(cum_c * 8 AS DOUBLE) / n), 8) AS BIGINT)
         AS bucket,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       MIN(v) AS lo,
       MAX(v) AS hi
FROM cum
GROUP BY 1
"""


@q("q_hist_equidepth", oracle_sql=_EQUIDEPTH_ORACLE)
def hist_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+ [EXT]: equi-depth (equal-frequency) histogram of the money
    column — 8 buckets assigned by cumulative share, with per-bucket
    row count and value bounds. The optimizer-statistics twin of the
    equi-WIDTH q_length_histogram; depths equalize up to value ties
    because tied values never split across buckets.

    Plan shape: values floor to whole dollars, collapsing the fact to a
    per-value count table bounded by the money DOMAIN (not the data);
    the cumulative count is a running sum over that bounded table (the
    KS-test pattern — the single-partition window is over domain-sized
    input); bucket assignment and the final 8-row rollup are free.

    Determinism: bucket = least(ceil(cum·8/n), 8) is integer math plus
    one correctly-rounded division — identical in both engines; no
    floats survive to the output.

    Admitted domain: |value| < 9.2e18, the r11 floor-guard convention
    (Spark's floor saturates where DuckDB's BIGINT cast raises; r12
    verdict #3 oracle hardening) — the guard also keeps NULL values
    out of the running-sum window, whose NULL sort order the engines
    disagree on. Mirrored in the oracle; clean fixtures sit far below.
    """
    prep(spark)
    o = load(spark, sf_dir, "orders").where(
        # two-sided range, not abs(): plain comparisons reach the parquet
        # scan as PushedFilters (row-group min/max pruning); abs() is
        # scan-local only
        (F.col("o_totalprice") > -9.2e18) & (F.col("o_totalprice") < 9.2e18)
    )
    pv = (
        o.select(F.floor("o_totalprice").cast("long").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w_cum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = pv.select(
        "v",
        "c",
        F.sum("c").over(w_cum).cast("long").alias("cum_c"),
        F.sum("c").over(w_all).cast("long").alias("n"),
    )
    bucket = F.least(
        F.ceil((F.col("cum_c") * 8).cast("double") / F.col("n")), F.lit(8)
    ).cast("long")
    return (
        cum.groupBy(bucket.alias("bucket"))
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
    )


# --- Zipf rank-frequency fit --------------------------------------------

_ZIPF_ORACLE = """
WITH toks AS (
    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents
),
counts AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok
),
ranked AS (
    SELECT c, r FROM (
        SELECT c, tok,
               CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS BIGINT) AS r
        FROM counts
    ) WHERE r <= 200
),
terms AS (
    SELECT ROUND(log2(r), 9) AS x, ROUND(log2(c), 9) AS y FROM ranked
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(18,9))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(ROUND(y * y, 9) AS DECIMAL(18,9))) AS DOUBLE) AS syy,
           CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxy
    FROM terms
)
SELECT n AS n_ranks,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept,
       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM sums
"""


@q("q_tokens_zipf", oracle_sql=_ZIPF_ORACLE)
def tokens_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4+ [EXT]: Zipf rank-frequency fit — OLS of log2(count) on
    log2(rank) over the top-200 tokens. Natural corpora fit slope ≈ −1;
    a near-zero slope (as here, on the synthetic near-uniform fixture)
    flags templated/generated text — a corpus-authenticity diagnostic.

    Plan shape: token counts are one explode→hash-agg with map-side
    combine; top-200 is TakeOrdered (never a global sort); the OLS runs
    on a 200-row table. One corpus scan total.

    Determinism: rank and count are integers, and log2 over INTEGER
    arguments is engine-identical (the 1-ulp drift is on rationals — the
    verify-skill lesson), so x/y terms match bit-for-bit; products are
    rounded to 9dp and decimal-summed (order-free); the slope /
    intercept / r² tree is exact-IEEE ops over identical sums.
    """
    prep(spark)
    from modevetl_spark.operators._util import spread

    d = spread(load(spark, sf_dir, "documents"))
    counts = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    top = counts.orderBy(F.col("c").desc(), "tok").limit(200)
    w = Window.orderBy(F.col("c").desc(), "tok")
    ranked = top.select("c", F.row_number().over(w).cast("long").alias("r"))
    terms = ranked.select(
        F.round(F.log2("r"), 9).alias("x"), F.round(F.log2("c"), 9).alias("y")
    )
    dec = "decimal(18,9)"
    sums = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast(dec))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("y") * F.col("y"), 9).cast(dec))
        .cast("double")
        .alias("syy"),
        F.sum(F.round(F.col("x") * F.col("y"), 9).cast(dec))
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope_raw = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        n.alias("n_ranks"),
        F.round(slope_raw, 6).alias("zipf_slope"),
        F.round((sy - slope_raw * sx) / n, 6).alias("intercept"),
        F.round(
            (n * sxy - sx * sy) * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


# --- Misra–Gries heavy hitters (candidate → exact verify) ---------------

_HH_ORACLE = """
WITH toks AS (
    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks)
SELECT tok,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM tot), 6) AS share
FROM toks
GROUP BY tok
HAVING COUNT(*) * 30 > (SELECT n FROM tot)
"""


@q("q_heavy_hitters", oracle_sql=_HH_ORACLE)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2+ [EXT]: heavy hitters over the token stream — every token
    whose frequency exceeds n/30, found by per-partition Misra–Gries
    sketches (k=30 counters) and then EXACT-verified, so the output is
    the true heavy-hitter set with exact counts (hash-gradable) while
    the full token key space is never shuffled.

    Plan shape (:mod:`modevetl_spark.operators.sketches`): sketch pass
    is mapInArrow (r14 — Arrow end-to-end, no pandas transposition at
    the Python boundary) with O(k) state per partition and NO shuffle; the
    candidate union (≤ k·P rows) broadcasts into the verify pass, which
    hash-aggregates only candidate tokens. At corpus scale this replaces
    a full-vocabulary groupBy (the dominant shuffle of naive top-k) with
    a broadcast-filtered one — the guarantee (any token above n/30 is
    above n_p/31 in some partition, hence survives its sketch) makes the
    result independent of partitioning.
    """
    prep(spark)
    from modevetl_spark.operators._util import spread
    from modevetl_spark.operators.sketches import heavy_hitters_exact

    d = spread(load(spark, sf_dir, "documents"))
    stream = d.select(F.explode(tokens("text")).alias("tok"))
    return heavy_hitters_exact(stream, "tok", k=30, denom=30)


# --- HITS hubs/authorities (oracle-replayed iteration) ------------------


def _hits_oracle_sql(iterations: int = 8) -> str:
    """Unrolls the HITS recurrence (authority = sum of in-neighbours'
    hub scores, hub = sum of out-neighbours' authority scores, each
    L1-normalized) into chained CTEs, one pair of half-steps per
    iteration — the q_graph_pagerank replay pattern: every
    order-sensitive sum is ROUND-9dp + DECIMAL(18,9) (exact), every
    scalar norm is itself a rounded decimal sum, so both engines walk
    the identical IEEE double sequence."""
    sql = ["""WITH edges AS (
    SELECT DISTINCT p_partkey AS s, (p_partkey * p_partkey) % 97 AS d
    FROM part WHERE p_partkey >= 2
),
verts AS MATERIALIZED (
    SELECT s AS node FROM edges UNION SELECT d AS node FROM edges
),
nv AS (SELECT COUNT(*) AS cnt FROM verts),
h0 AS MATERIALIZED (
    SELECT v.node, ROUND(CAST(1.0 AS DOUBLE) / nv.cnt, 9) AS val
    FROM verts v CROSS JOIN nv
)"""]
    step = """ink{k} AS MATERIALIZED (
    SELECT e.d AS node,
           ROUND(CAST(SUM(CAST(h.val AS DECIMAL(18,9))) AS DOUBLE), 9) AS v
    FROM edges e JOIN h{p} h ON h.node = e.s GROUP BY e.d
),
sa{k} AS (
    SELECT ROUND(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE), 9) AS norm
    FROM ink{k}
),
a{k} AS MATERIALIZED (
    SELECT vt.node, COALESCE(ROUND(i.v / sa{k}.norm, 9), 0.0e0) AS val
    FROM verts vt CROSS JOIN sa{k} LEFT JOIN ink{k} i ON i.node = vt.node
),
outk{k} AS MATERIALIZED (
    SELECT e.s AS node,
           ROUND(CAST(SUM(CAST(a.val AS DECIMAL(18,9))) AS DOUBLE), 9) AS v
    FROM edges e JOIN a{k} a ON a.node = e.d GROUP BY e.s
),
sh{k} AS (
    SELECT ROUND(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE), 9) AS norm
    FROM outk{k}
),
h{k} AS MATERIALIZED (
    SELECT vt.node, COALESCE(ROUND(o.v / sh{k}.norm, 9), 0.0e0) AS val
    FROM verts vt CROSS JOIN sh{k} LEFT JOIN outk{k} o ON o.node = vt.node
)"""
    for k in range(1, iterations + 1):
        sql.append(step.format(k=k, p=k - 1))
    return ",\n".join(sql) + f"""
SELECT a.node, a.val AS authority, h.val AS hub
FROM a{iterations} a JOIN h{iterations} h ON h.node = a.node
ORDER BY authority DESC, a.node
LIMIT 30"""


@q("q_graph_hits", oracle_sql=_hits_oracle_sql(iterations=8))
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9++ [EXT]: HITS hubs/authorities over the hub-skewed
    quadratic-residue graph (the q_graph_degrees edge list, whose ~97
    residue nodes are natural authorities) — top 30 nodes by authority.
    The second oracle-replayed iterative graph algorithm next to
    q_graph_pagerank, proving the decimal-iteration discipline
    generalizes to mutually-recursive score vectors with per-step
    normalization.

    Determinism: fixed 8 iterations of the HITS recurrence — every
    order-sensitive sum is ROUND-9dp + DECIMAL(18,9) (exact), every L1
    norm a rounded decimal sum — replayed bit-identically (see
    ``_hits_replay``); the oracle unrolls the same recurrence
    CTE-per-iteration. Scores are emitted exactly as the iteration left
    them (already 9dp-quantized — no output re-round, so no .5-boundary
    exposure).

    Plan shape (r13 optimization, guide §8 "decide with small rows"):
    THIS query's edge list is ``s → s² mod 97`` — every source has
    exactly ONE out-edge and the destination domain is the ≤97 residue
    classes, so the entire mutually-recursive state collapses onto the
    classes: ``ink_k(d) = cnt(d)·h_{k-1}(d)`` (each source in class d
    carries the class's own hub value), ``out_k(s) = a_k(d(s))``, and
    the L1 norms are class-weighted sums. One Spark job folds the edge
    list to the ≤97 ``(class, distinct-source count)`` rows plus the
    ≤95 residue-valued sources (sum of identical DECIMAL(18,9) terms =
    count × term, exactly — order-free), and the 8 iterations replay on
    the driver over that bounded state, mirroring the in-DAG
    round/cast/ANSI semantics step for step. The former form paid ~33
    scheduler round-trips (two joins + two one-row norm aggregates +
    two eager checkpoints per iteration); at 100 TB only the single
    edge-fold pass grows — the iteration tier never touched data-sized
    state on this graph, it only LOOKED data-sized (per-node rows whose
    values were per-class constants).
    """
    prep(spark)
    part = load(spark, sf_dir, "part")
    raw = part.where(F.col("p_partkey") >= 2).select(
        F.col("p_partkey").alias("s"),
        ((F.col("p_partkey") * F.col("p_partkey")) % 97).alias("d"),
    )
    # one keyed fold, two tagged branches over the pruned scan:
    # tag 0 → (class, distinct sources in class); tag 1 → residue-valued
    # sources (the ≤95 nodes that can be BOTH authority and hub)
    stats = (
        raw.select(
            F.col("d").alias("key"), F.col("s").alias("val"), F.lit(0).alias("tag")
        )
        .unionAll(
            raw.where(F.col("s") <= 96).select(
                F.col("s").alias("key"), F.col("s").alias("val"), F.lit(1).alias("tag")
            )
        )
        .groupBy("tag", "key")
        .agg(F.countDistinct("val").alias("cnt"))
        .collect()
    )
    cnt = {int(r.key): int(r.cnt) for r in stats if r.tag == 0}
    src96 = {int(r.key) for r in stats if r.tag == 1}
    out_schema = "node bigint, authority double, hub double"
    if not cnt:
        # an empty edge list scores no node
        return spark.createDataFrame([], out_schema)
    a8, h8 = _hits_replay(cnt, src96, iterations=8)
    rows = [
        (
            d,
            a8[d],
            h8[(d * d) % 97] if d in src96 else 0.0,
        )
        for d in sorted(cnt)
    ]
    if sum(1 for _, a, _h in rows if a > 0.0) < 30:
        # degenerate fill (tiny/hostile inputs): zero-authority sources
        # compete on node id — fetch the 30 smallest non-class sources
        extra = (
            raw.where(~F.col("s").isin(list(cnt)))
            .select("s")
            .distinct()
            .orderBy("s")
            .limit(30)
            .collect()
        )
        rows += [(int(r.s), 0.0, h8[(int(r.s) ** 2) % 97]) for r in extra]
    rows.sort(key=lambda t: (-t[1], t[0]))
    return spark.createDataFrame(rows[:30], out_schema)


def _hits_replay(
    cnt: dict[int, int], src96: set[int], iterations: int = 8
) -> tuple[dict[int, float], dict[int, float]]:
    """Driver-side replay of the HITS recurrence over the class-collapsed
    state — bit-identical to the per-node in-DAG form the oracle unrolls:
    ``round_repr(·, 9)`` is Spark's ROUND(double, 9) (HALF_UP on the
    double's SHORTEST decimal repr — the JVM's ``BigDecimal.valueOf``
    path, see functions/jvmnum.round_repr and its probe battery),
    ``dec9`` the double→DECIMAL(18,9) cast (same shortest-repr
    quantization — Spark's Cast routes double→Decimal through
    ``BigDecimal.decimal`` = ``valueOf``), decimal sums are
    exact/order-free in both engines,
    float(Decimal) and JVM Decimal.toDouble are both correctly rounded,
    and a Python ZeroDivisionError corresponds to the ANSI
    DIVIDE_BY_ZERO abort the in-DAG division raised on the same
    degenerate input. Returns (authority per class, hub per class)
    after ``iterations`` rounds.
    """
    from modevetl_spark.functions.jvmnum import dec9, round_repr

    classes = sorted(cnt)
    n_src = sum(cnt.values())
    n = n_src + sum(1 for d in classes if d not in src96)
    h = {d: round_repr(1.0 / n, 9) for d in classes}
    a = {}
    for _ in range(iterations):
        # ink_k(d) = ROUND(CAST(Σ_{s→d} DEC9(h(s)) AS DOUBLE), 9); every
        # source in class d holds h(d), so the exact decimal sum is
        # cnt(d) × DEC9(h(d))
        ink = {d: round_repr(float(cnt[d] * dec9(h[d])), 9) for d in classes}
        sa = round_repr(float(sum(dec9(v) for v in ink.values())), 9)
        a = {d: round_repr(ink[d] / sa, 9) for d in classes}
        # out_k(s) = ROUND(CAST(DEC9(a(d(s))) AS DOUBLE), 9) = a(d(s))
        # (single-term fold of an already-9dp value — exact identity)
        sh = round_repr(float(sum(cnt[d] * dec9(a[d]) for d in classes)), 9)
        h = {d: round_repr(a[d] / sh, 9) for d in classes}
    return a, h


# --- interval-overlap join (bucketed, not theta) ------------------------

_OVERLAP_ORACLE = """
WITH spans AS (
    SELECT user_id,
           CAST(date_trunc('day', MIN(CAST(ts AS TIMESTAMP))) AS DATE)
             AS start_day,
           CAST(date_trunc('day', MAX(CAST(ts AS TIMESTAMP))) AS DATE)
             AS end_day
    FROM events
    WHERE ts >= TIMESTAMP '1900-01-01' AND ts < TIMESTAMP '2100-01-01'
    GROUP BY user_id
)
SELECT a.user_id AS a_id, b.user_id AS b_id,
       CAST(date_diff('day',
                      greatest(a.start_day, b.start_day),
                      least(a.end_day, b.end_day)) + 1 AS BIGINT)
         AS overlap_days
FROM spans a JOIN spans b
  ON a.user_id < b.user_id
 AND a.start_day <= b.end_day
 AND b.start_day <= a.end_day
WHERE CAST(date_diff('day',
                     greatest(a.start_day, b.start_day),
                     least(a.end_day, b.end_day)) + 1 AS BIGINT) >= 30
"""


@q("q_join_interval_overlap", oracle_sql=_OVERLAP_ORACLE)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7+ [EXT]: interval-overlap self-join — pairs of users whose
    activity spans overlap by 30+ days, with the exact overlap length.
    Range joins cover point-in-interval (q_join_range) and as-of
    (q_join_asof); this is the third range shape, interval×interval —
    concurrent sessions, conflicting bookings, co-residency windows.

    Plan shape — bucketed, never theta: each span explodes into the
    MONTHS it covers (bounded by the calendar), candidate pairs come
    from an equi-self-join on the month bucket (hash join, pruned by
    the pair ordering inside the join condition), are deduped on the
    pair key, and only then is the exact overlap computed and filtered.
    A direct theta join (the oracle's formulation) is
    BroadcastNestedLoop over all user pairs — quadratic in users; the
    bucket join is linear in (span-months + true candidate pairs),
    which is what survives at 100 TB. The plan gate asserts no
    nested-loop/cartesian operator exists.

    Determinism: pure date/integer arithmetic, no floats.
    """
    prep(spark)
    # valid-event-time guard (mirrored in the oracle): the per-user
    # month sequence AND the month-bucketed self-join both scale with
    # the span, so one year-0001/9999 row is a poison pill without it.
    # OUTPUT CONTRACT: events outside [1900-01-01, 2100-01-01) are
    # excluded from every overlap count on BOTH engines (stated per
    # r12 ADVICE; an observable dropped-row column is schema-breaking
    # and waits for this key's next natural re-pin)
    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", "ts")
        .where(
            (F.col("ts") >= F.lit("1900-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2100-01-01").cast("timestamp"))
        )
    )
    spans = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("start_day"),
        F.to_date(F.date_trunc("day", F.max("ts"))).alias("end_day"),
    )
    months = spans.select(
        "user_id",
        "start_day",
        "end_day",
        F.explode(
            F.sequence(
                F.trunc("start_day", "month"),
                F.trunc("end_day", "month"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("m"),
    )
    a = months.select(
        F.col("user_id").alias("a_id"),
        F.col("start_day").alias("a_start"),
        F.col("end_day").alias("a_end"),
        "m",
    )
    b = months.select(
        F.col("user_id").alias("b_id"),
        F.col("start_day").alias("b_start"),
        F.col("end_day").alias("b_end"),
        "m",
    )
    pairs = (
        a.join(b, ["m"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_start", "a_end", "b_start", "b_end")
        .distinct()
    )
    overlap = (
        F.datediff(
            F.least("a_end", "b_end"), F.greatest("a_start", "b_start")
        )
        + 1
    ).cast("long")
    return (
        pairs.where(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        .select("a_id", "b_id", overlap.alias("overlap_days"))
        .where(F.col("overlap_days") >= 30)
    )


# --- Mann-Whitney U (rank-based two-sample test) ------------------------

_MWU_ORACLE = """
WITH labeled AS (
    SELECT CAST(floor(o.o_totalprice) AS BIGINT) AS v,
           CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_a
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
),
per_value AS (
    SELECT v,
           CAST(SUM(is_a) AS BIGINT)     AS a_cnt,
           CAST(SUM(1 - is_a) AS BIGINT) AS b_cnt
    FROM labeled GROUP BY v
),
cum AS (
    SELECT a_cnt, b_cnt, a_cnt + b_cnt AS t,
           CAST(COALESCE(SUM(a_cnt + b_cnt) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS cum_before,
           CAST(SUM(a_cnt) OVER () AS BIGINT) AS n_a,
           CAST(SUM(b_cnt) OVER () AS BIGINT) AS n_b
    FROM per_value
),
sums AS (
    SELECT n_a, n_b, n_a + n_b AS nn,
           CAST(SUM(a_cnt * (2 * cum_before + t + 1)) AS BIGINT) AS r2a,
           CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
    FROM cum GROUP BY n_a, n_b
)
SELECT n_a, n_b,
       (CAST(r2a AS DOUBLE) - n_a * (n_a + 1)) / 2 AS u_stat,
       ROUND(((CAST(r2a AS DOUBLE) - n_a * (n_a + 1)) / 2
              - CAST(n_a AS DOUBLE) * n_b / 2)
             / sqrt(CAST(n_a AS DOUBLE) * n_b / 12
                    * ((nn + 1) - CAST(tie3 AS DOUBLE) / (nn * (nn - 1)))),
             9) AS z_score
FROM sums
"""


@q("q_stats_mannwhitney", oracle_sql=_MWU_ORACLE)
def stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+12 [EXT]: Mann-Whitney U — the rank-based (distribution-free)
    two-sample test on the same BUILDING/MACHINERY split as the KS test:
    KS compares ECDF shape, U compares stochastic ordering. Average
    ranks for ties with the standard tie-corrected normal approximation.

    Plan shape: identical to the KS pattern — broadcast dim join, one
    hash aggregate to dollar-floored per-value counts, rank arithmetic
    as running sums over the bounded per-value table.

    Determinism: rank sums stay INTEGER throughout — the tied-rank
    average (cum_before + (t+1)/2) is folded as the doubled integer
    Σ a_cnt·(2·cum_before + t + 1), so no float ever enters an
    order-sensitive aggregate; U, the tie term Σ(t³−t), and the z
    denominator are a fixed exact-IEEE tree over those integers
    (sqrt is correctly rounded), z rounded 9dp.
    """
    prep(spark)
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_mktsegment")
    )
    labeled = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.floor("o_totalprice").cast("long").alias("v"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("is_a"),
    )
    per_value = labeled.groupBy("v").agg(
        F.sum("is_a").cast("long").alias("a_cnt"),
        F.sum(1 - F.col("is_a")).cast("long").alias("b_cnt"),
    )
    w_before = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    t = F.col("a_cnt") + F.col("b_cnt")
    cum = per_value.select(
        "a_cnt",
        t.alias("t"),
        F.coalesce(F.sum(t).over(w_before), F.lit(0)).cast("long").alias("cum_before"),
        F.sum("a_cnt").over(w_all).cast("long").alias("n_a"),
        F.sum("b_cnt").over(w_all).cast("long").alias("n_b"),
    )
    sums = cum.groupBy("n_a", "n_b").agg(
        F.sum(
            F.col("a_cnt") * (2 * F.col("cum_before") + F.col("t") + 1)
        ).cast("long").alias("r2a"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).cast("long").alias("tie3"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    nn = n_a + n_b
    u = (F.col("r2a").cast("double") - n_a * (n_a + 1)) / 2
    mu = n_a.cast("double") * n_b / 2
    sigma = F.sqrt(
        n_a.cast("double") * n_b / 12
        * ((nn + 1) - F.col("tie3").cast("double") / (nn * (nn - 1)))
    )
    return sums.select(
        "n_a",
        "n_b",
        u.alias("u_stat"),
        F.round((u - mu) / sigma, 9).alias("z_score"),
    )


# --- truncated EWMA over the daily revenue series -----------------------

# alpha(1-alpha)^k for k = 0..9, shared python-float literals injected
# into both engines (the Benford pattern) — neither engine exponentiates.
_EWMA_ALPHA = 0.3
_EWMA_W = [_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** k for k in range(10)]
_EWMA_WSUM = sum(_EWMA_W)  # fixed left-to-right fold, mirrored in SQL

_EWMA_ORACLE = f"""
WITH daily AS (
    SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
           ROUND(CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6)))
                      AS DOUBLE), 2) AS revenue
    FROM orders GROUP BY 1
),
lagged AS (
    SELECT day, revenue,
           {", ".join(f"LAG(revenue, {k}) OVER (ORDER BY day) AS x{k}" for k in range(10))}
    FROM daily
)
SELECT day, revenue,
       ROUND(({" + ".join(f"CAST({w!r} AS DOUBLE) * x{k}" for k, w in enumerate(_EWMA_W))})
             / CAST({_EWMA_WSUM!r} AS DOUBLE), 6) AS ewma_10d
FROM lagged
WHERE x9 IS NOT NULL
"""


@q("q_ewma_trunc", oracle_sql=_EWMA_ORACLE)
def ewma_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1++ [EXT]: truncated exponentially-weighted moving average of
    daily revenue — 10-observation horizon, α=0.3, weights renormalized
    over the window. True EWMA is an infinite recurrence (not
    SQL-expressible without recursion); the 10-lag truncation keeps
    >97% of the mass ((1−α)¹⁰ ≈ 0.028) and makes it a pure window
    expression. Emitted only where the horizon is full (first 9 days
    skipped); lags are row-lags over the observed series (gap-agnostic
    trailing-10-observations, documented).

    Plan shape: daily totals are one bounded (calendar-keyed) hash
    aggregate; the 10 lags ride ONE window pass over the day-cardinality
    series (a single-partition window over calendar-bounded input — the
    sweep-line justification).

    Determinism: daily revenue is dsum-2dp (identical both engines);
    weights are shared python-float literals; the weighted sum is a
    FIXED left-to-right `+` chain over correctly-rounded products —
    bit-identical without any decimal fold; final ROUND 6dp.
    """
    prep(spark)
    o = load(spark, sf_dir, "orders")
    # dsum: one 1e300 price row must NULL out of the daily fold, not
    # abort the stage (COVERAGE.md M11)
    from modevetl_spark.functions.compat import dsum

    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(dsum("o_totalprice", 2).alias("revenue"))
    w = Window.orderBy("day")
    lags = [F.lag("revenue", k).over(w).alias(f"x{k}") for k in range(10)]
    lagged = daily.select("day", "revenue", *lags)
    num = F.lit(_EWMA_W[0]) * F.col("x0")
    for k in range(1, 10):
        num = num + F.lit(_EWMA_W[k]) * F.col(f"x{k}")
    return lagged.where(F.col("x9").isNotNull()).select(
        "day",
        "revenue",
        F.round(num / F.lit(_EWMA_WSUM), 6).alias("ewma_10d"),
    )


# --- weighted median ----------------------------------------------------

_WMEDIAN_ORACLE = """
WITH pv AS (
    -- the abs() guard mirrors the engine's floor-range guard exactly
    -- (Spark floor(double) SATURATES to Long.MaxValue where DuckDB
    -- TRY_CAST NULLs — and without the guard here, doubles in
    -- [9.2e18, 2^63) would be admitted by TRY_CAST but NULLed by the
    -- engine, r11 ADVICE); ROUND before the BIGINT cast pins the
    -- shared half-away-from-zero convention on fractional quantity
    -- sums (raw Spark try_cast truncates, raw DuckDB TRY_CAST rounds)
    SELECT l_returnflag,
           CASE WHEN abs(l_extendedprice) < 9.2e18
                THEN TRY_CAST(floor(l_extendedprice) AS BIGINT) END AS v,
           TRY_CAST(ROUND(SUM(l_quantity)) AS BIGINT) AS wsum
    FROM lineitem GROUP BY 1, 2
),
cum AS (
    SELECT l_returnflag, v, wsum,
           CAST(SUM(wsum) OVER (PARTITION BY l_returnflag ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_w,
           CAST(SUM(wsum) OVER (PARTITION BY l_returnflag) AS BIGINT)
             AS total_w
    FROM pv
)
SELECT l_returnflag, MIN(v) AS w_median, MIN(total_w) AS total_weight
FROM cum
WHERE 2 * cum_w >= total_w
GROUP BY l_returnflag
"""


@q("q_weighted_median", oracle_sql=_WMEDIAN_ORACLE)
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5++ [EXT]: weighted median — the price point at which half the
    QUANTITY mass sits at-or-below, per return flag (the lower weighted
    median, 2·cum ≥ W). The inventory-weighted complement of the exact
    row-median q_agg_median.

    Plan shape: the fact collapses to dollar-floored (flag, value)
    weight sums — bounded by flag × money domain; cumulative weight is
    a flag-partitioned window over that bounded table; the median pick
    is a min over the qualifying suffix. All integer arithmetic
    (quantity weights sum as BIGINT) — no float discipline needed.
    """
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    # hostile-input guards at both integer seams (COVERAGE.md M11): a
    # 1e300-poisoned quantity sum overflows BIGINT and must try_cast to
    # NULL, not abort the stage; the floor leg needs a RANGE guard
    # instead — Spark's floor(double) returns a SATURATING BIGINT
    # (floor(1e300) = Long.MaxValue, no error) where DuckDB keeps a
    # double that TRY_CASTs to NULL, so the guard pins the shared
    # out-of-BIGINT-range → NULL convention
    v_floor = F.when(
        F.abs(F.col("l_extendedprice")) < F.lit(9.2e18),
        F.floor("l_extendedprice"),
    )
    # ROUND before the BIGINT cast: Spark try_cast TRUNCATES fractional
    # doubles where DuckDB TRY_CAST rounds (r11 ADVICE — a fractional
    # hostile quantity like -99999.99 split the engines -99999 vs
    # -100000); round() is half-away-from-zero in BOTH engines, so the
    # rounded value casts identically
    pv = li.groupBy("l_returnflag", v_floor.alias("v")).agg(
        F.round(F.sum("l_quantity")).try_cast("long").alias("wsum")
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = pv.select(
        "l_returnflag",
        "v",
        F.sum("wsum").over(w_cum).cast("long").alias("cum_w"),
        F.sum("wsum").over(w_all).cast("long").alias("total_w"),
    )
    return (
        cum.where(2 * F.col("cum_w") >= F.col("total_w"))
        .groupBy("l_returnflag")
        .agg(
            F.min("v").alias("w_median"),
            F.min("total_w").alias("total_weight"),
        )
    )


# --- 2-D skyline (Pareto frontier) --------------------------------------

_SKYLINE_ORACLE = """
WITH pts AS (
    SELECT DISTINCT p_retailprice AS price, p_size AS size FROM part
)
SELECT price, size FROM pts p
WHERE NOT EXISTS (
    SELECT 1 FROM pts q
    WHERE q.price <= p.price AND q.size >= p.size
      AND (q.price < p.price OR q.size > p.size)
)
"""


@q("q_skyline_pareto", oracle_sql=_SKYLINE_ORACLE)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 [EXT]: 2-D skyline / Pareto frontier — parts not dominated on
    (price ↓ better, size ↑ better): the multi-objective shortlist
    operator (cheapest-for-its-size supplier choice, best
    quality-per-cost corpus slice).

    Plan shape — sweep, never the quadratic NOT EXISTS: distinct points
    sort by (price asc, size desc); a point survives iff its size
    strictly exceeds the running max size over all STRICTLY
    better-priced predecessors. One sort of the deduped point set
    (bounded by the attribute domain) replaces the oracle's
    all-pairs anti-join — O(n log n) vs O(n²), the textbook 2-D skyline
    sweep. The equal-price tie is handled by the sort itself: within a
    price, only the largest size can beat the preceding-price max, and
    later equal-price rows see it in the frame.

    Determinism: pure compare/max logic on raw parquet values — no
    arithmetic at all.
    """
    prep(spark)
    pts = (
        load(spark, sf_dir, "part")
        .select(
            F.col("p_retailprice").alias("price"), F.col("p_size").alias("size")
        )
        .distinct()
    )
    w = Window.orderBy(F.col("price").asc(), F.col("size").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    prec_max = F.max("size").over(w)
    return (
        pts.withColumn("pm", prec_max)
        .where(F.col("pm").isNull() | (F.col("size") > F.col("pm")))
        .select("price", "size")
    )


# --- largest-remainder apportionment ------------------------------------

_APPORTION_ORACLE = """
WITH groups AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS c
    FROM documents GROUP BY source
),
shares AS (
    SELECT source, c,
           CAST(SUM(c) OVER () AS BIGINT) AS n,
           CAST((1000 * c) // SUM(c) OVER () AS BIGINT) AS base,
           CAST((1000 * c) % (SUM(c) OVER ()) AS BIGINT) AS rem
    FROM groups
),
ranked AS (
    SELECT source, c, base, rem,
           CAST(1000 - SUM(base) OVER () AS BIGINT) AS leftover,
           CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS BIGINT)
             AS rk
    FROM shares
)
SELECT source, c AS n_docs, base,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS slots
FROM ranked
"""


@q("q_apportion_slots", oracle_sql=_APPORTION_ORACLE)
def apportion_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9+/L2+6 [EXT]: largest-remainder apportionment — split a fixed
    budget of 1000 sample slots across document sources exactly
    proportionally: floor the ideal integer share, then hand the
    leftover slots to the largest fractional remainders (ties by source
    name). The quota-design step BEFORE q_domain_quota_sample runs —
    Σslots = 1000 exactly, which naive per-group rounding cannot
    guarantee.

    Plan shape: one source-keyed aggregate; every window rides the
    GROUP-cardinality table (sources, not documents).

    Determinism: all integer — the ideal share is kept as the exact
    pair (floor-div, mod) of 1000·c by n; no float ever exists.
    """
    prep(spark)
    d = load(spark, sf_dir, "documents")
    groups = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_all = Window.partitionBy()
    shares = groups.select(
        "source",
        "c",
        F.expr("(1000 * c) div sum(c) over ()").cast("long").alias("base"),
        F.expr("(1000 * c) % sum(c) over ()").cast("long").alias("rem"),
    )
    ranked = shares.select(
        "source",
        "c",
        "base",
        "rem",
        (1000 - F.sum("base").over(w_all)).cast("long").alias("leftover"),
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "source"))
        .cast("long")
        .alias("rk"),
    )
    return ranked.select(
        "source",
        F.col("c").alias("n_docs"),
        "base",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("slots"),
    )


# --- Wald–Wolfowitz runs test on daily revenue direction ----------------

_RUNS_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
           ROUND(CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6)))
                      AS DOUBLE), 2) AS revenue
    FROM orders GROUP BY 1
),
signs AS (
    SELECT day,
           CASE WHEN revenue > LAG(revenue) OVER (ORDER BY day) THEN 1
                WHEN revenue < LAG(revenue) OVER (ORDER BY day) THEN -1
                ELSE 0 END AS s
    FROM daily
),
nz AS (SELECT day, s FROM signs WHERE s <> 0),
runs AS (
    SELECT s,
           CASE WHEN s <> LAG(s) OVER (ORDER BY day) THEN 1 ELSE 0 END
             AS boundary
    FROM nz
),
sums AS (
    SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
           CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
           CAST(1 + SUM(boundary) AS BIGINT) AS n_runs
    FROM runs
)
SELECT n_up, n_down, n_runs,
       ROUND((CAST(n_runs AS DOUBLE)
              - (CAST(2 AS DOUBLE) * n_up * n_down / (n_up + n_down) + 1))
             / sqrt(CAST(2 AS DOUBLE) * n_up * n_down
                    * (CAST(2 AS DOUBLE) * n_up * n_down - (n_up + n_down))
                    / (CAST(n_up + n_down AS DOUBLE) * (n_up + n_down)
                       * (n_up + n_down - 1))),
             9) AS z_score
FROM sums
"""


@q("q_runs_test", oracle_sql=_RUNS_ORACLE)
def runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+13 [EXT]: Wald–Wolfowitz runs test — is the day-over-day
    direction of revenue random, or does it trend/mean-revert? Counts
    maximal runs of consecutive up/down days and compares against the
    expected run count under exchangeability. The randomness-audit
    member of the test family (KS: shape drift; U: location shift;
    runs: serial dependence).

    Plan shape: the daily series is one bounded calendar-keyed
    aggregate; signs, run boundaries, and the three counts all ride
    windows/aggregates over that bounded series.

    Determinism: signs compare identical 2dp dsum doubles (exact
    compares); run/boundary counts are integers; the z formula is a
    fixed exact-IEEE tree over integer counts, rounded 9dp.
    """
    prep(spark)
    # dsum: one 1e300 price row must NULL out of the daily fold, not
    # abort the stage (COVERAGE.md M11)
    from modevetl_spark.functions.compat import dsum

    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(dsum("o_totalprice", 2).alias("revenue"))
    w_day = Window.orderBy("day")
    prev = F.lag("revenue").over(w_day)
    signs = daily.select(
        "day",
        F.when(F.col("revenue") > prev, 1)
        .when(F.col("revenue") < prev, -1)
        .otherwise(0)
        .alias("s"),
    ).where(F.col("s") != 0)
    runs = signs.select(
        "s",
        F.when(F.col("s") != F.lag("s").over(Window.orderBy("day")), 1)
        .otherwise(0)
        .alias("boundary"),
    )
    sums = runs.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).cast("long").alias("n_up"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
        (1 + F.sum("boundary")).cast("long").alias("n_runs"),
    )
    n1, n2, r = F.col("n_up"), F.col("n_down"), F.col("n_runs")
    nn = n1 + n2
    mu = F.lit(2.0) * n1 * n2 / nn + 1
    sigma = F.sqrt(
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - nn)
        / (nn.cast("double") * nn * (nn - 1))
    )
    return sums.select(
        "n_up",
        "n_down",
        "n_runs",
        F.round((r.cast("double") - mu) / sigma, 9).alias("z_score"),
    )


# --- activity heatmap (day-of-week × hour) ------------------------------

_HEATMAP_ORACLE = """
WITH cells AS (
    SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
)
SELECT dow, hod, n_events,
       ROUND(CAST(n_events AS DOUBLE) / SUM(n_events) OVER (), 6) AS share
FROM cells
"""


@q("q_events_heatmap", oracle_sql=_HEATMAP_ORACLE)
def events_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3+/A12+ [EXT]: activity heatmap — event counts per (day-of-week,
    hour-of-day) cell with global share. The load-profile report behind
    capacity planning and anomaly baselines (the q_anomaly_days
    trailing-σ detector compares against exactly this kind of profile).

    Plan shape: one bounded (≤168-key) hash aggregate with map-side
    combine; the share margin is a window over the cell table (the
    Benford margins pattern — the fact is scanned once).

    Determinism: pure integer counts + one exact division rounded 6dp.
    Day-of-week alignment: Spark's dayofweek is 1-based Sunday, DuckDB's
    0-based Sunday — the Spark side emits dayofweek−1.
    """
    prep(spark)
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    w_all = Window.partitionBy()
    return cells.select(
        "dow",
        "hod",
        "n_events",
        F.round(
            F.col("n_events").cast("double") / F.sum("n_events").over(w_all), 6
        ).alias("share"),
    )


# --- ABC (Pareto) inventory classification ------------------------------

_ABC_ORACLE = f"""
WITH per_part AS (
    -- sql_money: TRY_CAST at Spark's (18,6) admitted range, then a
    -- lossless (19,6) widen for DuckDB's non-widening decimal multiply
    -- (see functions/compat.sql_money — the single source of truth)
    SELECT l_partkey,
           SUM({sql_money("l_extendedprice", "l_discount")}) AS rev
    FROM lineitem GROUP BY l_partkey
),
ranked AS (
    SELECT l_partkey, rev,
           SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum_rev,
           SUM(rev) OVER () AS total_rev
    FROM per_part
),
classed AS (
    SELECT CASE WHEN 100 * cum_rev <= 80 * total_rev THEN 'A'
                WHEN 100 * cum_rev <= 95 * total_rev THEN 'B'
                ELSE 'C' END AS abc_class,
           rev, total_rev
    FROM ranked
)
SELECT abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       ROUND(CAST(SUM(rev) AS DOUBLE), 2) AS class_revenue,
       ROUND(CAST(SUM(rev) AS DOUBLE) / CAST(MIN(total_rev) AS DOUBLE), 6)
         AS revenue_share
FROM classed
GROUP BY abc_class
"""


@q("q_abc_classification", oracle_sql=_ABC_ORACLE)
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+14 [EXT]: ABC/Pareto classification — parts ranked by revenue,
    classed A (first 80% of cumulative revenue), B (to 95%), C (tail);
    per-class part counts, revenue, and share. The inventory-policy
    twin of q_revenue_gini (Gini measures concentration, ABC acts on
    it), and the classic 80/20 report.

    Plan shape: the fact collapses to one per-part revenue aggregate
    (the only fact-sized exchange); the cumulative sum is
    operators/ranking.global_running — the two-pass distributed prefix
    sum (range exchange + pid-partitioned local window + broadcast
    offsets), never a single-partition ordered window, because the part
    catalog GROWS with the data; the grand total is a one-row broadcast
    aggregate over the same checkpointed relation; the final rollup is
    3 rows. Plan-gated: no global Window node (tests/test_diagnostics.py).

    Determinism: revenue never leaves DECIMAL until output — the
    running sum stays decimal through the window+offset addition
    (exact), and the class boundary compares 100·cum ≤ 80·total in
    exact decimal·integer arithmetic (no float boundary anywhere);
    output sums round the decimal once (dsum discipline).
    """
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    # try-folded money: one 1e300 price row must NULL out of the fold,
    # not abort the stage (extreme-numerics contract, COVERAGE.md M11)
    from modevetl_spark.functions.compat import money
    from modevetl_spark.operators.ranking import global_running

    per_part = li.groupBy("l_partkey").agg(
        F.sum(money("l_extendedprice", "l_discount")).alias("rev")
    )
    run = global_running(
        per_part,
        [F.col("rev").desc(), F.col("l_partkey")],
        {"cum_rev": "rev"},
    )
    # total aggregates over global_running's internal checkpoint — no
    # second scan of the fact
    total = run.agg(F.sum("rev").alias("total_rev"))
    ranked = run.crossJoin(F.broadcast(total)).select(
        "rev", "cum_rev", "total_rev"
    )
    classed = ranked.select(
        F.when(100 * F.col("cum_rev") <= 80 * F.col("total_rev"), "A")
        .when(100 * F.col("cum_rev") <= 95 * F.col("total_rev"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev",
        "total_rev",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.round(F.sum("rev").cast("double"), 2).alias("class_revenue"),
        F.round(
            F.sum("rev").cast("double") / F.min("total_rev").cast("double"), 6
        ).alias("revenue_share"),
    )


# --- CUSUM changepoint over the daily revenue series --------------------

_CUSUM_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
           ROUND(CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6)))
                      AS DOUBLE), 2) AS revenue
    FROM orders GROUP BY 1
),
m AS (
    SELECT ROUND(CAST(SUM(TRY_CAST(revenue AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(TRY_CAST(revenue AS DECIMAL(18,6))), 6) AS mean_rev
    FROM daily
),
dev AS (
    SELECT day, ROUND(revenue - m.mean_rev, 6) AS d
    FROM daily, m
),
cusum AS (
    SELECT day,
           ROUND(CAST(SUM(TRY_CAST(d AS DECIMAL(18,6))) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE), 6) AS s,
           CAST(COUNT(*) OVER () AS BIGINT) AS n_days
    FROM dev
),
pick AS (
    SELECT day, s, n_days,
           ROW_NUMBER() OVER (ORDER BY ABS(s) DESC, day) AS rk
    FROM cusum
)
SELECT day AS change_day, s AS max_cusum, n_days
FROM pick WHERE rk = 1
"""


@q("q_changepoint_cusum", oracle_sql=_CUSUM_ORACLE)
def changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+++/A10+15 [EXT]: CUSUM changepoint — the day where the
    cumulative deviation from mean revenue peaks in magnitude, i.e. the
    most likely LEVEL-SHIFT point of the series. Complements
    q_anomaly_days (spikes) and q_runs_test (serial dependence): CUSUM
    finds sustained regime changes single spikes and sign streaks miss.

    Plan shape: daily totals are one calendar-bounded aggregate; the
    mean is an in-DAG one-row aggregate cross-joined back (no second
    fact scan); the CUSUM is a running decimal sum over the bounded day
    series; the argmax is a top-1 window pick with day tie-break.

    Determinism: deviations are differences of identical 2dp/6dp
    doubles rounded to 6dp; the running sum accumulates in
    DECIMAL(18,6) (exact, order-free); ABS/argmax compare identical
    doubles with a deterministic tie-break.
    """
    prep(spark)
    # dsum at the fact fold: one 1e300 price row NULLs out instead of
    # aborting the stage (COVERAGE.md M11); since r13 the downstream
    # folds (davg mean, running CUSUM cast) are try folds too — the
    # compat helpers retired their raw variants, and the running-sum
    # cast follows the same convention (a deviation can only leave
    # (18,6) range on twin-scale revenues, but the convention is
    # structural, not reachability-argued)
    from modevetl_spark.functions.compat import davg, dsum

    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(dsum("o_totalprice", 2).alias("revenue"))
    m = daily.agg(davg("revenue", 6).alias("mean_rev"))
    dev = daily.crossJoin(F.broadcast(m)).select(
        "day", F.round(F.col("revenue") - F.col("mean_rev"), 6).alias("d")
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cusum = dev.select(
        "day",
        F.round(
            F.sum(F.col("d").try_cast("decimal(18,6)"))
            .over(w_cum)
            .cast("double"),
            6,
        ).alias("s"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_days"),
    )
    w_pick = Window.orderBy(F.abs(F.col("s")).desc(), "day")
    return (
        cusum.withColumn("rk", F.row_number().over(w_pick))
        .where(F.col("rk") == 1)
        .select(
            F.col("day").alias("change_day"),
            F.col("s").alias("max_cusum"),
            "n_days",
        )
    )


# --- near-dup cluster size distribution ---------------------------------


def _cluster_stats_oracle() -> str:
    from modevetl_spark.queries.llm import _MINHASH_PAIR_CTES

    return f"""
WITH RECURSIVE {_MINHASH_PAIR_CTES},
ver AS (
    SELECT p.id_a, p.id_b
    FROM pair_inter p
    JOIN sizes sa ON p.id_a = sa.doc_id
    JOIN sizes sb ON p.id_b = sb.doc_id
    WHERE CAST(p.n_inter AS DOUBLE) / (sa.n + sb.n - p.n_inter) >= 0.5
),
edges AS (
    SELECT id_a AS a, id_b AS b FROM ver
    UNION
    SELECT id_b, id_a FROM ver
),
reach(src, dst) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
lbl AS (
    SELECT src AS node, LEAST(src, MIN(dst)) AS comp
    FROM reach GROUP BY src
),
csize AS (
    SELECT comp, CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM lbl GROUP BY comp
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size - 1) AS BIGINT) AS n_removable
FROM csize
GROUP BY cluster_size
"""


@q("q_dedup_cluster_stats", oracle_sql=_cluster_stats_oracle())
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+8 [EXT]: duplicate-cluster size distribution — the dedup
    IMPACT report: for each near-dup cluster size, how many clusters
    exist and how many documents deduplication would remove
    (size − 1 per cluster). The go/no-go number an operator reads
    before running q_dedup_corpus for real.

    Plan shape: the same MinHash-LSH candidate → exact-Jaccard verify →
    connected-components pipeline as q_dedup_corpus (md5 affine family,
    so the oracle replays pair generation exactly and closes the
    fixpoint with a recursive CTE); the histogram is two bounded
    aggregates over the component labels — the fixpoint runs on the
    tiny verified pair graph only, never the corpus.

    Determinism: integer counts end-to-end; the component label is the
    min-id contract shared with operators/components.py.
    """
    prep(spark)
    from modevetl_spark.operators.components import connected_components
    from modevetl_spark.operators.dedup import jaccard_pairs, minhash_candidates_md5

    d = load(spark, sf_dir, "documents")
    cands = minhash_candidates_md5(d, shingle_n=3, k=16, bands=4)
    pairs = jaccard_pairs(d, cands, shingle_n=3).where(F.col("jaccard") >= 0.5)
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    csize = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return csize.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum(F.col("cluster_size") - 1).cast("long").alias("n_removable"),
    )


# --- position-based (40/20/40) multi-touch attribution ------------------

_ATTR_POS_ORACLE = """
WITH cand AS (
    SELECT b.event_id AS buy_id,
           c.event_id AS click_id, CAST(c.ts AS TIMESTAMP) AS click_ts
    FROM events b
    JOIN events c
      ON c.user_id = b.user_id
     AND c.event_type = 'click'
     AND CAST(c.ts AS TIMESTAMP) <= CAST(b.ts AS TIMESTAMP)
     AND CAST(c.ts AS TIMESTAMP) >= CAST(b.ts AS TIMESTAMP) - INTERVAL 1 HOUR
    WHERE b.event_type = 'purchase'
),
ranked AS (
    SELECT buy_id, click_id, click_ts,
           CAST(ROW_NUMBER() OVER (PARTITION BY buy_id
                                   ORDER BY click_ts, click_id) AS BIGINT)
             AS rn,
           CAST(COUNT(*) OVER (PARTITION BY buy_id) AS BIGINT) AS n
    FROM cand
),
credited AS (
    SELECT CAST(hour(click_ts) AS BIGINT) AS click_hod,
           ROUND(CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
                      WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                      WHEN rn = 1 OR rn = n THEN CAST(0.4 AS DOUBLE)
                      ELSE CAST(0.2 AS DOUBLE) / (n - 2) END, 6) AS w
    FROM ranked
)
SELECT click_hod,
       CAST(COUNT(*) AS BIGINT) AS n_clicks,
       ROUND(CAST(SUM(TRY_CAST(w AS DECIMAL(18,6))) AS DOUBLE), 4) AS credit
FROM credited
GROUP BY click_hod
"""


@q("q_attribution_position", oracle_sql=_ATTR_POS_ORACLE)
def attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10+ [EXT]: position-based (U-shaped, 40/20/40) multi-touch
    attribution — the same purchase × preceding-hour-clicks candidate
    set as q_attribution_last_touch, but credit splits 40% first touch,
    40% last, 20% across the middle (1.0 / 0.5+0.5 for 1- and 2-click
    paths). Credit rolls up by click hour-of-day: per purchase the
    weights sum to exactly 1, so Σcredit = Σpurchases-with-clicks — the
    conservation pytest.

    Plan shape: reuses the streaming-parity interval join
    (`streaming/structured.attribution_join` — one user-keyed shuffle
    per side, range predicate as join filter); ranking windows partition
    by the purchase key the join output is already clustered on; the
    hour rollup is a ≤24-key aggregate.

    Determinism: weights are shared literals or one exact division,
    rounded 6dp, decimal-summed (order-free), final ROUND 4dp.
    """
    prep(spark)
    from modevetl_spark.streaming.structured import attribution_join

    ev = load(spark, sf_dir, "events")
    cand = attribution_join(ev)
    w_rn = Window.partitionBy("buy_id").orderBy("click_ts", "click_id")
    w_n = Window.partitionBy("buy_id")
    ranked = cand.select(
        "buy_id",
        "click_id",
        "click_ts",
        F.row_number().over(w_rn).cast("long").alias("rn"),
        F.count(F.lit(1)).over(w_n).cast("long").alias("n"),
    )
    weight = F.round(
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2)),
        6,
    )
    credited = ranked.select(
        F.hour("click_ts").cast("long").alias("click_hod"),
        weight.alias("w"),
    )
    return credited.groupBy("click_hod").agg(
        F.count(F.lit(1)).cast("long").alias("n_clicks"),
        F.round(
            # try convention (r13 cohort); w ≤ 1.0 by construction so
            # the fold cannot overflow today — one-convention invariant
            F.sum(F.col("w").try_cast("decimal(18,6)")).cast("double"), 4
        ).alias("credit"),
    )


# --- order→ship lag percentiles per month -------------------------------

_SHIP_LAG_ORACLE = """
WITH lags AS (
    SELECT CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP)
             AS order_month,
           date_diff('day', CAST(o.o_orderdate AS DATE),
                     CAST(l.l_shipdate AS DATE)) AS lag_days
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT order_month,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(quantile_cont(lag_days, 0.25), 6) AS p25,
       ROUND(quantile_cont(lag_days, 0.50), 6) AS p50,
       ROUND(quantile_cont(lag_days, 0.95), 6) AS p95,
       CAST(MAX(lag_days) AS BIGINT) AS max_lag
FROM lags
GROUP BY order_month
"""


@q("q_ship_lag_percentiles", oracle_sql=_SHIP_LAG_ORACLE)
def ship_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+/M1+ [EXT]: fulfillment-lag SLA report — exact p25/p50/p95 and
    max of the order→ship day lag, per order month. The operational
    latency-percentile shape (SLA dashboards, shipping-regression
    detection) on a cross-table derived metric.

    Plan shape: the orderkey join is co-partitioned at scale (both
    sides hash on the key; at this sf the orders side broadcasts);
    lags aggregate per month — exact percentile needs the group's
    values but months bound the key space, and the Spark `percentile`
    is the same single-pass sort-based aggregate the oracle's
    quantile_cont applies.

    Determinism: integer day lags; linear interpolation at the
    quantile point is the same exact-IEEE expression both engines
    evaluate (the q_agg_percentile precedent), rounded 6dp.
    """
    prep(spark)
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lags = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        ).alias("lag_days"),
    )
    return lags.groupBy("order_month").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.round(F.percentile("lag_days", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("lag_days", F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile("lag_days", F.lit(0.95)), 6).alias("p95"),
        F.max("lag_days").cast("long").alias("max_lag"),
    )


# --- top-k per group WITH ties (dense_rank) -----------------------------

_DENSE_TIES_ORACLE = """
WITH rev AS (
    SELECT n.n_name AS nation, p.p_brand AS brand,
           ROUND(CAST(SUM(CAST(TRY_CAST(l.l_extendedprice AS DECIMAL(18,6))
                               AS DECIMAL(19,6))
                          * CAST(TRY_CAST(1 - l.l_discount AS DECIMAL(18,6))
                                 AS DECIMAL(19,6)))
                      AS DOUBLE), 2) AS revenue
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN part p      ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
)
SELECT nation, brand, revenue,
       CAST(brand_rank AS BIGINT) AS brand_rank
FROM (
    SELECT *, DENSE_RANK() OVER (PARTITION BY nation
                                 ORDER BY revenue DESC) AS brand_rank
    FROM rev
)
WHERE brand_rank <= 3
"""


@q("q_topk_dense_ties", oracle_sql=_DENSE_TIES_ORACLE)
def topk_dense_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6+ [EXT]: top-3 brands per nation by revenue KEEPING TIES —
    dense_rank ≤ 3, so equal-revenue brands share a rank and none is
    arbitrarily dropped (row_number top-k, the q_topk_per_group shape,
    silently picks a winner among ties; rank would skip positions).
    The report-correct variant when the metric has meaningful ties —
    here guaranteed by ranking on the 2dp-rounded revenue.

    Plan shape: the flagship star — fact streams through broadcast
    dims, one (nation, brand)-keyed aggregate, then the ranking window
    partitions by nation over the bounded (nation × brand) aggregate
    output; WindowGroupLimit pushes the rank-≤3 cut below the full
    sort at scale.

    Determinism: revenue is dsum-money 2dp BEFORE ranking, so tie
    groups are identical in both engines; dense_rank needs no
    tie-break by construction.
    """
    prep(spark)
    from modevetl_spark.functions.compat import dsum_money

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # orders is NOT broadcast-hinted: it is fact-sized at scale, so the
    # orderkey hop must stay a co-partitioned shuffle join (AQE still
    # auto-broadcasts it at bench scale where it fits); the true dims
    # (customer, nation, part) are hinted.
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("p_brand").alias("brand"))
        .agg(dsum_money("l_extendedprice", "l_discount").alias("revenue"))
    )
    w = Window.partitionBy("nation").orderBy(F.col("revenue").desc())
    return (
        rev.withColumn("brand_rank", F.dense_rank().over(w).cast("long"))
        .where(F.col("brand_rank") <= 3)
        .select("nation", "brand", "revenue", "brand_rank")
    )


# --- Heaps'-law vocabulary growth ---------------------------------------

_VOCAB_GROWTH_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents
),
doc_stats AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks
    FROM toks GROUP BY doc_id
),
firsts AS (
    SELECT MIN(doc_id) AS first_doc FROM toks GROUP BY tok
),
new_per_doc AS (
    SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
    FROM firsts GROUP BY first_doc
),
cums AS (
    SELECT d.doc_id,
           CAST(SUM(d.n_toks) OVER (ORDER BY d.doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_tokens,
           CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY d.doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_vocab,
           NTILE(10) OVER (ORDER BY d.doc_id) AS decile
    FROM doc_stats d LEFT JOIN new_per_doc n ON d.doc_id = n.doc_id
)
SELECT CAST(decile AS BIGINT) AS decile,
       MAX(doc_id) AS last_doc,
       MAX(cum_tokens) AS cum_tokens,
       MAX(cum_vocab) AS cum_vocab
FROM cums
GROUP BY decile
"""


@q("q_vocab_growth", oracle_sql=_VOCAB_GROWTH_ORACLE)
def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+8 [EXT]: Heaps'-law vocabulary growth curve — cumulative
    distinct-token count vs cumulative corpus size at ten doc-order
    checkpoints. Natural corpora grow vocab ≈ K·Nᵝ (β≈0.5); a flat
    curve flags a closed template vocabulary (as here — the corpus-law
    twin of q_tokens_zipf). The q_running_distinct first-occurrence
    rewrite applied to tokens: each token charges ONE doc (its first),
    so cumulative vocab is a running sum of per-doc new-token counts —
    never distinct-over-expanding-prefix.

    Plan shape: one explode→(tok)-keyed MIN aggregate for first
    occurrences, one doc-keyed token count; both running sums and the
    global rank come from ONE operators/ranking.global_running pass
    over the doc-cardinality table (range exchange + pid-partitioned
    local window + broadcast offsets — never a single-partition window,
    because doc count GROWS with the corpus), and the decile is the
    exact ntile_from_rank closed form fed by a one-row broadcast count.
    Within a decile, MAX(cum_*) picks the boundary row because both
    cums are monotone in doc order. Plan-gated: no global Window node
    (tests/test_plans.py::test_no_data_sized_global_windows).

    Determinism: all integer counts.
    """
    prep(spark)
    from modevetl_spark.operators._util import spread
    from modevetl_spark.operators.ranking import global_running, ntile_from_rank

    d = spread(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    doc_stats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks")
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    new_per_doc = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    joined = doc_stats.join(new_per_doc, "doc_id", "left").select(
        "doc_id",
        "n_toks",
        F.coalesce(F.col("n_new"), F.lit(0).cast("long")).alias("n_new"),
    )
    run = global_running(
        joined,
        ["doc_id"],
        {"cum_tokens": "n_toks", "cum_vocab": "n_new"},
        rank_col="_rn",
    )
    n1 = run.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    cums = run.crossJoin(F.broadcast(n1)).select(
        "doc_id",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.col("cum_vocab").cast("long").alias("cum_vocab"),
        ntile_from_rank("_rn", "_n", 10).alias("decile"),
    )
    return cums.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.max("doc_id").alias("last_doc"),
        F.max("cum_tokens").alias("cum_tokens"),
        F.max("cum_vocab").alias("cum_vocab"),
    )


# --- sessionized bounce rate --------------------------------------------

_BOUNCE_ORACLE = """
WITH marked AS (
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           CASE WHEN CAST(ts AS TIMESTAMP)
                     - LAG(CAST(ts AS TIMESTAMP))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events
),
sess AS (
    SELECT user_id,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id,
           ts
    FROM marked
),
per_session AS (
    SELECT user_id, session_id,
           CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) FILTER (WHERE n_events = 1) AS BIGINT) AS n_bounces,
       ROUND(CAST(COUNT(*) FILTER (WHERE n_events = 1) AS DOUBLE)
             / COUNT(*), 6) AS bounce_rate
FROM per_session
GROUP BY day
"""


@q("q_bounce_rate", oracle_sql=_BOUNCE_ORACLE)
def bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4++ [EXT]: daily bounce rate — share of 30-min-gap sessions
    containing exactly one event, by session-start day. The engagement
    KPI layered on the q_events_session sessionizer (same lag-gap-cumsum
    assignment, so the two queries agree on what a session is by
    construction).

    Plan shape: sessionization windows partition by user (fully
    parallel); the per-session rollup groups on the (user, session) key
    the windows already clustered; the daily rollup is calendar-bounded.

    Determinism: integer counts + one exact division rounded 6dp.
    """
    prep(spark)
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w_lag)
            > 1800,
            1,
        )
        .otherwise(0)
        .alias("is_new"),
        "event_id",
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.select(
        "user_id", "ts", F.sum("is_new").over(w_cum).alias("session_id")
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_session.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        bounces.cast("long").alias("n_bounces"),
        F.round(
            bounces.cast("double") / F.count(F.lit(1)), 6
        ).alias("bounce_rate"),
    )


# --- systematic (every k-th) sampling -----------------------------------

_SYSTEMATIC_ORACLE = """
SELECT rn AS sample_rank, o_orderkey, o_totalprice
FROM (
    SELECT o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey)
                AS BIGINT) AS rn
    FROM orders
)
WHERE rn % 50 = 0
"""


@q("q_sample_systematic", oracle_sql=_SYSTEMATIC_ORACLE)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+7 [EXT]: systematic sampling — every 50th order in
    (orderdate, orderkey) global order. Completes the sampling family
    (hash, stratified, weighted, quota, split): systematic sampling is
    the right tool when the frame has a meaningful order and you want
    guaranteed even coverage along it (temporal spread here).

    Plan shape: the global order comes from
    `operators/dedup.global_rank` — repartitionByRange +
    sortWithinPartitions + monotonically_increasing_id with a broadcast
    partition-offset table — ONE range exchange, never a
    single-partition window (the classic scale-killer the oracle's
    ROW_NUMBER() OVER (ORDER BY …) formulation would plan as).

    Determinism: the rank key set (orderdate, orderkey) is a total
    order, so ranks — and therefore the k-th picks — are identical
    under any partitioning.
    """
    prep(spark)
    from modevetl_spark.operators.dedup import global_rank

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    ranked = global_rank(o, ["o_orderdate", "o_orderkey"], rank_col="sample_rank")
    return (
        ranked.where(F.col("sample_rank") % 50 == 0)
        .select("sample_rank", "o_orderkey", "o_totalprice")
    )


# --- blocking-quality evaluation: MinHash-LSH vs exact ground truth -----


def _dedup_eval_oracle() -> str:
    from modevetl_spark.queries.llm import _MINHASH_PAIR_CTES

    return f"""
WITH {_MINHASH_PAIR_CTES},
all_inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
    FROM sh a JOIN sh b ON b.s = a.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
exact AS (
    SELECT p.id_a, p.id_b
    FROM all_inter p
    JOIN sizes sa ON p.id_a = sa.doc_id
    JOIN sizes sb ON p.id_b = sb.doc_id
    WHERE CAST(p.n_inter AS DOUBLE) / (sa.n + sb.n - p.n_inter) >= 0.5
),
verified AS (
    SELECT p.id_a, p.id_b
    FROM pair_inter p
    JOIN sizes sa ON p.id_a = sa.doc_id
    JOIN sizes sb ON p.id_b = sb.doc_id
    WHERE CAST(p.n_inter AS DOUBLE) / (sa.n + sb.n - p.n_inter) >= 0.5
),
counts AS (
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM verified) AS n_tp
)
SELECT CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_tp AS BIGINT) AS n_tp,
       ROUND(CAST(n_tp AS DOUBLE) / n_candidates, 6) AS precision_at_tau,
       ROUND(CAST(n_tp AS DOUBLE) / n_exact, 6) AS recall_at_tau
FROM counts
"""


@q("q_dedup_eval_pr", oracle_sql=_dedup_eval_oracle())
def dedup_eval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+9 [EXT]: blocking-quality evaluation — precision and recall of
    the MinHash-LSH candidate generator against the EXACT trigram-
    Jaccard ≥ 0.5 ground truth. The measurement harness an operator
    runs before trusting a blocking configuration at corpus scale
    (bands × rows trade recall for candidate volume; this query puts a
    number on both sides of that trade).

    Plan shape: candidates are the production path (explode→hash-agg
    signatures, banded equi-self-join); ground truth is the exact
    shared-shingle pair join — the deliberately expensive pass you run
    on a SAMPLE at 100 TB (documented; any truly-similar pair shares a
    shingle, so it is exhaustive without an all-pairs cross join); tp
    re-verifies candidates with the same exact kernel. One summary row.

    Determinism: the md5 affine hash family makes candidate generation
    bit-replayable in SQL (the q_dedup_minhash contract); everything
    else is integer counts + two exact divisions rounded 6dp.
    """
    prep(spark)
    from modevetl_spark.operators._util import spread
    from modevetl_spark.operators.dedup import minhash_candidates_md5
    from modevetl_spark.operators.text import word_shingles

    d = spread(load(spark, sf_dir, "documents"))
    cands = minhash_candidates_md5(d, shingle_n=3, k=16, bands=4)

    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(tokens("text"), 3))
        ).alias("s"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "s")
    b = sh.select(F.col("doc_id").alias("id_b"), "s")
    all_inter = (
        a.join(b, ["s"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )

    def _jfilter(pairs):
        sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
        sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
        return (
            pairs.join(sa, "id_a")
            .join(sb, "id_b")
            .where(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
                >= 0.5
            )
            .select("id_a", "id_b")
        )

    exact = _jfilter(all_inter)
    # tp re-verifies candidates through the PRODUCTION verify kernel
    # (array_intersect on per-doc shingle arrays — the same pass
    # q_dedup_corpus runs), not a bespoke join.
    from modevetl_spark.operators.dedup import jaccard_pairs

    tp = jaccard_pairs(d, cands.select("id_a", "id_b"), shingle_n=3).where(
        F.col("jaccard") >= 0.5
    )

    n_exact = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    n_cand = cands.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    n_tp = tp.agg(F.count(F.lit(1)).cast("long").alias("n_tp"))
    return (
        n_exact.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_tp))
        .select(
            "n_exact",
            "n_candidates",
            "n_tp",
            # try_divide: an empty corpus yields 0 candidates / 0 exact
            # pairs and the raw divisions abort under ANSI (the
            # empty-partition census finding) — NULL matches DuckDB's 0/0
            F.round(
                F.try_divide(F.col("n_tp").cast("double"), F.col("n_candidates")),
                6,
            ).alias("precision_at_tau"),
            F.round(
                F.try_divide(F.col("n_tp").cast("double"), F.col("n_exact")), 6
            ).alias("recall_at_tau"),
        )
    )


# --- k-core decomposition (unrolled peeling) ----------------------------


def _kcore_oracle_sql(k: int = 2, iterations: int = 10) -> str:
    """Unrolls operators/graph.kcore's peeling into CTEs, one
    degree→filter→restrict triple per round — the pagerank/HITS replay
    pattern applied to a PRUNING fixpoint (all-integer, so no float
    discipline is even needed)."""
    sql = ["""WITH raw AS (
    SELECT p_partkey AS s, p_partkey // 2 AS d FROM part WHERE p_partkey >= 2
    UNION ALL
    SELECT a.p_partkey AS s, b.p_partkey AS d
    FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
    WHERE a.p_partkey >= 2 AND a.p_partkey % 2 = 0
),
e0 AS MATERIALIZED (
    SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b
    FROM raw WHERE s <> d
)"""]
    step = """d{k} AS MATERIALIZED (
    SELECT node, COUNT(*) AS deg FROM (
        SELECT a AS node FROM e{p} UNION ALL SELECT b AS node FROM e{p}
    ) GROUP BY node
),
keep{k} AS MATERIALIZED (SELECT node FROM d{k} WHERE deg >= %d),
e{k} AS MATERIALIZED (
    SELECT e.a, e.b FROM e{p} e
    JOIN keep{k} ka ON ka.node = e.a
    JOIN keep{k} kb ON kb.node = e.b
)""" % k
    for i in range(1, iterations + 1):
        sql.append(step.format(k=i, p=i - 1))
    return ",\n".join(sql) + f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
    SELECT a AS node FROM e{iterations}
    UNION ALL SELECT b AS node FROM e{iterations}
) GROUP BY node
"""


@q("q_graph_kcore", oracle_sql=_kcore_oracle_sql(k=2, iterations=10))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9+5 [EXT]: 2-core of the tree-plus-sibling graph (binary-tree
    parent edges UNION even-odd sibling edges, so every full sibling
    pair forms a triangle with its parent) — nodes surviving repeated
    deletion of degree<2 nodes, with their in-core degree; lonely
    leaves and their induced chains peel away. The third iterative graph family (PRUNING to a fixpoint,
    next to value propagation and closure) and the standard periphery
    filter before centrality: leaves and hair contribute nothing to
    cores of community structure but dominate edge counts.

    Plan/determinism: see :func:`modevetl_spark.operators.graph.kcore` —
    fixed 10 peel rounds (CTE-unrollable; convergence on this fixture is
    pytest-gated by running an 11th round and asserting stability);
    all-integer, no float discipline required.
    """
    from modevetl_spark.operators.graph import kcore

    prep(spark)
    part = load(spark, sf_dir, "part")
    tree = part.where(F.col("p_partkey") >= 2).select(
        F.col("p_partkey").alias("src"),
        F.expr("p_partkey div 2").alias("dst"),
    )
    a = part.select(F.col("p_partkey").alias("src"))
    b = part.select(F.col("p_partkey").alias("dst"))
    siblings = (
        a.where((F.col("src") >= 2) & (F.col("src") % 2 == 0))
        .join(b, F.col("dst") == F.col("src") + 1)
        .select("src", "dst")
    )
    return kcore(tree.unionAll(siblings), k=2, iterations=10)


# --- log-scale (power-of-two) histogram ---------------------------------

_LOGBINS_ORACLE = """
WITH binned AS (
    SELECT CAST(FLOOR(log2(n_chars)) AS BIGINT) AS bin
    FROM documents WHERE n_chars >= 1
)
SELECT bin,
       CAST(1 << bin AS BIGINT) AS lo,
       CAST((1 << (bin + 1)) - 1 AS BIGINT) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM binned
GROUP BY bin
"""


@q("q_hist_log_bins", oracle_sql=_LOGBINS_ORACLE)
def hist_log_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+++ [EXT]: power-of-two (log-scale) histogram of document
    lengths — the right binning for heavy-tailed size distributions
    where equi-width drowns the tail and equi-depth hides the head
    (file sizes, token counts, degree distributions all bin this way).
    Completes the histogram family: equi-width (q_length_histogram),
    equi-depth (q_hist_equidepth), log-scale (this).

    Plan shape: one narrow scan + a ≤64-key hash aggregate.

    Determinism: log2 over INTEGER arguments is engine-identical (the
    verify-skill lesson), FLOOR of identical doubles is exact, and the
    bin bounds are integer shifts.
    """
    prep(spark)
    d = load(spark, sf_dir, "documents").where(F.col("n_chars") >= 1)
    binned = d.select(F.floor(F.log2("n_chars")).cast("long").alias("bin"))
    return binned.groupBy("bin").agg(
        F.expr("CAST(shiftleft(1L, CAST(bin AS INT)) AS BIGINT)").alias("lo"),
        F.expr(
            "CAST(shiftleft(1L, CAST(bin AS INT) + 1) - 1 AS BIGINT)"
        ).alias("hi"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )


# --- SQL front-end face: ONE ANSI string, both engines ------------------

# This string is BOTH the Spark query (spark.sql over temp views) and
# the DuckDB oracle, verbatim — the dialect-shared subset: explicit
# JOIN ... ON, year(), CTE, decimal-cast sums (the cross-engine float
# discipline works in shared SQL too), RANK() with a BIGINT cast.
_SQL_FRONTEND = """
WITH rev AS (
    SELECT r.r_name AS region,
           CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                          * CAST(1 - l.l_discount AS DECIMAL(18,6)))
                      AS DOUBLE), 2) AS revenue,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, year(o.o_orderdate)
),
active AS (
    SELECT region FROM rev GROUP BY region HAVING SUM(n_orders) >= 2950
    EXCEPT
    SELECT region FROM rev WHERE n_orders < 260
),
yoy AS (
    SELECT region, order_year, revenue, n_orders,
           LAG(revenue) OVER (PARTITION BY region ORDER BY order_year)
               AS prev_rev,
           CAST(SUM(n_orders) OVER (
                    PARTITION BY region ORDER BY order_year
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_orders
    FROM rev
)
SELECT /*+ BROADCAST(a) */
       rv.region, rv.order_year, rv.revenue, rv.n_orders,
       CAST(RANK() OVER (PARTITION BY rv.order_year ORDER BY rv.revenue DESC)
            AS BIGINT) AS region_rank,
       rv.revenue - rv.prev_rev AS rev_delta,
       rv.cum_orders,
       CAST(COALESCE(a.flag, 0) AS BIGINT) AS is_active,
       CAST((SELECT COUNT(*) FROM active) AS BIGINT) AS n_active_regions
FROM yoy rv
LEFT JOIN (SELECT region, 1 AS flag FROM active) a ON rv.region = a.region
"""


@q("q_sql_frontend", oracle_sql=_SQL_FRONTEND)
def sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API face [EXT]: the SQL front-end — the registry elsewhere
    exercises the DataFrame API and the jx front-end; this query runs
    through ``spark.sql`` over registered temp views, proving the third
    user-facing surface. The SAME string is the DuckDB oracle verbatim
    (dialect-shared ANSI subset incl. the decimal-cast float
    discipline), so the gate also demonstrates engine-portable SQL.
    Round 6 widened the statement (the r5 verdict's breadth ask)
    without adding a key: it now also exercises HAVING, EXCEPT, a
    derived-table LEFT JOIN, and an uncorrelated scalar subquery — the
    added logic is integer-only (counts), so portability needs no new
    float discipline. Round 7 widened it again (r6 verdict item 6): a
    CHAINED CTE (``yoy`` reads ``rev``) carrying LAG and a frame-spec'd
    running window (``ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
    ROW``). Float discipline holds for free: ``rev_delta`` is ONE IEEE
    subtract of two already-2dp-rounded doubles (exact, engine-
    identical) and ``cum_orders`` is an integer window sum cast BIGINT
    (the HUGEINT-repr lesson).

    Plan shape: identical to the DataFrame star queries — Catalyst
    compiles the SQL text to the same logical plan (broadcast dims,
    one fact aggregate, window + set-op + semi-ish join all over the
    bounded (region × year) aggregate output).
    """
    prep(spark)
    for t in ("lineitem", "orders", "customer", "nation", "region"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_FRONTEND)


# --- as-of join with tolerance ------------------------------------------

_ASOF_TOL_ORACLE = """
WITH base AS (
    SELECT p.event_id,
           CAST(p.ts AS TIMESTAMP) AS ts,
           p.user_id,
           (SELECT CAST(max(c.ts) AS TIMESTAMP) FROM events c
            WHERE c.user_id = p.user_id
              AND c.event_type = 'click'
              AND c.ts <= p.ts) AS raw_last
    FROM events p
    WHERE p.event_type = 'purchase'
)
SELECT event_id, ts, user_id,
       CASE WHEN epoch_us(ts) - epoch_us(raw_last) <= 900000000
            THEN raw_last END AS last_click_ts,
       CASE WHEN epoch_us(ts) - epoch_us(raw_last) <= 900000000
            THEN CAST((epoch_us(ts) - epoch_us(raw_last)) // 1000000
                      AS BIGINT) END AS gap_seconds
FROM base
"""


@q("q_join_asof_tolerance", oracle_sql=_ASOF_TOL_ORACLE)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7+++ [EXT]: as-of join WITH TOLERANCE — latest prior click per
    purchase, but only if it happened within 15 minutes (pandas
    ``merge_asof(tolerance=...)`` semantics): a stale match is
    attribution noise, and dropping it at the join beats filtering
    downstream. Emits the matched timestamp and the gap in whole
    seconds; out-of-tolerance purchases keep the row with NULLs (the
    left side is never lost).

    Plan shape: the q_join_asof union + running-max window idiom (one
    user-keyed shuffle, no row-at-a-time probing) plus a per-row
    tolerance mask — the tolerance costs nothing extra.

    Determinism: the gap is exact integer microseconds (unix_micros /
    epoch_us both count µs since epoch), floor-divided to seconds.
    """
    prep(spark)
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    raw_last = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("raw_last"))
    return (
        ev.withColumn("raw_last", raw_last)
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "ts",
            "user_id",
            F.when(gap_us <= 900_000_000, F.col("raw_last")).alias(
                "last_click_ts"
            ),
            F.when(
                gap_us <= 900_000_000,
                F.expr(
                    "CAST((unix_micros(ts) - unix_micros(raw_last))"
                    " div 1000000 AS BIGINT)"
                ),
            ).alias("gap_seconds"),
        )
    )


# --- multinomial Naive Bayes language classifier ------------------------

# Shared CTE prefix: corpus tokenization -> NB model tables -> per
# (doc, lang) decimal-summed log-likelihood scores. Reused verbatim by
# q_nb_langid (confusion matrix) and q_label_suspects (margin ranking).
_NB_SCORES_CTES = """toks AS (
    SELECT doc_id, lang,
           unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents
),
langs AS (SELECT DISTINCT lang AS l FROM documents),
priors AS (
    SELECT lang AS l, CAST(COUNT(*) AS BIGINT) AS d_l,
           CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS d_all
    FROM documents GROUP BY lang
),
c_lt AS (
    SELECT lang AS l, tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM toks GROUP BY lang, tok
),
n_l AS (
    SELECT lang AS l, CAST(COUNT(*) AS BIGINT) AS n
    FROM toks GROUP BY lang
),
v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM toks),
terms AS (
    SELECT t.doc_id, t.lang AS actual, lg.l,
           ROUND(log2(COALESCE(c.c, 0) + 1) - log2(nl.n + v.v), 9) AS term
    FROM toks t
    CROSS JOIN langs lg
    CROSS JOIN v
    JOIN n_l nl ON nl.l = lg.l
    LEFT JOIN c_lt c ON c.l = lg.l AND c.tok = t.tok
),
scores AS (
    SELECT doc_id, actual, l,
           CAST(SUM(CAST(term AS DECIMAL(18,9))) AS DOUBLE)
             + (SELECT ROUND(log2(p.d_l) - log2(p.d_all), 9)
                FROM priors p WHERE p.l = terms.l) AS score
    FROM terms GROUP BY doc_id, actual, l
),
pred AS (
    SELECT doc_id, actual, l AS predicted, score,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, l) AS rk
    FROM scores
)"""

_NB_ORACLE = f"""
WITH {_NB_SCORES_CTES}
SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rk = 1
GROUP BY actual, predicted
"""


def _nb_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared NB scoring subtree -> (doc_id, actual, l, score): model
    tables (per-lang token counts, totals, vocab, priors) broadcast
    onto the token stream, per-(doc, lang) 9dp-rounded integer-log2
    likelihood terms decimal-summed, prior added post-sum. The Spark
    twin of the `_NB_SCORES_CTES` SQL prefix."""
    from modevetl_spark.operators._util import spread

    d = spread(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", "lang", F.explode(tokens("text")).alias("tok"))
    langs = d.select(F.col("lang").alias("l")).distinct()
    priors = (
        d.groupBy(F.col("lang").alias("l"))
        .agg(F.count(F.lit(1)).cast("long").alias("d_l"))
        .withColumn(
            "d_all", F.sum("d_l").over(Window.partitionBy()).cast("long")
        )
        .select(
            "l",
            F.round(F.log2("d_l") - F.log2("d_all"), 9).alias("prior"),
        )
    )
    c_lt = toks.groupBy(F.col("lang").alias("l"), "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n_l = toks.groupBy(F.col("lang").alias("l")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    v = toks.agg(F.countDistinct("tok").cast("long").alias("v"))
    terms = (
        toks.crossJoin(F.broadcast(langs))
        .crossJoin(F.broadcast(v))
        .join(F.broadcast(n_l), "l")
        .join(F.broadcast(c_lt), ["l", "tok"], "left")
        .select(
            "doc_id",
            F.col("lang").alias("actual"),
            "l",
            F.round(
                F.log2(F.coalesce(F.col("c"), F.lit(0)) + 1)
                - F.log2(F.col("n") + F.col("v")),
                9,
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("doc_id", "actual", "l")
        .agg(
            F.sum(F.col("term").cast("decimal(18,9)"))
            .cast("double")
            .alias("s")
        )
        .join(F.broadcast(priors), "l")
        .select(
            "doc_id", "actual", "l", (F.col("s") + F.col("prior")).alias("score")
        )
    )


@q("q_nb_langid", oracle_sql=_NB_ORACLE)
def nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+8 [EXT]: multinomial Naive Bayes language classifier —
    train token likelihoods per language (Laplace smoothing) and doc
    priors on the corpus, score every document, report the confusion
    matrix (actual × predicted). The classic supervised text-pipeline
    op, fully deterministic: every log-likelihood term is a DIFFERENCE
    OF INTEGER-ARGUMENT log2 calls (log2(c+1) − log2(N_l+V) — the PMI
    trick), rounded 9dp and decimal-summed, so the argmax compares
    bit-identical doubles; ties break by language name.

    Plan shape: model tables (per-lang token counts, totals, vocab,
    priors) are aggregates bounded by vocab × languages and broadcast
    onto the token stream; scoring is one (doc, lang)-keyed aggregate —
    the corpus is scanned once for training counts and once for
    scoring (resubstitution demo; at scale, train on yesterday's
    corpus and score today's delta with the same broadcast tables).
    """
    prep(spark)
    scores = _nb_scores(spark, sf_dir)
    w_pick = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "l")
    return (
        scores.withColumn("rk", F.row_number().over(w_pick))
        .where(F.col("rk") == 1)
        .groupBy("actual", F.col("l").alias("predicted"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# --- hashing-trick feature vectors --------------------------------------

_FEATHASH_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents
),
bucketed AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS bucket
    FROM toks
),
counts AS (
    SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
    FROM bucketed GROUP BY doc_id, bucket
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       string_agg(bucket || ':' || c, ' ' ORDER BY bucket) AS features
FROM counts
GROUP BY doc_id
"""


@q("q_feature_hashing", oracle_sql=_FEATHASH_ORACLE)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+9 [EXT]: hashing-trick feature vectors — tokens hash into 64
    buckets (the shared md5→32-bit-int family, so both engines compute
    identical buckets) and each document becomes a sparse count vector,
    emitted as an ordered ``bucket:count`` string (the array-output
    hash-hazard workaround). The fixed-width featurization step before
    any linear model at corpus scale: vocabulary-free, no global
    dictionary to build or broadcast.

    Plan shape: per-row hashing (no shuffle), one (doc, bucket) hash
    aggregate, one doc rollup — entirely map-side-combine-friendly.
    """
    prep(spark)
    from modevetl_spark.operators._util import spread

    d = spread(load(spark, sf_dir, "documents"))
    bucketed = d.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % 64
        ).alias("bucket"),
    )
    counts = bucketed.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    feat = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("bucket", "c"))),
            lambda s: F.concat_ws(":", s.bucket.cast("string"), s.c.cast("string")),
        ),
        " ",
    )
    return counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        feat.alias("features"),
    )


# --- leave-one-out target encoding --------------------------------------

_TARGET_ENC_ORACLE = """
WITH base AS (
    SELECT o.o_orderkey, c.c_mktsegment AS segment,
           CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
             AS is_urgent
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
seg AS (
    SELECT segment,
           CAST(SUM(is_urgent) AS BIGINT) AS seg_pos,
           CAST(COUNT(*) AS BIGINT) AS seg_n
    FROM base GROUP BY segment
)
SELECT b.o_orderkey, b.segment,
       CAST(b.is_urgent AS BIGINT) AS is_urgent,
       CASE WHEN s.seg_n > 1
            THEN ROUND(CAST(s.seg_pos - b.is_urgent AS DOUBLE)
                       / (s.seg_n - 1), 6) END AS segment_loo_rate
FROM base b JOIN seg s ON b.segment = s.segment
"""


@q("q_target_encoding", oracle_sql=_TARGET_ENC_ORACLE)
def target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+10 [EXT]: leave-one-out target encoding — each order's market
    segment encoded as the urgent-order rate of the OTHER orders in its
    segment ((Σtarget − own)/(n − 1)): the leakage-safe categorical
    encoding for tree/linear models (plain mean encoding leaks each
    row's own label into its feature).

    Plan shape: one segment-keyed aggregate (5 rows) broadcast back
    onto the fact — the per-row encode is arithmetic, no window over
    the fact; dim join broadcasts.

    Determinism: integer counts + one exact division rounded 6dp;
    singleton segments encode NULL (explicit n>1 guard — Spark ANSI
    would raise on the 0 division where DuckDB NULLs).
    """
    prep(spark)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("is_urgent"),
    )
    seg = base.groupBy("segment").agg(
        F.sum("is_urgent").cast("long").alias("seg_pos"),
        F.count(F.lit(1)).cast("long").alias("seg_n"),
    )
    return base.join(F.broadcast(seg), "segment").select(
        "o_orderkey",
        "segment",
        F.col("is_urgent").cast("long").alias("is_urgent"),
        F.when(
            F.col("seg_n") > 1,
            F.round(
                (F.col("seg_pos") - F.col("is_urgent")).cast("double")
                / (F.col("seg_n") - 1),
                6,
            ),
        ).alias("segment_loo_rate"),
    )


# --- ROC AUC via the rank-sum identity ----------------------------------

_AUC_ORACLE = """
WITH labeled AS (
    SELECT CAST(floor(o_totalprice) AS BIGINT) AS v,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
    FROM orders
    WHERE o_totalprice > -9.2e18 AND o_totalprice < 9.2e18
),
per_value AS (
    SELECT v,
           CAST(SUM(pos) AS BIGINT)     AS p_cnt,
           CAST(SUM(1 - pos) AS BIGINT) AS n_cnt
    FROM labeled GROUP BY v
),
cum AS (
    SELECT p_cnt, n_cnt, p_cnt + n_cnt AS t,
           CAST(COALESCE(SUM(p_cnt + n_cnt) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS cum_before,
           CAST(SUM(p_cnt) OVER () AS BIGINT) AS n_pos,
           CAST(SUM(n_cnt) OVER () AS BIGINT) AS n_neg
    FROM per_value
),
sums AS (
    SELECT n_pos, n_neg,
           CAST(SUM(p_cnt * (2 * cum_before + t + 1)) AS BIGINT) AS r2p
    FROM cum GROUP BY n_pos, n_neg
)
SELECT n_pos, n_neg,
       ROUND(((CAST(r2p AS DOUBLE) - n_pos * (n_pos + 1)) / 2)
             / (CAST(n_pos AS DOUBLE) * n_neg), 9) AS auc
FROM sums
"""


@q("q_roc_auc", oracle_sql=_AUC_ORACLE)
def roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+11 [EXT]: ROC AUC of "order value predicts urgency" — the
    classifier-evaluation primitive, computed by the rank-sum identity
    AUC = (R₊ − n₊(n₊+1)/2)/(n₊·n₋) with average ranks for ties
    (equivalently P(score₊ > score₋) + ½P(=)). No threshold sweep, no
    curve materialization — one ranking pass.

    Plan/determinism: the q_stats_mannwhitney machinery verbatim —
    dollar-floored per-value counts (bounded support), DOUBLED-INTEGER
    tied-rank fold so no float touches an aggregate, one exact-IEEE
    division at the end (9dp). AUC ≈ 0.5 on this fixture (priority is
    independent of price) — the pytest asserts the [0,1] bound and the
    label-swap antisymmetry AUC + AUC' = 1.

    Admitted score domain: |value| < 9.2e18, the r11 floor-guard
    convention (Spark's floor saturates where DuckDB's BIGINT cast
    raises; r12 verdict #3 oracle hardening) — also keeps NULL scores
    out of the rank window. Mirrored in the oracle.
    """
    prep(spark)
    o = load(spark, sf_dir, "orders").where(
        # two-sided range, not abs(): pushes to the parquet scan
        (F.col("o_totalprice") > -9.2e18) & (F.col("o_totalprice") < 9.2e18)
    )
    labeled = o.select(
        F.floor("o_totalprice").cast("long").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("pos"),
    )
    per_value = labeled.groupBy("v").agg(
        F.sum("pos").cast("long").alias("p_cnt"),
        F.sum(1 - F.col("pos")).cast("long").alias("n_cnt"),
    )
    w_before = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    t = F.col("p_cnt") + F.col("n_cnt")
    cum = per_value.select(
        "p_cnt",
        t.alias("t"),
        F.coalesce(F.sum(t).over(w_before), F.lit(0)).cast("long").alias("cb"),
        F.sum("p_cnt").over(w_all).cast("long").alias("n_pos"),
        F.sum("n_cnt").over(w_all).cast("long").alias("n_neg"),
    )
    sums = cum.groupBy("n_pos", "n_neg").agg(
        F.sum(F.col("p_cnt") * (2 * F.col("cb") + F.col("t") + 1))
        .cast("long")
        .alias("r2p")
    )
    n_pos, n_neg = F.col("n_pos"), F.col("n_neg")
    return sums.select(
        "n_pos",
        "n_neg",
        F.round(
            ((F.col("r2p").cast("double") - n_pos * (n_pos + 1)) / 2)
            / (n_pos.cast("double") * n_neg),
            9,
        ).alias("auc"),
    )


# --- PSI distribution-drift index (in bits) -----------------------------

_PSI_ORACLE = """
WITH binned AS (
    SELECT LEAST(CAST(FLOOR(o_totalprice / CAST(30000 AS DOUBLE)) AS BIGINT),
                 9) AS bin,
           CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END
             AS is_ref
    FROM orders
    WHERE o_totalprice > -9.2e18 AND o_totalprice < 9.2e18
),
cells AS (
    SELECT bin,
           CAST(SUM(is_ref) AS BIGINT) + 1     AS c_ref,
           CAST(SUM(1 - is_ref) AS BIGINT) + 1 AS c_cur
    FROM binned GROUP BY bin
),
tot AS (
    SELECT bin, c_ref, c_cur,
           CAST(SUM(c_ref) OVER () AS BIGINT) AS n_ref,
           CAST(SUM(c_cur) OVER () AS BIGINT) AS n_cur
    FROM cells
),
terms AS (
    SELECT bin,
           ROUND((CAST(c_ref AS DOUBLE) / n_ref - CAST(c_cur AS DOUBLE) / n_cur)
                 * (ROUND(log2(c_ref), 9) - ROUND(log2(n_ref), 9)
                    - ROUND(log2(c_cur), 9) + ROUND(log2(n_cur), 9)),
                 9) AS term
    FROM tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       ROUND(CAST(SUM(CAST(term AS DECIMAL(18,9))) AS DOUBLE), 6)
         AS psi_bits
FROM terms
"""


@q("q_psi_stability", oracle_sql=_PSI_ORACLE)
def psi_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+16 [EXT]: Population Stability Index of the order-value
    distribution, pre-1998 (reference) vs 1998+ (current) — THE
    industry drift gate for deployed models (rule of thumb: <0.1 stable,
    >0.25 retrain). Reported in BITS (log2, not ln — a fixed 1/ln2
    rescale of the classic definition, chosen because log2 over INTEGER
    arguments is engine-identical); add-one smoothing keeps empty bins
    finite and deterministic.

    Plan shape: one pass to fixed price-band × period counts (≤10
    cells), margins as windows over the cell table, the PSI fold over
    10 rows.

    Determinism: share differences are exact-IEEE over integer ratios;
    the log factor is a ± chain of 9dp-rounded integer-argument log2;
    per-bin terms round 9dp and decimal-sum. The bin is
    floor(value / width) — one correctly-rounded division plus FLOOR,
    identical in both engines even on negatives (the pre-r13
    floor-then-integer-div form hit the Spark-div-truncates vs
    DuckDB-//-floors dialect split on negative values; for positive
    values floor(floor(x)/n) = floor(x/n), so clean outputs are
    unchanged).

    Admitted domain: |value| < 9.2e18, the r11 floor-guard convention
    (Spark's floor saturates where DuckDB's BIGINT cast raises; r12
    verdict #3 oracle hardening). Mirrored in the oracle.
    """
    prep(spark)
    o = load(spark, sf_dir, "orders").where(
        # two-sided range, not abs(): pushes to the parquet scan
        (F.col("o_totalprice") > -9.2e18) & (F.col("o_totalprice") < 9.2e18)
    )
    binned = o.select(
        F.least(
            F.floor(F.col("o_totalprice") / F.lit(30000.0)).cast("bigint"),
            F.lit(9),
        ).alias("bin"),
        F.when(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1)
        .otherwise(0)
        .alias("is_ref"),
    )
    cells = binned.groupBy("bin").agg(
        (F.sum("is_ref") + 1).cast("long").alias("c_ref"),
        (F.sum(1 - F.col("is_ref")) + 1).cast("long").alias("c_cur"),
    )
    w_all = Window.partitionBy()
    tot = cells.select(
        "bin",
        "c_ref",
        "c_cur",
        F.sum("c_ref").over(w_all).cast("long").alias("n_ref"),
        F.sum("c_cur").over(w_all).cast("long").alias("n_cur"),
    )
    logchain = (
        F.round(F.log2("c_ref"), 9)
        - F.round(F.log2("n_ref"), 9)
        - F.round(F.log2("c_cur"), 9)
        + F.round(F.log2("n_cur"), 9)
    )
    share_diff = (
        F.col("c_ref").cast("double") / F.col("n_ref")
        - F.col("c_cur").cast("double") / F.col("n_cur")
    )
    terms = tot.select(F.round(share_diff * logchain, 9).alias("term"))
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.round(
            F.sum(F.col("term").cast("decimal(18,9)")).cast("double"), 6
        ).alias("psi_bits"),
    )


# --- Wilson confidence intervals for segment rates ----------------------

_WILSON_ORACLE = """
WITH seg AS (
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
                         THEN 1 ELSE 0 END) AS BIGINT) AS pos
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
)
SELECT segment, n, pos,
       ROUND(CAST(pos AS DOUBLE) / n, 6) AS rate,
       ROUND((CAST(pos AS DOUBLE) / n
              + CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE) / (2 * n)
              - CAST('1.96' AS DOUBLE)
                * sqrt((CAST(pos AS DOUBLE) / n) * (1 - CAST(pos AS DOUBLE) / n) / n
                       + CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE)
                         / (CAST(4 AS DOUBLE) * n * n)))
             / (1 + CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE) / n), 6)
         AS wilson_lo,
       ROUND((CAST(pos AS DOUBLE) / n
              + CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE) / (2 * n)
              + CAST('1.96' AS DOUBLE)
                * sqrt((CAST(pos AS DOUBLE) / n) * (1 - CAST(pos AS DOUBLE) / n) / n
                       + CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE)
                         / (CAST(4 AS DOUBLE) * n * n)))
             / (1 + CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE) / n), 6)
         AS wilson_hi
FROM seg
"""


@q("q_rate_confint", oracle_sql=_WILSON_ORACLE)
def rate_confint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+17 [EXT]: Wilson 95% confidence intervals on per-segment
    urgent-order rates — the interval that stays inside [0,1] and
    behaves at small n where the naive normal interval fails; what a
    metrics dashboard should put around every rate it shows.

    Plan shape: one broadcast-dim join + a 5-row aggregate; the
    interval is per-row arithmetic on the aggregate output.

    Determinism: a fixed exact-IEEE tree over integer (pos, n) with the
    z=1.96 literal shared via the CAST-string idiom; sqrt is correctly
    rounded; both bounds round 6dp. The pytest checks bracket ordering
    and [0,1] containment.
    """
    prep(spark)
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("long")
            .alias("pos"),
        )
    )
    z = F.lit(1.96)
    n, pos = F.col("n"), F.col("pos")
    p = pos.cast("double") / n
    center = p + z * z / (2 * n)
    half = z * F.sqrt(p * (1 - p) / n + z * z / (F.lit(4.0) * n * n))
    denom = 1 + z * z / n
    return seg.select(
        "segment",
        "n",
        "pos",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )


# --- weighted-fair-queueing source interleave ---------------------------

_INTERLEAVE_ORACLE = """
WITH ranked AS (
    SELECT doc_id, source,
           CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
                AS BIGINT) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
    FROM documents
),
keyed AS (
    SELECT doc_id, source,
           (CAST(rn AS DOUBLE) - CAST('0.5' AS DOUBLE)) / n_s AS vkey
    FROM ranked
),
top AS (
    SELECT doc_id, source, vkey
    FROM keyed ORDER BY vkey, source, doc_id LIMIT 200
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY vkey, source, doc_id) AS BIGINT)
         AS pos,
       doc_id, source
FROM top
"""


@q("q_interleave_sources", oracle_sql=_INTERLEAVE_ORACLE)
def interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+12 [EXT]: proportional source interleaving — the first 200
    positions of a training order where every source appears evenly
    spread according to its size (weighted-fair-queueing virtual finish
    times: doc i of a source with n docs sorts at (i − ½)/n). The
    curriculum-mixing step of a training-data pipeline: no source ever
    front-loads, regardless of how the corpus was written.

    Plan shape: per-source ranking windows partition by source (fully
    parallel); the global cut is TakeOrdered on the virtual key (never
    a full sort); only the 200 emitted rows see a global window for
    their position number.

    Determinism: the virtual key is one exact division of
    integer-derived values (identical doubles both engines); ties —
    equal (i, n) across sources — break by (source, doc_id).
    """
    prep(spark)
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    w_s = Window.partitionBy("source").orderBy("doc_id")
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number().over(w_s).cast("long").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).cast("long").alias("n_s"),
    )
    keyed = ranked.select(
        "doc_id",
        "source",
        ((F.col("rn").cast("double") - F.lit(0.5)) / F.col("n_s")).alias("vkey"),
    )
    top = keyed.orderBy("vkey", "source", "doc_id").limit(200)
    w_pos = Window.orderBy("vkey", "source", "doc_id")
    return top.select(
        F.row_number().over(w_pos).cast("long").alias("pos"),
        "doc_id",
        "source",
    )


# --- label-error candidates via NB margin -------------------------------

_SUSPECTS_ORACLE = f"""
WITH {_NB_SCORES_CTES},
actual_score AS (
    SELECT doc_id, score AS a_score FROM scores WHERE l = actual
),
best AS (
    SELECT doc_id, actual, predicted, score AS b_score
    FROM pred WHERE rk = 1
)
SELECT b.doc_id, b.actual, b.predicted,
       ROUND(b.b_score - a.a_score, 6) AS margin
FROM best b JOIN actual_score a ON a.doc_id = b.doc_id
WHERE b.predicted <> b.actual
ORDER BY ROUND(b.b_score - a.a_score, 6) DESC, b.doc_id
LIMIT 50
"""


@q("q_label_suspects", oracle_sql=_SUSPECTS_ORACLE)
def label_suspects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+13 [EXT]: label-error candidates — the 50 documents whose
    recorded language the Naive Bayes model most confidently
    contradicts, ranked by score margin (winning-class score minus
    recorded-class score). The confident-learning-style data-cleaning
    triage step: at corpus scale, mislabeled examples poison training,
    and margin ranking surfaces them for review by descending model
    conviction.

    Plan shape: shares the NB scoring subtree with q_nb_langid (same
    model tables broadcast onto the token stream, same (doc, lang)
    decimal-summed scores — the SQL oracles literally share the CTE
    prefix); the margin rank is TakeOrdered over the misclassified
    subset.

    Determinism: scores are the NB integer-log2 decimal sums (bit-
    identical); margins are differences of identical doubles rounded
    6dp; ties break by doc_id.
    """
    prep(spark)
    scores = _nb_scores(spark, sf_dir)
    w_pick = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "l")
    best = (
        scores.withColumn("rk", F.row_number().over(w_pick))
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            "actual",
            F.col("l").alias("predicted"),
            F.col("score").alias("b_score"),
        )
    )
    actual_score = scores.where(F.col("l") == F.col("actual")).select(
        "doc_id", F.col("score").alias("a_score")
    )
    return (
        best.join(actual_score, "doc_id")
        .where(F.col("predicted") != F.col("actual"))
        .select(
            "doc_id",
            "actual",
            "predicted",
            F.round(F.col("b_score") - F.col("a_score"), 6).alias("margin"),
        )
        .orderBy(F.col("margin").desc(), "doc_id")
        .limit(50)
    )


# --- dedup threshold operating curve ------------------------------------


def _threshold_curve_oracle() -> str:
    from modevetl_spark.queries.llm import _MINHASH_PAIR_CTES

    return f"""
WITH {_MINHASH_PAIR_CTES},
all_inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
    FROM sh a JOIN sh b ON b.s = a.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
exact_j AS (
    SELECT ROUND(CAST(p.n_inter AS DOUBLE) / (sa.n + sb.n - p.n_inter), 6)
             AS j
    FROM all_inter p
    JOIN sizes sa ON p.id_a = sa.doc_id
    JOIN sizes sb ON p.id_b = sb.doc_id
),
cand_j AS (
    SELECT ROUND(CAST(p.n_inter AS DOUBLE) / (sa.n + sb.n - p.n_inter), 6)
             AS j
    FROM pair_inter p
    JOIN sizes sa ON p.id_a = sa.doc_id
    JOIN sizes sb ON p.id_b = sb.doc_id
),
grid AS (SELECT CAST(g.k AS BIGINT) AS k, CAST(g.k AS DOUBLE) / 10 AS tau
         FROM UNNEST(range(1, 10)) AS g(k))
SELECT g.k, g.tau,
       CAST((SELECT COUNT(*) FROM exact_j e WHERE e.j >= g.tau) AS BIGINT)
         AS n_exact,
       CAST((SELECT COUNT(*) FROM cand_j c WHERE c.j >= g.tau) AS BIGINT)
         AS n_found,
       CASE WHEN (SELECT COUNT(*) FROM exact_j e WHERE e.j >= g.tau) > 0
            THEN ROUND(CAST((SELECT COUNT(*) FROM cand_j c
                             WHERE c.j >= g.tau) AS DOUBLE)
                       / (SELECT COUNT(*) FROM exact_j e WHERE e.j >= g.tau),
                       6) END AS recall
FROM grid g
"""


@q("q_dedup_threshold_curve", oracle_sql=_threshold_curve_oracle())
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+10 [EXT]: dedup threshold operating curve — for every
    similarity threshold τ ∈ {0.1 … 0.9}, how many truly-similar pairs
    exist (exact trigram Jaccard) and how many the MinHash-LSH pipeline
    finds, with recall. The picture behind choosing τ: the single-point
    q_dedup_eval_pr measures one operating point, this sweeps the
    curve (LSH recall decays below the banding's S-curve threshold —
    visible here as recall dropping at low τ).

    Plan shape: BOTH pair tables are computed once (exact via the
    shared-shingle join — the documented sample-scale ground-truth
    pass; candidates via the production banded join) and the 9-row τ
    grid cross-joins against their Jaccard values — two bounded
    aggregates per τ over already-tiny pair sets.

    Determinism: Jaccards rounded 6dp; τ = k/10 is one exact division;
    all else integer counts.
    """
    prep(spark)
    from modevetl_spark.operators._util import spread
    from modevetl_spark.operators.dedup import jaccard_pairs, minhash_candidates_md5
    from modevetl_spark.operators.text import word_shingles

    d = spread(load(spark, sf_dir, "documents"))

    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(tokens("text"), 3))).alias("s"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "s")
    b = sh.select(F.col("doc_id").alias("id_b"), "s")
    all_inter = (
        a.join(b, ["s"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    exact_j = (
        all_inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("j")
        )
    )
    cands = minhash_candidates_md5(d, shingle_n=3, k=16, bands=4)
    cand_j = jaccard_pairs(d, cands.select("id_a", "id_b"), shingle_n=3).select(
        F.col("jaccard").alias("j")
    )

    grid = spark.range(1, 10).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id").cast("double") / 10).alias("tau"),
    )
    e_counts = (
        grid.crossJoin(exact_j)
        .where(F.col("j") >= F.col("tau"))
        .groupBy("k", "tau")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    c_counts = (
        grid.crossJoin(cand_j)
        .where(F.col("j") >= F.col("tau"))
        .groupBy("k", "tau")
        .agg(F.count(F.lit(1)).cast("long").alias("n_found"))
    )
    return (
        grid.join(e_counts, ["k", "tau"], "left")
        .join(c_counts, ["k", "tau"], "left")
        .select(
            "k",
            "tau",
            F.coalesce(F.col("n_exact"), F.lit(0)).cast("long").alias("n_exact"),
            F.coalesce(F.col("n_found"), F.lit(0)).cast("long").alias("n_found"),
            F.when(
                F.coalesce(F.col("n_exact"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("n_found"), F.lit(0)).cast("double")
                    / F.col("n_exact"),
                    6,
                ),
            ).alias("recall"),
        )
    )


# --- mutual information between two categoricals ------------------------

_MI_ORACLE = """
WITH cells AS (
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c_xy
    FROM documents GROUP BY source, lang
),
margins AS (
    SELECT source, lang, c_xy,
           CAST(SUM(c_xy) OVER (PARTITION BY source) AS BIGINT) AS c_x,
           CAST(SUM(c_xy) OVER (PARTITION BY lang) AS BIGINT) AS c_y,
           CAST(SUM(c_xy) OVER () AS BIGINT) AS n
    FROM cells
),
terms AS (
    SELECT ROUND((CAST(c_xy AS DOUBLE) / n)
                 * (ROUND(log2(c_xy), 9) + ROUND(log2(n), 9)
                    - ROUND(log2(c_x), 9) - ROUND(log2(c_y), 9)),
                 9) AS term
    FROM margins
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       ROUND(CAST(SUM(CAST(term AS DECIMAL(18,9))) AS DOUBLE), 6)
         AS mi_bits
FROM terms
"""


@q("q_mutual_information", oracle_sql=_MI_ORACLE)
def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+18 [EXT]: mutual information I(source; lang) in bits — the
    feature-selection primitive (how much does knowing the source tell
    you about the language?). Zero for independent columns; here near
    zero by construction, which is itself the finding: source is NOT a
    useful language feature on this corpus.

    Plan shape: one (source × lang) cell aggregate (bounded by the two
    domains), margins as windows over the cell table (the Benford
    pattern — one fact scan), a ≤100-row MI fold.

    Determinism: p-weights are exact integer ratios; the log factor is
    a ± chain of 9dp-rounded INTEGER-argument log2 (the PMI trick);
    terms round 9dp and decimal-sum. Empty cells contribute nothing by
    construction (the sum runs over observed cells only — standard MI).
    """
    prep(spark)
    d = load(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c_xy")
    )
    margins = cells.select(
        "c_xy",
        F.sum("c_xy").over(Window.partitionBy("source")).cast("long").alias("c_x"),
        F.sum("c_xy").over(Window.partitionBy("lang")).cast("long").alias("c_y"),
        F.sum("c_xy").over(Window.partitionBy()).cast("long").alias("n"),
    )
    logchain = (
        F.round(F.log2("c_xy"), 9)
        + F.round(F.log2("n"), 9)
        - F.round(F.log2("c_x"), 9)
        - F.round(F.log2("c_y"), 9)
    )
    terms = margins.select(
        F.round((F.col("c_xy").cast("double") / F.col("n")) * logchain, 9).alias(
            "term"
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.round(
            F.sum(F.col("term").cast("decimal(18,9)")).cast("double"), 6
        ).alias("mi_bits"),
    )


# --- Cramér's V effect size ---------------------------------------------

_CRAMERS_ORACLE = """
WITH cells AS (
    SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
           CAST(COUNT(*) AS BIGINT) AS c_xy
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
margins AS (
    SELECT seg, pri, c_xy,
           CAST(SUM(c_xy) OVER (PARTITION BY seg) AS BIGINT) AS c_x,
           CAST(SUM(c_xy) OVER (PARTITION BY pri) AS BIGINT) AS c_y,
           CAST(SUM(c_xy) OVER () AS BIGINT) AS n
    FROM cells
),
dims AS (
    SELECT CAST(COUNT(DISTINCT seg) AS BIGINT) AS r,
           CAST(COUNT(DISTINCT pri) AS BIGINT) AS cc
    FROM cells
),
terms AS (
    SELECT ROUND((CAST(c_xy AS DOUBLE)
                  - CAST(c_x AS DOUBLE) * c_y / n)
                 * (CAST(c_xy AS DOUBLE) - CAST(c_x AS DOUBLE) * c_y / n)
                 / (CAST(c_x AS DOUBLE) * c_y / n), 9) AS term
    FROM margins
),
chi AS (
    SELECT CAST(SUM(CAST(term AS DECIMAL(18,9))) AS DOUBLE) AS chi2,
           (SELECT CAST(SUM(c_xy) AS BIGINT) FROM cells) AS n
    FROM terms
)
SELECT ROUND(chi.chi2, 6) AS chi2,
       ROUND(sqrt(chi.chi2 / (chi.n * LEAST(d.r - 1, d.cc - 1))), 6)
         AS cramers_v
FROM chi, dims d
"""


@q("q_cramers_v", oracle_sql=_CRAMERS_ORACLE)
def cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+19 [EXT]: Cramér's V — the [0,1] effect size behind a
    chi-square test (χ² itself scales with n, so at 100 TB everything
    is "significant"; V answers whether the association MATTERS).
    Computed over the segment × priority contingency table.

    Plan shape: one contingency aggregate (bounded by the two domains),
    margins as windows over the cell table, the χ² fold over ≤25 rows,
    V as one sqrt.

    Determinism: expected counts are exact-IEEE over integer margins;
    per-cell terms avoid pow() ((o−e)·(o−e)), round 9dp, decimal-sum;
    sqrt is correctly rounded; both outputs round 6dp.
    """
    prep(spark)
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
    )
    margins = cells.select(
        "seg",
        "pri",
        "c_xy",
        F.sum("c_xy").over(Window.partitionBy("seg")).cast("long").alias("c_x"),
        F.sum("c_xy").over(Window.partitionBy("pri")).cast("long").alias("c_y"),
        F.sum("c_xy").over(Window.partitionBy()).cast("long").alias("n"),
    )
    e = F.col("c_x").cast("double") * F.col("c_y") / F.col("n")
    terms = margins.select(
        F.round(
            (F.col("c_xy").cast("double") - e)
            * (F.col("c_xy").cast("double") - e)
            / e,
            9,
        ).alias("term")
    )
    dims = cells.agg(
        F.countDistinct("seg").cast("long").alias("r"),
        F.countDistinct("pri").cast("long").alias("cc"),
    )
    n_total = cells.agg(F.sum("c_xy").cast("long").alias("n"))
    chi = terms.agg(
        F.sum(F.col("term").cast("decimal(18,9)")).cast("double").alias("chi2")
    )
    return (
        chi.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(n_total))
        .select(
            F.round("chi2", 6).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (F.col("n") * F.least(F.col("r") - 1, F.col("cc") - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
    )


# --- categorical entropy profile ----------------------------------------

_ENTROPY_PROFILE_ORACLE = """
WITH src AS (
    SELECT 'doc_source' AS column_name, source AS val, COUNT(*) AS c
    FROM documents GROUP BY source
    UNION ALL
    SELECT 'doc_lang', lang, COUNT(*) FROM documents GROUP BY lang
    UNION ALL
    SELECT 'order_priority', o_orderpriority, COUNT(*)
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'order_status', o_orderstatus, COUNT(*)
    FROM orders GROUP BY o_orderstatus
),
margins AS (
    SELECT column_name, CAST(c AS BIGINT) AS c,
           CAST(SUM(c) OVER (PARTITION BY column_name) AS BIGINT) AS n
    FROM src
),
terms AS (
    SELECT column_name,
           ROUND((CAST(c AS DOUBLE) / n)
                 * (ROUND(log2(n), 9) - ROUND(log2(c), 9)), 9) AS term
    FROM margins
)
SELECT column_name,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       ROUND(CAST(SUM(CAST(term AS DECIMAL(18,9))) AS DOUBLE), 6)
         AS entropy_bits
FROM terms
GROUP BY column_name
"""


@q("q_entropy_profile", oracle_sql=_ENTROPY_PROFILE_ORACLE)
def entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+20 [EXT]: Shannon entropy of every categorical column across
    two tables — the column-profiling completion (q_profile_columns
    counts nulls/distincts; entropy says how the mass is SPREAD:
    near-log2(k) means uniform, near-0 means one dominant value — the
    difference between a useful partition key and a skew trap).

    Plan shape: one bounded aggregate per column unioned into a single
    cell table; margins and the entropy fold ride that table.

    Determinism: p·log2(1/p) as (c/n)·(log2(n) − log2(c)) — exact
    ratios times an integer-argument log2 difference, rounded 9dp and
    decimal-summed per column.
    """
    prep(spark)
    d = load(spark, sf_dir, "documents")
    o = load(spark, sf_dir, "orders")

    def cells(df, name, col):
        return df.groupBy(F.col(col).alias("val")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ).select(F.lit(name).alias("column_name"), "c")

    src = (
        cells(d, "doc_source", "source")
        .unionAll(cells(d, "doc_lang", "lang"))
        .unionAll(cells(o, "order_priority", "o_orderpriority"))
        .unionAll(cells(o, "order_status", "o_orderstatus"))
    )
    margins = src.select(
        "column_name",
        "c",
        F.sum("c")
        .over(Window.partitionBy("column_name"))
        .cast("long")
        .alias("n"),
    )
    terms = margins.select(
        "column_name",
        F.round(
            (F.col("c").cast("double") / F.col("n"))
            * (F.round(F.log2("n"), 9) - F.round(F.log2("c"), 9)),
            9,
        ).alias("term"),
    )
    return terms.groupBy("column_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.round(
            F.sum(F.col("term").cast("decimal(18,9)")).cast("double"), 6
        ).alias("entropy_bits"),
    )


# --- decision-stump split quality ---------------------------------------

_STUMP_ORACLE = """
WITH cells AS (
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
    FROM documents GROUP BY source, lang
),
tot_lang AS (
    SELECT lang, CAST(SUM(c) AS BIGINT) AS c_tot FROM cells GROUP BY lang
),
n_all AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
per_source AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS n_in FROM cells GROUP BY source
),
sides AS (
    SELECT p.source, p.n_in, t.lang,
           COALESCE(cl.c, 0) AS c_in,
           t.c_tot - COALESCE(cl.c, 0) AS c_out,
           a.n
    FROM per_source p
    CROSS JOIN tot_lang t
    CROSS JOIN n_all a
    LEFT JOIN cells cl ON cl.source = p.source AND cl.lang = t.lang
),
sq AS (
    SELECT source, n_in, n,
           CAST(SUM(CAST(ROUND((CAST(c_in AS DOUBLE) / n_in)
                                * (CAST(c_in AS DOUBLE) / n_in), 9)
                         AS DECIMAL(18,9))) AS DOUBLE) AS sum_p2_in,
           CAST(SUM(CAST(ROUND((CAST(c_out AS DOUBLE) / (n - n_in))
                                * (CAST(c_out AS DOUBLE) / (n - n_in)), 9)
                         AS DECIMAL(18,9))) AS DOUBLE) AS sum_p2_out
    FROM sides
    GROUP BY source, n_in, n
),
scored AS (
    SELECT source, n_in,
           ROUND((CAST(n_in AS DOUBLE) / n) * (1 - sum_p2_in)
                 + (CAST(n - n_in AS DOUBLE) / n) * (1 - sum_p2_out),
                 6) AS weighted_gini
    FROM sq
)
SELECT source, n_in, weighted_gini,
       CAST(ROW_NUMBER() OVER (ORDER BY weighted_gini, source) AS BIGINT)
         AS split_rank
FROM scored
"""


@q("q_decision_stump", oracle_sql=_STUMP_ORACLE)
def decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+14 [EXT]: decision-stump split quality — for every candidate
    split "source = s vs rest", the weighted Gini impurity of the
    language label after the split, ranked best-first. The inner loop
    of decision-tree induction (and of a feature-importance sweep),
    expressed over the contingency cells: the fact is never re-scanned
    per candidate — complement counts derive from the lang totals.

    Plan shape: one (source × lang) cell aggregate; everything after is
    arithmetic over cells × labels (≤100 rows).

    Determinism: squared shares round 9dp and decimal-sum per side;
    the weighted combination is exact-IEEE over identical doubles,
    rounded 6dp; ranking ties break by source.
    """
    prep(spark)
    d = load(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot_lang = cells.groupBy("lang").agg(F.sum("c").cast("long").alias("c_tot"))
    n_all = cells.agg(F.sum("c").cast("long").alias("n"))
    per_source = cells.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_in")
    )
    sides = (
        per_source.crossJoin(F.broadcast(tot_lang))
        .crossJoin(F.broadcast(n_all))
        .join(F.broadcast(cells), ["source", "lang"], "left")
        .select(
            "source",
            "n_in",
            "n",
            F.coalesce(F.col("c"), F.lit(0)).alias("c_in"),
            (F.col("c_tot") - F.coalesce(F.col("c"), F.lit(0))).alias("c_out"),
        )
    )
    p_in = F.col("c_in").cast("double") / F.col("n_in")
    p_out = F.col("c_out").cast("double") / (F.col("n") - F.col("n_in"))
    sq = sides.groupBy("source", "n_in", "n").agg(
        F.sum(F.round(p_in * p_in, 9).cast("decimal(18,9)"))
        .cast("double")
        .alias("sum_p2_in"),
        F.sum(F.round(p_out * p_out, 9).cast("decimal(18,9)"))
        .cast("double")
        .alias("sum_p2_out"),
    )
    scored = sq.select(
        "source",
        "n_in",
        F.round(
            (F.col("n_in").cast("double") / F.col("n")) * (1 - F.col("sum_p2_in"))
            + ((F.col("n") - F.col("n_in")).cast("double") / F.col("n"))
            * (1 - F.col("sum_p2_out")),
            6,
        ).alias("weighted_gini"),
    )
    w = Window.orderBy("weighted_gini", "source")
    return scored.select(
        "source",
        "n_in",
        "weighted_gini",
        F.row_number().over(w).cast("long").alias("split_rank"),
    )


# --- cross-source near-dup overlap --------------------------------------


def _source_overlap_oracle() -> str:
    from modevetl_spark.queries.llm import _MINHASH_PAIR_CTES

    return f"""
WITH {_MINHASH_PAIR_CTES},
ver AS (
    SELECT p.id_a, p.id_b
    FROM pair_inter p
    JOIN sizes sa ON p.id_a = sa.doc_id
    JOIN sizes sb ON p.id_b = sb.doc_id
    WHERE CAST(p.n_inter AS DOUBLE) / (sa.n + sb.n - p.n_inter) >= 0.5
)
SELECT LEAST(da.source, db.source) AS source_a,
       GREATEST(da.source, db.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
FROM ver
JOIN documents da ON da.doc_id = ver.id_a
JOIN documents db ON db.doc_id = ver.id_b
GROUP BY 1, 2
"""


@q("q_dedup_source_overlap", oracle_sql=_source_overlap_oracle())
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+11 [EXT]: cross-source duplication map — verified near-dup
    pairs rolled up by unordered source pair. The contamination report
    BETWEEN feeds: a heavy off-diagonal cell means two "independent"
    sources ship the same content (mirror sites, syndication), which
    silently over-weights that content at training time.

    Plan shape: the verified-pair pipeline (shared with q_dedup_corpus)
    plus two broadcast joins to attach sources and one bounded
    (source × source) rollup.
    """
    prep(spark)
    from modevetl_spark.operators._util import spread
    from modevetl_spark.operators.dedup import jaccard_pairs, minhash_candidates_md5

    d = spread(load(spark, sf_dir, "documents"))
    cands = minhash_candidates_md5(d, shingle_n=3, k=16, bands=4)
    ver = jaccard_pairs(d, cands.select("id_a", "id_b"), shingle_n=3).where(
        F.col("jaccard") >= 0.5
    )
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"))
    return (
        ver.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_pairs"))
    )


# --- month-over-month growth --------------------------------------------

_MOM_ORACLE = """
WITH monthly AS (
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           ROUND(CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1
)
SELECT month, revenue, n_orders,
       ROUND(revenue / LAG(revenue) OVER (ORDER BY month) - 1, 6)
         AS revenue_mom,
       ROUND(CAST(n_orders AS DOUBLE)
             / LAG(n_orders) OVER (ORDER BY month) - 1, 6) AS orders_mom
FROM monthly
"""


@q("q_growth_mom", oracle_sql=_MOM_ORACLE)
def growth_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4+/M1+ [EXT]: month-over-month growth — revenue and order-count
    growth rates per month (NULL for the first month). The board-deck
    number; trivially derived, but the derivation discipline matters:
    the ratio divides two 2dp-rounded decimal sums (identical doubles),
    so the growth rate is bit-stable.

    Plan shape: one calendar-bounded aggregate + one lag window over
    the month series.
    """
    prep(spark)
    from modevetl_spark.functions.compat import dsum

    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        dsum("o_totalprice", 2).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "revenue",
        "n_orders",
        F.round(F.col("revenue") / F.lag("revenue").over(w) - 1, 6).alias(
            "revenue_mom"
        ),
        F.round(
            F.col("n_orders").cast("double") / F.lag("n_orders").over(w) - 1, 6
        ).alias("orders_mom"),
    )


# --- one-way ANOVA across weekdays --------------------------------------

_ANOVA_ORACLE = """
WITH vals AS (
    SELECT CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
           o_totalprice AS x
    FROM orders
),
grp AS (
    SELECT dow,
           CAST(COUNT(*) AS BIGINT) AS n_g,
           ROUND(CAST(SUM(TRY_CAST(x AS DECIMAL(18,6))) AS DOUBLE), 2) AS s_g,
           -- inner TRY_CAST at (18,6) pins Spark's admitted range; the
           -- outer lossless (19,6) widen exists because DuckDB's product
           -- type is (p1+p2, s1+s2) with NO auto-widen: 18+18 digits
           -- overflow while 19+19 = 38 holds x^2 exactly (Spark stays
           -- (18,6) -> exact (37,12))
           ROUND(CAST(SUM(CAST(TRY_CAST(x AS DECIMAL(18,6)) AS DECIMAL(19,6))
                          * CAST(TRY_CAST(x AS DECIMAL(18,6)) AS DECIMAL(19,6)))
                      AS DOUBLE), 2) AS ss_g
    FROM vals GROUP BY dow
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(n_g) AS BIGINT) AS n,
           ROUND(CAST(SUM(TRY_CAST(s_g AS DECIMAL(18,2))) AS DOUBLE), 2) AS s,
           ROUND(CAST(SUM(TRY_CAST(ss_g AS DECIMAL(18,2))) AS DOUBLE), 2) AS ss,
           ROUND(CAST(SUM(TRY_CAST(ROUND(s_g * s_g / n_g, 6)
                                   AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_s2n
    FROM grp
)
SELECT k, n,
       ROUND(GREATEST(sum_s2n - s * s / n, 0), 6) AS ss_between,
       ROUND(GREATEST(ss - sum_s2n, 0), 6) AS ss_within,
       ROUND((GREATEST(sum_s2n - s * s / n, 0) / (k - 1))
             / (GREATEST(ss - sum_s2n, 0) / (n - k)), 6) AS f_stat
FROM tot
"""


@q("q_anova_weekday", oracle_sql=_ANOVA_ORACLE)
def anova_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+21 [EXT]: one-way ANOVA — does mean order value differ
    across order weekdays? The parametric member of the test family
    (KS: shape; U: location, rank-based; runs: serial; ANOVA: means
    across k groups). F ≈ 1 here (value is weekday-independent), which
    is the correct negative.

    Plan shape: ONE pass builds per-group power sums (count, Σx, Σx² —
    the q_agg_moments shape, decimal-folded); the F statistic is
    arithmetic over the 7-row group table.

    Determinism: power sums are decimal-exact then rounded (2dp);
    S_g²/n_g terms round 6dp and decimal-sum; the between/within
    decomposition is a fixed exact-IEEE tree over identical doubles,
    with the GREATEST(·,0) clamp both engines apply (the cancellation
    gotcha — Spark ANSI would raise on sqrt of the ~−1e-10 residue
    this guards elsewhere; here it guards the ratio's sign).
    """
    prep(spark)
    o = load(spark, sf_dir, "orders")
    dec = "decimal(18,6)"
    grp = o.groupBy(
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.round(F.sum(F.col("o_totalprice").try_cast(dec)).cast("double"), 2).alias(
            "s_g"
        ),
        F.round(
            F.sum(
                F.col("o_totalprice").try_cast(dec)
                * F.col("o_totalprice").try_cast(dec)
            ).cast("double"),
            2,
        ).alias("ss_g"),
    )
    tot = grp.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.round(F.sum(F.col("s_g").try_cast("decimal(18,2)")).cast("double"), 2).alias(
            "s"
        ),
        F.round(
            F.sum(F.col("ss_g").try_cast("decimal(18,2)")).cast("double"), 2
        ).alias("ss"),
        F.round(
            F.sum(
                F.round(F.col("s_g") * F.col("s_g") / F.col("n_g"), 6).try_cast(
                    "decimal(28,6)"
                )
            ).cast("double"),
            6,
        ).alias("sum_s2n"),
    )
    ssb = F.greatest(F.col("sum_s2n") - F.col("s") * F.col("s") / F.col("n"), F.lit(0.0))
    ssw = F.greatest(F.col("ss") - F.col("sum_s2n"), F.lit(0.0))
    return tot.select(
        "k",
        "n",
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.round((ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 6).alias(
            "f_stat"
        ),
    )


# --- Theil–Sen robust trend ---------------------------------------------

_THEILSEN_ORACLE = """
WITH monthly AS (
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           ROUND(CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS y
    FROM orders GROUP BY 1
),
indexed AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY month) AS BIGINT) AS i, y
    FROM monthly
),
slopes AS (
    SELECT (b.y - a.y) / (b.i - a.i) AS s
    FROM indexed a JOIN indexed b ON b.i > a.i
)
SELECT CAST((SELECT COUNT(*) FROM indexed) AS BIGINT) AS n_months,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(quantile_cont(s, 0.5), 6) AS theilsen_slope
FROM slopes
"""


@q("q_theilsen_trend", oracle_sql=_THEILSEN_ORACLE)
def theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+22 [EXT]: Theil–Sen robust trend of monthly revenue — the
    median of all pairwise slopes, the estimator that shrugs off up to
    ~29% outlier months where OLS (q_discount_elasticity's machinery)
    gets dragged. The robust-statistics member of the trend family.

    Plan shape: the pairwise self-join is over the MONTH-INDEXED series
    — O(calendar²) pairs, bounded by the calendar and not the data (the
    sweep-line justification squared: ~3k pairs for 80 months at any
    corpus size); the median is one exact interpolated percentile.

    Determinism: y values are 2dp decimal sums (identical); each slope
    is one exact-IEEE division of identical doubles over an integer
    gap; the median interpolation is the engine-shared quantile_cont /
    percentile expression (the q_agg_percentile precedent), rounded
    6dp.
    """
    prep(spark)
    from modevetl_spark.functions.compat import dsum

    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(dsum("o_totalprice", 2).alias("y"))
    indexed = monthly.select(
        F.row_number().over(Window.orderBy("month")).cast("long").alias("i"),
        "y",
    )
    a = indexed.select(F.col("i").alias("ia"), F.col("y").alias("ya"))
    b = indexed.select(F.col("i").alias("ib"), F.col("y").alias("yb"))
    slopes = (
        a.crossJoin(b)
        .where(F.col("ib") > F.col("ia"))
        .select(
            ((F.col("yb") - F.col("ya")) / (F.col("ib") - F.col("ia"))).alias("s")
        )
    )
    n_months = indexed.agg(F.count(F.lit(1)).cast("long").alias("n_months"))
    return (
        slopes.agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.percentile("s", F.lit(0.5)), 6).alias("theilsen_slope"),
        )
        .crossJoin(F.broadcast(n_months))
        .select("n_months", "n_pairs", "theilsen_slope")
    )


# --- Pearson correlation matrix -----------------------------------------

# Column preparation shared by both engines: price is scaled to
# thousands by an EXACT decimal multiply (×0.001 as DECIMAL(4,3)) and
# every column is pinned to a narrow decimal so squares/cross-products
# stay inside DuckDB's non-widening (p1+p2) product rule, and the
# decimal→double casts of the SUMS land where a 3dp ROUND absorbs the
# 1-ulp cross-engine gap (ulp(2e10) ≈ 4e-6 ≪ 5e-4). Scaling a column
# by a constant leaves Pearson r unchanged.
_CORR_COLS = {
    "qty": ("l_quantity", "DECIMAL(8,6)", 1.0),
    "prc_k": ("l_extendedprice", "DECIMAL(13,9)", 0.001),
    "dsc": ("l_discount", "DECIMAL(7,6)", 1.0),
    "tax": ("l_tax", "DECIMAL(7,6)", 1.0),
}
_CORR_PAIRS = [
    ("qty", "prc_k"), ("qty", "dsc"), ("qty", "tax"),
    ("prc_k", "dsc"), ("prc_k", "tax"), ("dsc", "tax"),
]


def _corr_oracle() -> str:
    prep_cols = []
    for name, (src, dec, scale) in _CORR_COLS.items():
        if scale == 1.0:
            prep_cols.append(f"TRY_CAST({src} AS {dec}) AS {name}")
        else:
            prep_cols.append(
                f"TRY_CAST(TRY_CAST({src} AS DECIMAL(18,6))"
                f" * CAST({scale} AS DECIMAL(4,3)) AS {dec}) AS {name}"
            )
    sums = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for name in _CORR_COLS:
        sums.append(
            f"ROUND(CAST(SUM({name}) AS DOUBLE), 3) AS s_{name}"
        )
    done = set()
    for a, b in _CORR_PAIRS + [(c, c) for c in _CORR_COLS]:
        key = tuple(sorted((a, b)))
        if key in done:
            continue
        done.add(key)
        # operands re-cast to (19,9) so DuckDB's non-widening product
        # rule lands exactly in (38,18) int128 (6dp->9dp is exact)
        sums.append(
            f"ROUND(CAST(SUM(CAST({a} AS DECIMAL(19,9))"
            f" * CAST({b} AS DECIMAL(19,9))) AS DOUBLE), 3)"
            f" AS s_{key[0]}_{key[1]}"
        )
    selects = []
    for a, b in _CORR_PAIRS:
        aa, bb = sorted((a, b))
        selects.append(f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
       ROUND((n * s_{aa}_{bb} - s_{a} * s_{b})
             / sqrt(GREATEST(n * s_{a}_{a} - s_{a} * s_{a}, 0)
                    * GREATEST(n * s_{b}_{b} - s_{b} * s_{b}, 0)),
             6) AS pearson_r
FROM sums""")
    return (
        "WITH prepped AS (\n    SELECT " + ",\n           ".join(prep_cols)
        + "\n    FROM lineitem\n),\nsums AS (\n    SELECT "
        + ",\n           ".join(sums)
        + "\n    FROM prepped\n)\n"
        + "\nUNION ALL\n".join(selects)
    )


@q("q_corr_matrix", oracle_sql=_corr_oracle())
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+23 [EXT]: Pearson correlation matrix over the lineitem
    numeric columns (quantity, price, discount, tax) — the numeric half
    of column profiling (q_profile_columns counts, q_entropy_profile
    spreads categoricals; this measures pairwise linear association,
    the first thing a feature audit reads).

    Plan shape: ONE scan builds all 15 power sums (4 sums, 4 squares,
    6 cross-products, n) in a single aggregate with map-side combine;
    the 6 output rows are arithmetic over that one-row result (stack —
    never a second scan per pair).

    Determinism: columns are pinned to narrow decimals (price scaled to
    thousands by an exact decimal multiply — Pearson r is
    scale-invariant) so products stay inside DuckDB's non-widening
    product rule and 3dp-rounded sum casts absorb the decimal→double
    ulp; the r formula is a fixed exact-IEEE tree with GREATEST(·,0)
    clamps on both variance terms.
    """
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    cols = {}
    for name, (src, dec, scale) in _CORR_COLS.items():
        # try_cast at both fold seams: a hostile 1e300 dies at the
        # (18,6) cast, a merely-out-of-domain value (e.g. -99999.99 vs
        # DECIMAL(8,6)) dies at the narrow pin — either must NULL out,
        # not abort the stage (COVERAGE.md M11)
        c = F.col(src).try_cast("decimal(18,6)")
        if scale != 1.0:
            c = c * F.lit(scale).cast("decimal(4,3)")
        cols[name] = c.try_cast(dec.lower())
    prepped = li.select(*[c.alias(n) for n, c in cols.items()])
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for name in _CORR_COLS:
        aggs.append(F.round(F.sum(name).cast("double"), 3).alias(f"s_{name}"))
    done = set()
    for a, b in _CORR_PAIRS + [(c, c) for c in _CORR_COLS]:
        key = tuple(sorted((a, b)))
        if key in done:
            continue
        done.add(key)
        aggs.append(
            F.round(F.sum(F.col(a) * F.col(b)).cast("double"), 3).alias(
                f"s_{key[0]}_{key[1]}"
            )
        )
    sums = prepped.agg(*aggs)
    outs = []
    for a, b in _CORR_PAIRS:
        aa, bb = sorted((a, b))
        n = F.col("n")
        num = n * F.col(f"s_{aa}_{bb}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        va = F.greatest(
            n * F.col(f"s_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"),
            F.lit(0.0),
        )
        vb = F.greatest(
            n * F.col(f"s_{b}_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"),
            F.lit(0.0),
        )
        outs.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.round(num / F.sqrt(va * vb), 6).alias("pearson_r"),
            )
        )
    return sums.select(F.explode(F.array(*outs)).alias("x")).select("x.*")


# --- Spearman rank correlation ------------------------------------------

_SPEARMAN_ORACLE = """
WITH vals AS (
    -- ROUND before the BIGINT cast (shared half-away-from-zero
    -- convention on fractional quantities: raw Spark try_cast
    -- truncates where raw DuckDB TRY_CAST rounds, r11 ADVICE) and the
    -- same abs() floor-range guard the engine applies (TRY_CAST alone
    -- admits [9.2e18, 2^63) doubles the engine's guard NULLs)
    SELECT TRY_CAST(ROUND(l_quantity) AS BIGINT) AS x,
           CASE WHEN abs(l_extendedprice) < 9.2e18
                THEN TRY_CAST(floor(l_extendedprice) AS BIGINT) END AS y
    FROM lineitem
),
n_all AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals),
rx AS (
    SELECT x, ROUND((CAST(COALESCE(SUM(c) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS DOUBLE) + (c + 1) / CAST(2 AS DOUBLE))
                / (SELECT n FROM n_all), 9) AS nr_x
    FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM vals GROUP BY x)
),
ry AS (
    SELECT y, ROUND((CAST(COALESCE(SUM(c) OVER (ORDER BY y
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS DOUBLE) + (c + 1) / CAST(2 AS DOUBLE))
                / (SELECT n FROM n_all), 9) AS nr_y
    FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM vals GROUP BY y)
),
rows_ranked AS (
    SELECT rx.nr_x, ry.nr_y
    FROM vals v JOIN rx ON rx.x = v.x JOIN ry ON ry.y = v.y
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(nr_x AS DECIMAL(18,9))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(nr_y AS DECIMAL(18,9))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(ROUND(nr_x * nr_x, 15) AS DECIMAL(18,15)))
                AS DOUBLE) AS sxx,
           CAST(SUM(CAST(ROUND(nr_y * nr_y, 15) AS DECIMAL(18,15)))
                AS DOUBLE) AS syy,
           CAST(SUM(CAST(ROUND(nr_x * nr_y, 15) AS DECIMAL(18,15)))
                AS DOUBLE) AS sxy
    FROM rows_ranked
)
SELECT n,
       ROUND((n * sxy - sx * sy)
             / sqrt(GREATEST(n * sxx - sx * sx, 0)
                    * GREATEST(n * syy - sy * sy, 0)), 6) AS spearman_rho
FROM sums
"""


@q("q_spearman_corr", oracle_sql=_SPEARMAN_ORACLE)
def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+24 [EXT]: Spearman rank correlation of quantity vs price —
    Pearson over tied-average ranks: the monotone-association measure
    that ignores outliers and nonlinearity (the robust companion to
    q_corr_matrix's Pearson, closing the correlation family).

    Plan shape: average ranks come from running sums over the two
    BOUNDED per-value tables (the KS/MWU support trick — never a
    row-level global window) and broadcast-join back onto the fact;
    one aggregate builds the five power sums.

    Determinism: tied ranks are .5-multiples normalized by n and
    rounded 9dp (identical doubles); rank products round 15dp — exactly
    representable in DECIMAL(18,15) — and decimal-sum (order-free); the
    rho tree is exact-IEEE with clamped variances.
    """
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    # hostile-input guards (COVERAGE.md M11): a 1e300 quantity must
    # try_cast to NULL (dropping the row at the rank join, both
    # engines), not abort the stage; the floor leg needs a range guard
    # because Spark's floor(double) SATURATES to Long.MaxValue where
    # DuckDB's TRY_CAST(floor(·)) yields NULL
    # ROUND before the BIGINT cast on the quantity leg: Spark try_cast
    # truncates fractional doubles where DuckDB TRY_CAST rounds (r11
    # ADVICE — a mid-range fractional poison like 25.5 would merge
    # with different tie groups per engine and shift average ranks);
    # round() is half-away-from-zero in both engines
    vals = li.select(
        F.round("l_quantity").try_cast("long").alias("x"),
        F.when(
            F.abs(F.col("l_extendedprice")) < F.lit(9.2e18),
            F.floor("l_extendedprice"),
        ).alias("y"),
    )
    n_all = vals.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def ranks(col):
        pv = vals.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("c"))
        w_b = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return (
            pv.select(
                col,
                (
                    F.coalesce(F.sum("c").over(w_b), F.lit(0)).cast("double")
                    + (F.col("c") + 1) / F.lit(2.0)
                ).alias("r"),
            )
            .crossJoin(F.broadcast(n_all))
            .select(col, F.round(F.col("r") / F.col("n"), 9).alias(f"nr_{col}"))
        )

    ranked = vals.join(F.broadcast(ranks("x")), "x").join(
        F.broadcast(ranks("y")), "y"
    )
    d15 = "decimal(18,15)"
    sums = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("nr_x").cast("decimal(18,9)")).cast("double").alias("sx"),
        F.sum(F.col("nr_y").cast("decimal(18,9)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("nr_x") * F.col("nr_x"), 15).cast(d15))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("nr_y") * F.col("nr_y"), 15).cast(d15))
        .cast("double")
        .alias("syy"),
        F.sum(F.round(F.col("nr_x") * F.col("nr_y"), 15).cast(d15))
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    return sums.select(
        "n",
        F.round(
            (n * F.col("sxy") - sx * sy)
            / F.sqrt(
                F.greatest(n * F.col("sxx") - sx * sx, F.lit(0.0))
                * F.greatest(n * F.col("syy") - sy * sy, F.lit(0.0))
            ),
            6,
        ).alias("spearman_rho"),
    )


# --- Tukey-fence outlier bounds -----------------------------------------

_TUKEY_ORACLE = """
WITH q AS (
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS q1,
           ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS q3,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
),
fenced AS (
    SELECT l_returnflag, q1, q3, n,
           ROUND(q1 - CAST('1.5' AS DOUBLE) * (q3 - q1), 6) AS lo_fence,
           ROUND(q3 + CAST('1.5' AS DOUBLE) * (q3 - q1), 6) AS hi_fence
    FROM q
)
SELECT f.l_returnflag, f.q1, f.q3, f.lo_fence, f.hi_fence, f.n,
       CAST(COUNT(CASE WHEN l.l_extendedprice < f.lo_fence
                         OR l.l_extendedprice > f.hi_fence
                       THEN 1 END) AS BIGINT) AS n_outliers
FROM fenced f JOIN lineitem l ON l.l_returnflag = f.l_returnflag
GROUP BY 1, 2, 3, 4, 5, 6
"""


@q("q_tukey_outliers", oracle_sql=_TUKEY_ORACLE)
def tukey_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+26 [EXT]: Tukey-fence outlier report — per return flag, the
    quartiles, the 1.5·IQR fences, and how many rows fall outside. The
    ROBUST outlier screen next to the parametric q_zscore_normalize /
    q_winsorize pair (fences don't move when the outliers themselves
    inflate the variance).

    Plan shape: quartiles in one grouped aggregate; the fence table
    (≤ flags rows) broadcasts back onto the fact for one counting pass
    — two scans total, no window over the fact.

    Determinism: exact interpolated percentiles (the q_agg_percentile
    precedent) rounded 6dp; fences are one exact-IEEE expression over
    those; outlier comparison is raw-parquet doubles vs identical
    fence values.
    """
    prep(spark)
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    q = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 6).alias("q1"),
        F.round(F.percentile("l_extendedprice", F.lit(0.75)), 6).alias("q3"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    fenced = q.select(
        "l_returnflag",
        "q1",
        "q3",
        "n",
        F.round(F.col("q1") - F.lit(1.5) * (F.col("q3") - F.col("q1")), 6).alias(
            "lo_fence"
        ),
        F.round(F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1")), 6).alias(
            "hi_fence"
        ),
    )
    return (
        li.join(F.broadcast(fenced), "l_returnflag")
        .groupBy("l_returnflag", "q1", "q3", "lo_fence", "hi_fence", "n")
        .agg(
            F.sum(
                F.when(
                    (F.col("l_extendedprice") < F.col("lo_fence"))
                    | (F.col("l_extendedprice") > F.col("hi_fence")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
    )
