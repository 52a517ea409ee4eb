"""Round-4 analytics + pipeline breadth: TPC-H Q1 pricing summary,
event funnel, retention cohorts, log2 length histogram, per-source quota
sampling, token-distribution entropy. All oracle-gated.

Float discipline: every aggregated double goes through the decimal-exact
compat layer (``functions/compat.py``) or is a per-row deterministic
expression rounded before an exact decimal sum — the driver's value-hash
demands bit-identical doubles, and Spark/DuckDB ``log2`` already differ
by 1 ulp on ~28% of rationals (measured), so no raw float ever reaches
an order-sensitive aggregate here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modevetl_spark.functions.compat import (
    davg,
    sql_davg,
    sql_tavg,
    sql_tsum,
    tavg,
    tsum,
)
from modevetl_spark.operators.text import tokens
from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()

DEC = "decimal(18,6)"


_Q1_ORACLE = f"""
SELECT l_returnflag,
       l_linestatus,
       {sql_tsum("l_quantity", "sum_qty")},
       {sql_tsum("l_extendedprice", "sum_base_price")},
       ROUND(CAST(SUM(CAST(TRY_CAST(l_extendedprice AS DECIMAL(18,6)) AS DECIMAL(19,6))
                      * CAST(TRY_CAST(1 - l_discount AS DECIMAL(18,6)) AS DECIMAL(19,6)))
                  AS DOUBLE), 2) AS sum_disc_price,
       ROUND(CAST(SUM(CAST(TRY_CAST(l_extendedprice AS DECIMAL(18,6)) AS DECIMAL(19,6))
                      * CAST(TRY_CAST((1 - l_discount) * (1 + l_tax)
                                      AS DECIMAL(18,6)) AS DECIMAL(19,6)))
                  AS DOUBLE), 2) AS sum_charge,
       {sql_tavg("l_quantity", "avg_qty")},
       {sql_tavg("l_extendedprice", "avg_price")},
       {sql_tavg("l_discount", "avg_disc")},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01'
GROUP BY l_returnflag, l_linestatus
"""


@q("q_tpch_pricing_summary", oracle_sql=_Q1_ORACLE)
def tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+: TPC-H Q1 pricing summary report — the canonical wide
    multi-measure scan→agg. One shuffle on a 6-value group key with full
    map-side partial aggregation; the shipdate filter and 7-column
    projection push to the parquet scan. The (1-disc)*(1+tax) factor is
    computed in double (deterministic per-row, exact decimal value has
    ≤4 dp so the nearest double is far from any 6-dp rounding boundary)
    then cast to decimal for the exact order-insensitive sum."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    charge_factor = (
        (F.lit(1) - F.col("l_discount")) * (F.lit(1) + F.col("l_tax"))
    ).try_cast(DEC)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            tsum("l_quantity").alias("sum_qty"),
            tsum("l_extendedprice").alias("sum_base_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").try_cast(DEC)
                    * (F.lit(1) - F.col("l_discount")).try_cast(DEC)
                ).cast("double"),
                2,
            ).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice").try_cast(DEC) * charge_factor).cast(
                    "double"
                ),
                2,
            ).alias("sum_charge"),
            tavg("l_quantity").alias("avg_qty"),
            tavg("l_extendedprice").alias("avg_price"),
            tavg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_FUNNEL_ORACLE = """
WITH s1 AS (
    SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
    FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
    FROM events e JOIN s1 USING (user_id)
    WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > s1.t1
    GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
    FROM events e JOIN s2 USING (user_id)
    WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t2
    GROUP BY e.user_id
)
SELECT stage, n_users FROM (
    SELECT 1 AS ord, 'view' AS stage, COUNT(*) AS n_users FROM s1
    UNION ALL
    SELECT 2, 'view>click', COUNT(*) FROM s2
    UNION ALL
    SELECT 3, 'view>click>purchase', COUNT(*) FROM s3
) ORDER BY ord
"""


@q("q_funnel_conversion", oracle_sql=_FUNNEL_ORACLE)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: strictly-ordered conversion funnel (view → click → purchase,
    each step after the previous user's step time) — the product-analytics
    staple the reference's dashboard queries fed.

    Scale shape (r14, guide §2.1/§2.4): ONE user_id exchange total. The
    former per-stage aggregate+join chain re-shuffled the fact on the
    SAME key seven times (3 hash aggs + 2 joins + their re-exchanges);
    now the three stage times are stacked same-partition-key windows —
    t1 = min view ts, t2 = min click ts strictly after t1, t3 = min
    purchase ts strictly after t2 — planned as consecutive WindowExec
    nodes over a single Exchange+Sort, followed by a groupBy(user_id)
    that reuses that partitioning (no new exchange) and a 1-row global
    count rollup stacked to the 3 output rows.

    Exact-equivalence notes (pinned by the tie/null differential in
    tests/test_differentials.py::test_funnel_window_form_matches_join_form):

    - strict ``>`` at each step is preserved verbatim, so ties at a
      stage boundary (click at exactly t1) stay excluded;
    - a NULL user_id forms its own window partition and counts toward
      stage 1 (the old groupBy kept a null group) but never toward
      stages 2/3 (the old equi-joins dropped it) — hence the
      ``user_id IS NOT NULL`` guard on n2/n3 only;
    - stage 1 counts users with ≥1 view EVENT (even all-NULL view
      timestamps — the old COUNT(*) counted the group row), so n1
      counts a has-view indicator, not t1;
    - within stages 2/3 every contributing ts is non-NULL (a NULL ts
      never passes ``>``), so t2/t3 non-NULL ⟺ membership in the old
      s2/s3."""
    prep(spark)
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    enr = (
        ev.withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = enr.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", F.lit(1))).alias("has_view"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
    )
    counts = per_user.agg(
        F.count("has_view").alias("n1"),
        F.count(F.when(F.col("user_id").isNotNull(), F.col("t2"))).alias("n2"),
        F.count(F.when(F.col("user_id").isNotNull(), F.col("t3"))).alias("n3"),
    )
    return (
        counts.selectExpr(
            "stack(3, 1, 'view', n1, 2, 'view>click', n2, "
            "3, 'view>click>purchase', n3) AS (ord, stage, n_users)"
        )
        .orderBy("ord")
        .select("stage", "n_users")
    )


_RETENTION_ORACLE = """
WITH firsts AS (
    SELECT user_id,
           CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS TIMESTAMP)
               AS cohort_week
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT e.user_id,
           f.cohort_week,
           CAST(date_diff('day', f.cohort_week,
                          CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP))
                               AS TIMESTAMP)) // 7 AS BIGINT) AS week_offset
    FROM events e JOIN firsts f USING (user_id)
)
SELECT cohort_week, week_offset, COUNT(*) AS n_users
FROM activity
GROUP BY cohort_week, week_offset
"""


@q("q_retention_cohorts", oracle_sql=_RETENTION_ORACLE)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: weekly retention cohorts — users bucketed by first-seen week,
    counted once per (cohort, week-offset) of later activity.

    Scale shape: one agg for first-seen, a user_id-co-partitioned join
    back to the fact, a distinct on (user, cohort, offset), and a final
    bounded-key agg. The firsts side is |users| rows — broadcast-eligible
    and AQE picks that at runtime."""
    prep(spark)
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


_HISTOGRAM_ORACLE = f"""
WITH b AS (
    SELECT n_chars, length(bin(n_chars)) AS nbits
    FROM documents WHERE n_chars > 0
)
SELECT CAST(1 AS BIGINT) << (nbits - 1) AS bucket_lo,
       (CAST(1 AS BIGINT) << nbits) - 1 AS bucket_hi,
       COUNT(*) AS n_docs,
       {sql_davg("n_chars", "avg_chars")}
FROM b
GROUP BY nbits
"""


@q("q_length_histogram", oracle_sql=_HISTOGRAM_ORACLE)
def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+: power-of-two document-length histogram (corpus profiling /
    chunk-size planning). The bucket is the integer bit-length of
    n_chars — computed on the binary string representation so both
    engines stay integer-exact (floor(log2(x)) in floats misbuckets
    exact powers of two). Shuffle key is ~30 buckets."""
    prep(spark)
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    nbits = F.length(F.conv(F.col("n_chars").cast("string"), 10, 2))
    return (
        d.select("n_chars", nbits.alias("nbits"))
        .groupBy("nbits")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg("n_chars").alias("avg_chars"),
        )
        .select(
            # PySpark's shiftleft() only takes a python-int bit count;
            # the SQL form accepts a column expression.
            F.expr("shiftleft(CAST(1 AS BIGINT), nbits - 1)").alias("bucket_lo"),
            F.expr("shiftleft(CAST(1 AS BIGINT), nbits) - 1").alias("bucket_hi"),
            "n_docs",
            "avg_chars",
        )
    )


_QUOTA_ORACLE = """
SELECT source, doc_id, rn FROM (
    SELECT source, doc_id,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5('quota:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS rn
    FROM documents
)
WHERE rn <= 5
"""


@q("q_domain_quota_sample", oracle_sql=_QUOTA_ORACLE)
def domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+: per-source quota sampling — keep at most K docs per source,
    chosen by a deterministic keyed hash (the per-domain cap step of a
    crawl-mix recipe; same pure-function-of-key discipline as
    q_sample_hash, so the sample is partition- and rerun-invariant).

    Scale shape: one shuffle on source for the window; for skewed domain
    histograms the WindowGroupLimit pushdown keeps per-partition state at
    K rows. No global sort."""
    prep(spark)
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("quota:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
    )


_ENTROPY_ORACLE = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                              x -> x <> '')) AS tok
    FROM documents
),
counts AS (
    SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
),
per_doc AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           SUM(CAST(ROUND(c * log2(CAST(c AS DOUBLE)), 9)
                    AS DECIMAL(18,9))) AS s
    FROM counts GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       ROUND(log2(CAST(n_tokens AS DOUBLE))
             - CAST(s AS DOUBLE) / n_tokens, 6) AS entropy
FROM per_doc
"""


@q("q_token_entropy", oracle_sql=_ENTROPY_ORACLE)
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+: per-document unigram Shannon entropy (low-entropy docs are
    boilerplate/spam; a C4/Gopher-family quality signal), via
    H = log2(n) − (Σ c·log2 c)/n.

    Float discipline: Spark and DuckDB log2 differ by 1 ulp on ~28% of
    rationals (measured), so each c·log2(c) term is rounded to 9 dp and
    accumulated as an exact decimal — the sum is association-free and the
    final 6-dp round absorbs the sub-1e-9 per-term residue. Scale shape:
    explode → (doc,token) hash agg with map-side combine → per-doc agg;
    both shuffles are hash-partitioned, no window, no UDF."""
    prep(spark)
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    term = F.round(
        F.col("c") * F.log2(F.col("c").cast("double")), 9
    ).cast("decimal(18,9)")
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(term).alias("s"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(
            F.log2(F.col("n_tokens").cast("double"))
            - F.col("s").cast("double") / F.col("n_tokens"),
            6,
        ).alias("entropy"),
    )


_TRANSITIONS_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
           ) AS prev_type
    FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
"""


@q("q_event_transitions", oracle_sql=_TRANSITIONS_ORACLE)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9: event-type transition matrix (first-order Markov counts over
    per-user event sequences, event_id tie-break for determinism) — the
    path-analysis primitive behind sankey/flow dashboards.

    Scale shape: one shuffle on user_id for the lag window, then a hash
    agg whose key domain is |event_types|² (bounded). The window carries
    two narrow columns."""
    prep(spark)
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


_ZSCORE_ORACLE = """
WITH stats AS (
    SELECT event_type,
           COUNT(value) AS n,
           ROUND(CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(value), 6) AS mean,
           ROUND(sqrt(greatest(
               (CAST(SUM(CAST(TRY_CAST(value AS DECIMAL(18,6)) AS DECIMAL(19,6))
                         * CAST(TRY_CAST(value AS DECIMAL(18,6)) AS DECIMAL(19,6))) AS DOUBLE)
                - CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                  * CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                  / COUNT(value))
               / COUNT(value), 0)), 6) AS std
    FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       CASE WHEN s.std > 0
            THEN ROUND((e.value - s.mean) / s.std, 6) END AS z
FROM events e JOIN stats s USING (event_type)
WHERE e.value IS NOT NULL
"""


@q("q_zscore_normalize", oracle_sql=_ZSCORE_ORACLE)
def zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: per-group z-score normalization (feature scaling before
    training). Group mean and population std come from decimal-exact
    Σx / Σx² (order-insensitive), rounded to 6 dp BEFORE the per-row
    (x−mean)/std — so every engine computes the identical double per row.

    Scale shape: one bounded-key agg, then the |groups|-row stats table
    broadcasts back onto the fact — no second fact shuffle."""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    # try_cast fold (TRY_CAST in the oracle, widened to (19,6) for
    # DuckDB's non-widening multiply): a raw decimal cast aborts the
    # whole job on one 1e300 row; out-of-range values fold to NULL on
    # both engines while n keeps counting every non-NULL raw value
    v = F.col("value").try_cast(DEC)
    # count("value")-based divisions guard on >0: an all-NULL group would
    # raise under Spark ANSI where DuckDB's SUM/COUNT yields NULL
    stats = ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.when(
            F.count("value") > 0,
            F.round(F.sum(v).cast("double") / F.count("value"), 6),
        ).alias("mean"),
        # greatest(·, 0) clamps the catastrophic-cancellation residue a
        # constant-valued group leaves after the double casts (~-1e-18):
        # DuckDB's sqrt raises on negatives while Spark returns NaN, so
        # without the clamp the oracle errors instead of comparing.
        F.when(
            F.count("value") > 0,
            F.round(
                F.sqrt(
                    F.greatest(
                        (
                            F.sum(v * v).cast("double")
                            - F.sum(v).cast("double")
                            * F.sum(v).cast("double")
                            / F.count("value")
                        )
                        / F.count("value"),
                        F.lit(0.0),
                    )
                ),
                6,
            ),
        ).alias("std"),
    )
    return (
        ev.filter(F.col("value").isNotNull())
        .join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            # constant-valued group -> std 0 -> z undefined: NULL on both
            # engines (Spark ANSI raises on /0 where DuckDB yields NULL)
            F.when(
                F.col("std") > 0,
                F.round((F.col("value") - F.col("mean")) / F.col("std"), 6),
            ).alias("z"),
        )
    )


_WINSORIZE_ORACLE = """
WITH bounds AS (
    SELECT event_type,
           ROUND(quantile_cont(value, 0.05), 6) AS lo,
           ROUND(quantile_cont(value, 0.95), 6) AS hi
    FROM events GROUP BY event_type
),
clipped AS (
    SELECT e.event_type,
           CASE WHEN e.value < b.lo THEN 1 ELSE 0 END AS is_lo,
           CASE WHEN e.value > b.hi THEN 1 ELSE 0 END AS is_hi,
           LEAST(GREATEST(e.value, b.lo), b.hi) AS cv
    FROM events e JOIN bounds b USING (event_type)
    WHERE e.value IS NOT NULL
)
SELECT event_type,
       CAST(SUM(is_lo) AS BIGINT) AS n_clipped_lo,
       CAST(SUM(is_hi) AS BIGINT) AS n_clipped_hi,
       ROUND(CAST(SUM(TRY_CAST(cv AS DECIMAL(18,6))) AS DOUBLE), 2)
           AS winsorized_sum
FROM clipped GROUP BY event_type
"""


@q("q_winsorize", oracle_sql=_WINSORIZE_ORACLE)
def winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: winsorized statistics — clip each group's values at its exact
    [P5, P95] (outlier taming before aggregation; percentile bounds
    rounded to 6 dp so both engines clip against identical doubles, then
    the clipped sum is decimal-exact).

    Scale shape: exact per-group percentile is one shuffle (the 100 TB
    swap is percentile_approx, same plan otherwise); the bounds table is
    |groups| rows and broadcasts back — the fact never shuffles twice."""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.05)), 6).alias("lo"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("hi"),
    )
    clipped = (
        ev.filter(F.col("value").isNotNull())
        .join(F.broadcast(bounds), "event_type")
        .select(
            "event_type",
            (F.col("value") < F.col("lo")).cast("long").alias("is_lo"),
            (F.col("value") > F.col("hi")).cast("long").alias("is_hi"),
            F.least(F.greatest("value", F.col("lo")), F.col("hi")).alias("cv"),
        )
    )
    return clipped.groupBy("event_type").agg(
        F.sum("is_lo").alias("n_clipped_lo"),
        F.sum("is_hi").alias("n_clipped_hi"),
        # try convention (r13 inline-fold cohort): cv is bounded only by
        # the DATA's own [P5, P95] — a heavily-poisoned distribution puts
        # 1e300 in the bounds themselves, so the seam must NULL, not abort
        F.round(F.sum(F.col("cv").try_cast(DEC)).cast("double"), 2).alias(
            "winsorized_sum"
        ),
    )


_COHESION_ORACLE = """
WITH e AS (
    SELECT vec_id, label, CAST(u.pos AS BIGINT) AS pos,
           ROUND(CAST(embedding[u.pos] AS DOUBLE), 7) AS v
    FROM embeddings,
         LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS pos) u
),
cent AS (
    SELECT label, pos,
           ROUND(CAST(SUM(TRY_CAST(v AS DECIMAL(18,7))) AS DOUBLE)
                 / COUNT(*), 6) AS c
    FROM e GROUP BY label, pos
),
cnorm AS (
    SELECT label,
           CAST(SUM(TRY_CAST(ROUND(c * c, 12) AS DECIMAL(28,12))) AS DOUBLE)
               AS c2
    FROM cent GROUP BY label
),
per_vec AS (
    SELECT e.vec_id, e.label,
           CAST(SUM(TRY_CAST(ROUND(e.v * cent.c, 12) AS DECIMAL(28,12)))
                AS DOUBLE) AS dot,
           CAST(SUM(TRY_CAST(ROUND(e.v * e.v, 12) AS DECIMAL(28,12)))
                AS DOUBLE) AS e2
    FROM e JOIN cent ON e.label = cent.label AND e.pos = cent.pos
    GROUP BY e.vec_id, e.label
),
cos AS (
    SELECT p.label,
           CASE WHEN p.e2 > 0 AND n.c2 > 0
                THEN ROUND(p.dot / sqrt(p.e2 * n.c2), 6) END AS cos_c
    FROM per_vec p JOIN cnorm n USING (label)
)
SELECT label,
       COUNT(*) AS n_vecs,
       (SELECT ROUND(sqrt(c2), 6) FROM cnorm WHERE cnorm.label = cos.label)
           AS centroid_norm,
       CASE WHEN COUNT(cos_c) > 0
            THEN ROUND(CAST(SUM(TRY_CAST(cos_c AS DECIMAL(18,6))) AS DOUBLE)
                       / COUNT(cos_c), 6) END AS mean_cos,
       MIN(cos_c) AS min_cos
FROM cos
GROUP BY label
"""


@q("q_embedding_cohesion", oracle_sql=_COHESION_ORACLE)
def embedding_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4+: per-label cluster cohesion — centroid L2 norm plus mean/min
    cosine of members to their centroid (low cohesion flags mislabeled or
    multi-modal clusters before they poison an IVF index whose cells
    assume tight clusters).

    Float discipline: float32 components round to 7 dp (beyond float
    precision, so lossless) and every sum — centroid components, dot
    products, squared norms, cosine means — is a per-term-rounded DECIMAL
    accumulation, association-free across partitioning. Scale shape:
    explode to (vec,pos) rows; centroid agg keys are |labels|×dims
    (bounded); the 640-row centroid broadcasts back; per-vec dot is a
    hash agg on vec_id. No window, no Python, no all-pairs."""
    prep(spark)
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos0", "val"),
    ).select(
        "vec_id",
        "label",
        # DuckDB's WITH ORDINALITY is 1-based; posexplode is 0-based
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("val").cast("double"), 7).alias("v"),
    )
    # try convention at every fold seam (r13 inline-fold cohort): a
    # float32 component can reach ~3.4e38 — outside (18,7), and its
    # square outside (28,12) — so one hostile embedding row would abort
    # the raw casts; each seam NULLs instead, mirrored in the oracle
    cent = e.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("v").try_cast("decimal(18,7)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    d12 = "decimal(28,12)"
    cnorm = cent.groupBy("label").agg(
        F.sum(F.round(F.col("c") * F.col("c"), 12).try_cast(d12))
        .cast("double")
        .alias("c2")
    )
    per_vec = (
        e.join(F.broadcast(cent), on=["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.round(F.col("v") * F.col("c"), 12).try_cast(d12))
            .cast("double")
            .alias("dot"),
            F.sum(F.round(F.col("v") * F.col("v"), 12).try_cast(d12))
            .cast("double")
            .alias("e2"),
        )
    )
    # cosine is undefined for a zero vector or a degenerate (zero-norm)
    # centroid: emit NULL — DuckDB's x/0.0 is NULL but Spark's ANSI mode
    # raises, so the guard must be explicit on both engines
    cos = per_vec.join(F.broadcast(cnorm), "label").select(
        "label",
        F.when(
            (F.col("e2") > 0) & (F.col("c2") > 0),
            F.round(F.col("dot") / F.sqrt(F.col("e2") * F.col("c2")), 6),
        ).alias("cos_c"),
    )
    return (
        cos.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.when(
                F.count("cos_c") > 0,
                F.round(
                    F.sum(F.col("cos_c").try_cast(DEC)).cast("double")
                    / F.count("cos_c"),
                    6,
                ),
            ).alias("mean_cos"),
            F.min("cos_c").alias("min_cos"),
        )
        .join(
            F.broadcast(
                cnorm.select(
                    "label", F.round(F.sqrt("c2"), 6).alias("centroid_norm")
                )
            ),
            "label",
        )
        .select("label", "n_vecs", "centroid_norm", "mean_cos", "min_cos")
    )
