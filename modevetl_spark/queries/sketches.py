"""Mergeable sketches: quantile, cardinality, frequency and membership
summaries whose whole state replays in SQL, so each estimate is graded
as data beside the exact value it approximates.

- ``q_sketch_quantiles`` — quantiles from a fixed-width histogram sketch.
- ``q_sketch_merge_quantiles`` — mergeable rank-sample quantile sketch.
- ``q_sketch_group_quantiles`` — the rank-sample sketch per group.
- ``q_sketch_distinct_kmv`` — K-minimum-values distinct count.
- ``q_sketch_group_distinct`` — KMV distinct count per group.
- ``q_sketch_hll`` — deterministic HyperLogLog distinct count.
- ``q_sketch_jaccard_kmv`` — Jaccard of two sources from their KMV sketches.
- ``q_sketch_countmin`` — Count-Min point-query audit.
- ``q_heavy_hitters_grouped`` — per-group Misra–Gries heavy hitters.
- ``q_filter_bloom`` — Bloom-filter semi-join pruning and its error budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()


# --- Mergeable histogram quantile sketch (bounds oracle) ----------------

_SKETCH_Q_ORACLE = """
WITH stats AS (
    SELECT MIN(l_extendedprice) AS mn,
           CAST(COUNT(*) AS BIGINT) AS n,
           (MAX(l_extendedprice) - MIN(l_extendedprice))
               / CAST(1024 AS DOUBLE) AS width
    FROM lineitem
),
hist AS (
    SELECT CASE WHEN s.width > 0
                THEN CAST(LEAST(FLOOR((l.l_extendedprice - s.mn) / s.width),
                                CAST(1023 AS DOUBLE)) AS BIGINT)
                ELSE 0 END AS bucket,
           COUNT(*) AS cnt
    FROM lineitem l, stats s
    GROUP BY 1
),
cum AS (SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS cum FROM hist),
probs AS (
    SELECT UNNEST(['p50', 'p90', 'p99']) AS p_label,
           UNNEST([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                   CAST(0.99 AS DOUBLE)]) AS p
),
tgt AS (
    SELECT p.p_label, CAST(CEIL(p.p * s.n) AS BIGINT) AS target,
           s.mn, s.width, s.n
    FROM probs p, stats s
),
est AS (
    SELECT t.p_label, t.target, t.mn, t.width, t.n,
           MIN(c.bucket) AS est_bucket
    FROM tgt t JOIN cum c ON c.cum >= t.target
    GROUP BY 1, 2, 3, 4, 5
),
chk AS (
    SELECT e.p_label,
           COUNT(CASE WHEN l.l_extendedprice
                           <= e.mn + (e.est_bucket + 2) * e.width
                      THEN 1 END) AS cnt_le_hi,
           COUNT(CASE WHEN l.l_extendedprice
                           <  e.mn + (e.est_bucket - 1) * e.width
                      THEN 1 END) AS cnt_lt_lo
    FROM lineitem l, est e
    GROUP BY 1
)
SELECT e.p_label, e.n, e.est_bucket,
       (c.cnt_le_hi >= e.target AND c.cnt_lt_lo < e.target) AS bounds_ok
FROM est e JOIN chk c ON c.p_label = e.p_label
"""


@q("q_sketch_quantiles", oracle_sql=_SKETCH_Q_ORACLE)
def sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 scale path [EXT]: quantiles from a mergeable fixed-width
    histogram sketch — p50/p90/p99 of ``l_extendedprice`` located to a
    bucket of a K=1024 equi-width histogram, with a rank-check bounds
    verdict. The exact-quantile operators (``q_agg_percentile``,
    ``q_hist_equidepth``) pay a data-sized sort/range-exchange; the
    sketch never sorts the data: quantile error is bounded a priori by
    one bucket width, the classic accuracy-for-shuffle trade.

    Deterministic cross-engine by construction (no sketch internals to
    diverge): min/max/count are order-free, the bucket id is
    ``floor((v-mn)/width)`` — two exact-IEEE ops both engines evaluate
    identically — and the estimate is an integer cumulative walk.

    BOUNDS-ORACLE (the q_agg_approx_sketches pattern): ``bounds_ok``
    asserts the exact p-quantile's rank lands inside the estimated
    bucket ±1 bucket of slack, via counts of raw values against the
    bucket's widened edges — an independent path from the bucket
    assignment (edge arithmetic ``mn + b·width`` vs the floor
    division), recomputed identically by the DuckDB oracle rather than
    asserted as a literal. ``n`` and ``est_bucket`` are hash-graded
    integers.

    Plan shape (``operators/sketches.histogram_quantiles``): three fact
    scans, each a map-side-combined aggregate with NO data shuffle —
    (1) the one-row min/max/count, (2) the ≤K-row bucket histogram
    (hash agg on a derived int key), (3) the 3-row verification count
    against broadcast bucket edges. The cumulative walk runs on the
    ≤1024-row histogram through ``global_running`` (range-exchange
    machinery — bounded input, and keeps the registry-wide
    no-global-window gate clean); estimates and targets ride
    one-row/3-row broadcast cross joins (the Q22 scalar pattern). At
    100 TB: scans stream, every exchange is bounded by K or |probs|."""
    from modevetl_spark.operators.sketches import histogram_quantiles

    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    return histogram_quantiles(
        li,
        "l_extendedprice",
        [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)],
        k=1024,
    )


# --- Mergeable rank-sample quantile sketch (full replay + bounds) -------

_SK_EPS = 0.02  # rank-error budget as a fraction of n
_SK_P = 32  # sketch cells (deterministic hash partitions)

_MERGE_Q_ORACLE = f"""
WITH src AS (
    SELECT o_orderkey, o_totalprice AS v,
           CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                AS BIGINT) % {_SK_P} AS pid
    FROM orders
),
numbered AS (
    SELECT pid, v, o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY pid ORDER BY v, o_orderkey) AS rn,
           COUNT(*) OVER (PARTITION BY pid) AS n_p
    FROM src
),
kept AS (
    SELECT v, o_orderkey, LEAST(step, n_p - rn + 1) AS w
    FROM (SELECT *,
                 GREATEST(1, CAST(FLOOR(CAST({_SK_EPS} AS DOUBLE) * n_p)
                                  AS BIGINT)) AS step
          FROM numbered)
    WHERE (rn - 1) % step = 0
),
cum AS (SELECT v, SUM(w) OVER (ORDER BY v, o_orderkey) AS cum FROM kept),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
probs AS (
    SELECT UNNEST(['p10', 'p50', 'p90', 'p99']) AS p_label,
           UNNEST([CAST(0.10 AS DOUBLE), CAST(0.50 AS DOUBLE),
                   CAST(0.90 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS p
),
tgt AS (
    SELECT p.p_label, CAST(CEIL(p.p * t.n) AS BIGINT) AS target, t.n
    FROM probs p, tot t
),
est AS (
    SELECT t.p_label, t.target, t.n, MIN(c.v) AS est
    FROM tgt t JOIN cum c ON c.cum >= t.target
    GROUP BY 1, 2, 3
),
chk AS (
    SELECT e.p_label,
           CAST(COUNT(CASE WHEN o.o_totalprice < e.est THEN 1 END)
                AS BIGINT) AS rank_lo,
           CAST(COUNT(CASE WHEN o.o_totalprice <= e.est THEN 1 END)
                AS BIGINT) AS rank_hi
    FROM orders o, est e GROUP BY 1
)
SELECT e.p_label, e.n, e.est, c.rank_lo, c.rank_hi,
       (c.rank_lo < e.target
        AND c.rank_hi >= e.target
            - CAST(FLOOR(CAST({_SK_EPS} AS DOUBLE) * e.n) AS BIGINT))
           AS bounds_ok
FROM est e JOIN chk c USING (p_label)
"""


@q("q_sketch_merge_quantiles", oracle_sql=_MERGE_Q_ORACLE)
def sketch_merge_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 scale path [EXT]: MERGEABLE deterministic quantile sketch with
    a provable rank bound — p10/p50/p90/p99 of ``o_totalprice`` from a
    systematic rank sample per deterministic hash cell (the
    Munro–Paterson/MRL family; see module docstring for why this
    deterministic member stands in for KLL/t-digest here).

    The sketch: rows hash (shared md5) into P={P} cells; each cell
    sorts its n_p rows by ``(v, key)`` and keeps every step-th row
    (step = max(1, ⌊ε·n_p⌋), ε={EPS}) with weight = the size of the
    rank block it represents (weights sum to n_p exactly). Cell
    sketches MERGE by union — the estimate is the minimum kept value
    whose merged cumulative weight reaches target = ⌈q·n⌉.

    Rank guarantee (each kept row is the MINIMUM of its rank block, so
    a block only ever straddles a value threshold upward, at most one
    block per cell): count(v < est) < target exactly, and
    count(v ≤ est) ≥ target − Σ(step_p − 1) ≥ target − ⌊ε·n⌋. The
    output carries the exact ranks (``rank_lo``/``rank_hi``, one
    verification scan) and the ``bounds_ok`` verdict; DuckDB replays
    the ENTIRE sketch — cells, compaction, merge, estimate — so est
    itself is hash-graded, not just bounds-checked.

    Plan shape: the per-cell number/count windows partition by the hash
    cell (balanced, never global); the kept sketch is ≤ P·(1/ε + 1)
    rows (~{SZ} here) — a config-bounded relation — so its cumulative
    merge runs through ``operators/ranking.global_running``; targets
    and estimates ride one-row/4-row broadcast crossJoins (the Q22
    scalar pattern), and verification is one more streamed fact scan
    with map-side combine to 4 groups. At 100 TB: two fact scans + one
    bounded exchange; the sketch is also the INCREMENTAL shape — new
    partitions sketch independently and merge by union."""
    from modevetl_spark.operators.ranking import global_running

    prep(spark)
    o = load(spark, sf_dir, "orders")
    pid = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % _SK_P
    )
    src = o.select("o_orderkey", F.col("o_totalprice").alias("v"), pid.alias("pid"))
    w_rank = Window.partitionBy("pid").orderBy("v", "o_orderkey")
    w_cell = Window.partitionBy("pid")
    numbered = src.select(
        "pid",
        "v",
        "o_orderkey",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_cell).alias("n_p"),
    ).withColumn(
        "step",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(F.lit(_SK_EPS) * F.col("n_p")).cast("bigint"),
        ),
    )
    kept = numbered.where((F.col("rn") - 1) % F.col("step") == 0).select(
        "v",
        "o_orderkey",
        F.least(F.col("step"), F.col("n_p") - F.col("rn") + 1).alias("w"),
    )
    cum = global_running(kept, ["v", "o_orderkey"], sums={"cum": "w"})
    tot = o.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    probs = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lbl).alias("p_label"),
                        F.lit(p).cast("double").alias("p"),
                    )
                    for lbl, p in [
                        ("p10", 0.10),
                        ("p50", 0.50),
                        ("p90", 0.90),
                        ("p99", 0.99),
                    ]
                ]
            )
        ).alias("pr")
    ).select("pr.*")
    tgt = probs.crossJoin(F.broadcast(tot)).select(
        "p_label",
        F.ceil(F.col("p") * F.col("n")).cast("bigint").alias("target"),
        "n",
    )
    est = (
        cum.join(F.broadcast(tgt), F.col("cum") >= F.col("target"))
        .groupBy("p_label", "target", "n")
        .agg(F.min("v").alias("est"))
    )
    chk = (
        o.crossJoin(F.broadcast(est))
        .groupBy("p_label", "target", "n", "est")
        .agg(
            F.sum(F.when(F.col("o_totalprice") < F.col("est"), 1).otherwise(0))
            .cast("bigint")
            .alias("rank_lo"),
            F.sum(F.when(F.col("o_totalprice") <= F.col("est"), 1).otherwise(0))
            .cast("bigint")
            .alias("rank_hi"),
        )
    )
    slack = F.floor(F.lit(_SK_EPS) * F.col("n")).cast("bigint")
    return chk.select(
        "p_label",
        "n",
        "est",
        "rank_lo",
        "rank_hi",
        (
            (F.col("rank_lo") < F.col("target"))
            & (F.col("rank_hi") >= F.col("target") - slack)
        ).alias("bounds_ok"),
    )


sketch_merge_quantiles.__doc__ = sketch_merge_quantiles.__doc__.format(
    P=_SK_P, EPS=_SK_EPS, SZ=_SK_P * (int(1 / _SK_EPS) + 1)
)


# --- Grouped rank-quantile sketch (sketches as aggregation states) ------

_GSK_P = 8  # sketch cells per group

_GROUP_Q_ORACLE = f"""
WITH src AS (
    SELECT o_orderpriority AS grp, o_totalprice AS v, o_orderkey,
           CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                AS BIGINT) % {_GSK_P} AS pid
    FROM orders
),
numbered AS (
    SELECT grp, pid, v, o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY grp, pid ORDER BY v, o_orderkey)
               AS rn,
           COUNT(*) OVER (PARTITION BY grp, pid) AS n_p
    FROM src
),
kept AS (
    SELECT grp, v, o_orderkey, LEAST(step, n_p - rn + 1) AS w
    FROM (SELECT *,
                 GREATEST(1, CAST(FLOOR(CAST({_SK_EPS} AS DOUBLE) * n_p)
                                  AS BIGINT)) AS step
          FROM numbered)
    WHERE (rn - 1) % step = 0
),
cum AS (
    SELECT grp, v,
           SUM(w) OVER (PARTITION BY grp ORDER BY v, o_orderkey) AS cum
    FROM kept
),
tot AS (
    SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
),
probs AS (
    SELECT UNNEST(['p50', 'p95']) AS p_label,
           UNNEST([CAST(0.50 AS DOUBLE), CAST(0.95 AS DOUBLE)]) AS p
),
tgt AS (
    SELECT t.grp, p.p_label, CAST(CEIL(p.p * t.n) AS BIGINT) AS target, t.n
    FROM probs p, tot t
),
est AS (
    SELECT t.grp, t.p_label, t.target, t.n, MIN(c.v) AS est
    FROM tgt t JOIN cum c ON c.grp = t.grp AND c.cum >= t.target
    GROUP BY 1, 2, 3, 4
),
chk AS (
    SELECT e.grp, e.p_label,
           CAST(COUNT(CASE WHEN o.o_totalprice < e.est THEN 1 END)
                AS BIGINT) AS rank_lo,
           CAST(COUNT(CASE WHEN o.o_totalprice <= e.est THEN 1 END)
                AS BIGINT) AS rank_hi
    FROM orders o JOIN est e ON o.o_orderpriority = e.grp
    GROUP BY 1, 2
)
SELECT e.grp, e.p_label, e.n, e.est, c.rank_lo, c.rank_hi,
       (c.rank_lo < e.target
        AND c.rank_hi >= e.target
            - CAST(FLOOR(CAST({_SK_EPS} AS DOUBLE) * e.n) AS BIGINT))
           AS bounds_ok
FROM est e JOIN chk c ON c.grp = e.grp AND c.p_label = e.p_label
"""


@q("q_sketch_group_quantiles", oracle_sql=_GROUP_Q_ORACLE)
def sketch_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7++ grouped scale path [EXT]: the rank-sample quantile sketch as
    a GROUPED aggregation state — p50/p95 of ``o_totalprice`` per
    ``o_orderpriority``, one sketch per group, every guarantee of
    ``q_sketch_merge_quantiles`` held per group. This is the shape a
    100 TB pipeline actually runs (quantiles per tenant / per day / per
    source), and it falls out of the same machinery because the sketch
    is mergeable: a GROUP BY over sketches is just the per-group merge.

    Plan shape: cells key by (group, hash cell) so the number/count
    windows stay balanced; the kept relation is ≤ |groups|·P·(1/ε+1)
    rows (per cell: ≤ 1/ε+1 kept when n_p > 1/ε, else all n_p < 1/ε
    rows — so ≤ ~{SZ} per group here), which makes the per-group
    cumulative window config-bounded per partition — NOT data-sized —
    and the est/verify joins ride group-keyed broadcasts. Two fact
    scans + bounded exchanges, like the global sketch; the rank bound
    count(v < est) < target ≤ count(v ≤ est) + ⌊ε·n_g⌋ is verified per
    (group, prob) and carried as ``bounds_ok`` data. DuckDB replays the
    whole grouped sketch, so every estimate is hash-graded."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    pid = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % _GSK_P
    )
    src = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"),
        "o_orderkey",
        pid.alias("pid"),
    )
    w_rank = Window.partitionBy("grp", "pid").orderBy("v", "o_orderkey")
    w_cell = Window.partitionBy("grp", "pid")
    numbered = src.select(
        "grp",
        "v",
        "o_orderkey",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_cell).alias("n_p"),
    ).withColumn(
        "step",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(F.lit(_SK_EPS) * F.col("n_p")).cast("bigint"),
        ),
    )
    kept = numbered.where((F.col("rn") - 1) % F.col("step") == 0).select(
        "grp",
        "v",
        "o_orderkey",
        F.least(F.col("step"), F.col("n_p") - F.col("rn") + 1).alias("w"),
    )
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("v", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = kept.select("grp", "v", F.sum("w").over(w_cum).alias("cum"))
    tot = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    probs = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lbl).alias("p_label"),
                        F.lit(p).cast("double").alias("p"),
                    )
                    for lbl, p in [("p50", 0.50), ("p95", 0.95)]
                ]
            )
        ).alias("pr")
    ).select("pr.*")
    tgt = probs.crossJoin(F.broadcast(tot)).select(
        "grp",
        "p_label",
        F.ceil(F.col("p") * F.col("n")).cast("bigint").alias("target"),
        "n",
    )
    est = (
        cum.join(
            F.broadcast(tgt),
            (cum["grp"] == tgt["grp"]) & (F.col("cum") >= F.col("target")),
        )
        .drop(tgt["grp"])
        .groupBy("grp", "p_label", "target", "n")
        .agg(F.min("v").alias("est"))
    )
    chk = (
        o.join(
            F.broadcast(est), o["o_orderpriority"] == est["grp"]
        )
        .groupBy("grp", "p_label", "target", "n", "est")
        .agg(
            F.sum(F.when(F.col("o_totalprice") < F.col("est"), 1).otherwise(0))
            .cast("bigint")
            .alias("rank_lo"),
            F.sum(F.when(F.col("o_totalprice") <= F.col("est"), 1).otherwise(0))
            .cast("bigint")
            .alias("rank_hi"),
        )
    )
    slack = F.floor(F.lit(_SK_EPS) * F.col("n")).cast("bigint")
    return chk.select(
        "grp",
        "p_label",
        "n",
        "est",
        "rank_lo",
        "rank_hi",
        (
            (F.col("rank_lo") < F.col("target"))
            & (F.col("rank_hi") >= F.col("target") - slack)
        ).alias("bounds_ok"),
    )


sketch_group_quantiles.__doc__ = sketch_group_quantiles.__doc__.format(
    SZ=_GSK_P * (int(1 / _SK_EPS) + 1)
)


# --- Mergeable KMV distinct-count sketch (full replay + verdict) ---------

_KMV_K = 256

_KMV_ORACLE = f"""
WITH hashed AS (
    SELECT DISTINCT
           CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))
                AS BIGINT) AS h
    FROM lineitem WHERE l_orderkey IS NOT NULL
),
kmin AS (SELECT h FROM hashed ORDER BY h LIMIT {_KMV_K}),
hk AS (SELECT MAX(h) AS h_k, CAST(COUNT(*) AS BIGINT) AS k_got FROM kmin),
exact AS (
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
           CAST(COUNT(l_orderkey) AS BIGINT) AS n_rows
    FROM lineitem
),
est AS (
    SELECT hk.k_got AS k, exact.n_rows, hk.h_k,
           CASE WHEN hk.k_got < {_KMV_K} THEN CAST(hk.k_got AS DOUBLE)
                ELSE ROUND(CAST(hk.k_got - 1 AS DOUBLE)
                           * CAST(4294967296 AS DOUBLE)
                           / CAST(hk.h_k AS DOUBLE), 4)
           END AS est_distinct,
           exact.exact_distinct
    FROM hk, exact
)
SELECT k, n_rows, h_k, est_distinct, exact_distinct,
       ROUND(ABS(est_distinct - CAST(exact_distinct AS DOUBLE))
             / CAST(exact_distinct AS DOUBLE), 6) AS rel_err,
       (ROUND(ABS(est_distinct - CAST(exact_distinct AS DOUBLE))
              / CAST(exact_distinct AS DOUBLE), 6)
        <= 3.0 / sqrt(CAST({_KMV_K - 2} AS DOUBLE))) AS bounds_ok
FROM est
"""


@q("q_sketch_distinct_kmv", oracle_sql=_KMV_ORACLE)
def sketch_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 scale path [EXT]: MERGEABLE distinct-count sketch —
    K-minimum-values (k={K}) over ``lineitem.l_orderkey``, completing
    the mergeable-sketch family (Misra–Gries heavy hitters, the rank /
    histogram quantile sketches, now cardinality). HyperLogLog
    (``approx_count_distinct``) is the built-in answer but its estimate
    is not replayable by a second engine; KMV carries the same
    mergeability (union the value sets, re-take the k smallest — state
    ≤ k values regardless of data size) while being a pure function of
    the shared md5-prefix hash, so DuckDB replays the ENTIRE sketch —
    hash, k-min set, estimator — and the estimate itself is
    hash-graded, not just bounds-checked.

    Estimator (Bar-Yossef et al. 2002): D̂ = (k−1)·2³²/h_k, relative
    standard error ≈ 1/√(k−2); the output carries the exact distinct
    count and a 3σ ``bounds_ok`` verdict as data (the recall-as-data
    convention). A non-full sketch is exact by rule.

    Plan shape (``operators/sketches.kmv_distinct``): the sketch pass
    is one bounded mapInPandas fold per partition (state ≤ 2k int64s,
    output ≤ k·P rows) behind an eager localCheckpoint — the plan the
    driver sees starts at the checkpointed ≤ k·P-row union, global
    k-min is a TakeOrderedAndProject over it, and the estimate is
    scalar arithmetic on a one-row broadcast. The exact-verify tier is
    the only distinct-key shuffle and exists to be graded; at 100 TB
    the sketch runs alone (two narrow fact scans total: hash pass +
    verify) and per-segment states merge by union instead of
    re-scanning — the same incremental story as the quantile sketch."""
    from modevetl_spark.operators.sketches import kmv_distinct

    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    return kmv_distinct(li, "l_orderkey", k=_KMV_K)


sketch_distinct_kmv.__doc__ = sketch_distinct_kmv.__doc__.format(K=_KMV_K)


# --- Grouped KMV distinct sketch (per-segment cardinality) --------------

_GKMV_K = 256

_GKMV_ORACLE = f"""
WITH hashed AS (
    SELECT DISTINCT o_orderpriority AS grp,
           CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))
                AS BIGINT) AS h
    FROM orders WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL
),
kmin AS (
    SELECT grp, h FROM hashed
    QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) <= {_GKMV_K}
),
hk AS (
    SELECT grp, MAX(h) AS h_k, CAST(COUNT(*) AS BIGINT) AS k_got
    FROM kmin GROUP BY 1
),
exact AS (
    SELECT o_orderpriority AS grp,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           CAST(COUNT(o_custkey) AS BIGINT) AS n_rows
    FROM orders WHERE o_orderpriority IS NOT NULL
    GROUP BY 1
),
est AS (
    SELECT hk.grp, hk.k_got AS k, e.n_rows, hk.h_k,
           CASE WHEN hk.k_got < {_GKMV_K} THEN CAST(hk.k_got AS DOUBLE)
                ELSE ROUND(CAST(hk.k_got - 1 AS DOUBLE)
                           * CAST(4294967296 AS DOUBLE)
                           / CAST(hk.h_k AS DOUBLE), 4)
           END AS est_distinct,
           e.exact_distinct
    FROM hk JOIN exact e ON e.grp = hk.grp
)
SELECT grp, k, n_rows, h_k, est_distinct, exact_distinct,
       ROUND(ABS(est_distinct - CAST(exact_distinct AS DOUBLE))
             / CAST(exact_distinct AS DOUBLE), 6) AS rel_err,
       (ROUND(ABS(est_distinct - CAST(exact_distinct AS DOUBLE))
              / CAST(exact_distinct AS DOUBLE), 6)
        <= 3.0 / sqrt(CAST({_GKMV_K - 2} AS DOUBLE))) AS bounds_ok
FROM est
"""


@q("q_sketch_group_distinct", oracle_sql=_GKMV_ORACLE)
def sketch_group_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9++ grouped scale path [EXT]: per-segment cardinality — distinct
    buying customers per order priority via one KMV sketch (k={K}) per
    group, the grouped face of ``q_sketch_distinct_kmv`` and the most
    common production cardinality ask (distinct users per day, distinct
    tokens per tenant). Every per-group contract is the flat one:
    full-replay (k−1)·2³²/h_k estimator, exact-verify tier, non-full
    sketch exact by rule (the sf0.001 fixture lands every group in the
    exact regime, sf0.01 in the estimator regime — both graded), 3σ
    ``bounds_ok`` verdict as data.

    Plan shape (``operators/sketches.kmv_distinct_grouped``): one
    grouped bounded fold per partition (≤ k·P·|groups| union rows)
    behind an eager localCheckpoint; per-group k-min is a
    group-partitioned rank window over the bounded union (balanced,
    never global); the exact tier's grouped count_distinct is the only
    distinct-key shuffle and exists to be graded. At 100 TB: segment
    cardinalities for every group from one narrow pass + a k-row state
    per group, merged by union across partitions/ticks."""
    from modevetl_spark.operators.sketches import kmv_distinct_grouped

    prep(spark)
    o = load(spark, sf_dir, "orders")
    return kmv_distinct_grouped(o, "o_orderpriority", "o_custkey", k=_GKMV_K)


sketch_group_distinct.__doc__ = sketch_group_distinct.__doc__.format(K=_GKMV_K)


# --- Deterministic HyperLogLog over lineitem part keys --------------------

_HLL_B = 6  # register-index bits
_HLL_M = 1 << _HLL_B  # 64 registers
_HLL_WBITS = 32 - _HLL_B  # 26-bit rank word
_HLL_ALPHA = 0.709  # alpha_64 (Flajolet et al. 2007, m = 64)

_HLL_ORACLE = f"""
WITH h AS (
    -- NULL keys carry no identity (COUNT DISTINCT semantics) — mirrors
    -- the engine-side .where(isNotNull) filter in hll_state; without it
    -- md5(NULL)=NULL yields a j=NULL register row that inflates n_regs
    -- while contributing nothing to s_hit.
    SELECT CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
                AS BIGINT) AS h32
    FROM lineitem
    WHERE l_partkey IS NOT NULL
),
jr AS (
    SELECT h32 // {1 << _HLL_WBITS} AS j,
           h32 % {1 << _HLL_WBITS} AS w
    FROM h
),
reg AS (
    SELECT j,
           MAX(CASE WHEN w = 0 THEN {_HLL_WBITS + 1}
                    ELSE {_HLL_WBITS + 1} - CAST(length(bin(w)) AS BIGINT)
               END) AS mj
    FROM jr GROUP BY 1
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_regs,
           SUM(CAST(1 AS DOUBLE)
               / CAST((CAST(1 AS BIGINT) << mj) AS DOUBLE)) AS s_hit
    FROM reg
),
ex AS (
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
    FROM lineitem
)
SELECT CAST({_HLL_M} AS BIGINT) AS m,
       s.n_regs,
       CAST({_HLL_M} - s.n_regs AS BIGINT) AS v_zeros,
       CAST({_HLL_M} - s.n_regs AS DOUBLE) + s.s_hit AS harmonic_sum,
       CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M} * {_HLL_M}
           / (CAST({_HLL_M} - s.n_regs AS DOUBLE) + s.s_hit) AS est_hll,
       ex.exact_distinct,
       (CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M} * {_HLL_M}
            / (CAST({_HLL_M} - s.n_regs AS DOUBLE) + s.s_hit)
        - ex.exact_distinct) / ex.exact_distinct AS rel_err,
       ABS(CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M} * {_HLL_M}
               / (CAST({_HLL_M} - s.n_regs AS DOUBLE) + s.s_hit)
           - ex.exact_distinct) / ex.exact_distinct
           <= {2 * 1.04} / sqrt({_HLL_M}) AS ok_2sigma
FROM s CROSS JOIN ex
"""


@q("q_sketch_hll", oracle_sql=_HLL_ORACLE)
def sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9++++ [EXT]: deterministic HyperLogLog (Flajolet–Fusy–Gandouet–
    Meunier 2007) distinct count of lineitem part keys, m={M}
    registers — the canonical production cardinality sketch beside the
    KMV estimator (q_sketch_distinct_kmv) and Spark's own opaque HLL++
    (q_agg_approx_sketches). Here the WHOLE sketch is replayable: the
    shared 32-bit md5 idiom splits into a {B}-bit register index j and
    a {W}-bit rank word w; the register rank is the leading-zero count
    rho = {W}+1 (w=0) else {W}+1 − length(bin(w)) — derived from BIT
    LENGTH (pure integer/string ops, both engines drop leading zeros),
    no transcendental at all; registers are a {M}-row max-aggregate.

    Float discipline: every harmonic term 2^−M[j] is computed as
    1.0 / (1 << M[j]) — an EXACT power of two (no pow(), the
    q_decayed_value rule) — and the sum of ≤{M} exact powers of two
    spanning 2^−{Wp1}..2^6 fits a 52-bit mantissa, so the harmonic sum
    is EXACT regardless of accumulation order: no decimal fold needed.
    The estimate α_m·m²/S is then a fixed tree of IEEE ops on exact
    inputs — bit-identical across engines, emitted raw (the round-7
    no-rounding lesson). Both fixture SFs sit in the raw-estimator
    regime (distinct ≥ 200 > 2.5m = 160), so the linear-counting
    small-range branch — whose ln() is NOT portable — never fires;
    v_zeros is emitted as data so the regime is itself graded. The
    estimator's 2σ band (2·1.04/√m ≈ 26%) is asserted as a verdict
    column, and exactness/mergeability (registers merge by elementwise
    max) are pinned by pytest.

    Plan shape: one streaming scan → {M}-row register max-aggregate
    (map-side combine collapses everything: the exchange carries at
    most {M} rows per task); the exact-verify tier is the one
    data-sized distinct and exists to be graded. At 100 TB the sketch
    path alone is a scan plus a {M}-row exchange — and the register
    table is the mergeable shard/stream state."""
    from modevetl_spark.operators.sketches import hll_state

    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    reg = hll_state(li, "l_partkey", b=_HLL_B)
    s = reg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_regs"),
        F.sum(
            F.lit(1.0) / F.expr("shiftleft(cast(1 as bigint), mj)").cast("double")
        ).alias("s_hit"),
    )
    ex = li.agg(
        F.count_distinct("l_partkey").cast("bigint").alias("exact_distinct")
    )
    m = F.lit(_HLL_M)
    harmonic = (m - F.col("n_regs")).cast("double") + F.col("s_hit")
    est = F.lit(_HLL_ALPHA) * m * m / harmonic
    rel = (est - F.col("exact_distinct")) / F.col("exact_distinct")
    return s.crossJoin(F.broadcast(ex)).select(
        m.cast("bigint").alias("m"),
        "n_regs",
        (m - F.col("n_regs")).cast("bigint").alias("v_zeros"),
        harmonic.alias("harmonic_sum"),
        est.alias("est_hll"),
        "exact_distinct",
        rel.alias("rel_err"),
        (
            F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct")
            <= F.lit(2 * 1.04) / F.sqrt(m.cast("double"))
        ).alias("ok_2sigma"),
    )


_doc = sketch_hll.__doc__
for _k, _v in (
    ("{M}", str(_HLL_M)),
    ("{B}", str(_HLL_B)),
    ("{W}", str(_HLL_WBITS)),
    ("{Wp1}", str(_HLL_WBITS + 1)),
):
    _doc = _doc.replace(_k, _v)
sketch_hll.__doc__ = _doc


# --- KMV set-operation Jaccard: sketch-path corpus overlap --------------

_J_K = 256
_J_A, _J_B = "src0", "src1"

_KMV_JACCARD_ORACLE = rf"""
WITH w AS (
    SELECT source,
           list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '') AS w
    FROM documents WHERE source IN ('{_J_A}', '{_J_B}')
),
sh AS (
    SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tok
    FROM w, UNNEST(range(1, GREATEST(len(w) - 1, 1))) AS t(i)
    WHERE i + 2 <= len(w)
),
h AS (
    SELECT DISTINCT source,
           CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
    FROM sh
),
ka AS (SELECT h FROM h WHERE source = '{_J_A}' ORDER BY h LIMIT {_J_K}),
kb AS (SELECT h FROM h WHERE source = '{_J_B}' ORDER BY h LIMIT {_J_K}),
m AS (
    SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
    ORDER BY h LIMIT {_J_K}
),
sk AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m_cnt,
           CAST(SUM(CASE WHEN h IN (SELECT h FROM ka)
                          AND h IN (SELECT h FROM kb)
                         THEN 1 ELSE 0 END) AS BIGINT) AS inter_sk
    FROM m
),
ex AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS union_exact,
           CAST(SUM(CASE WHEN n_src = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS inter_exact
    FROM (SELECT tok, COUNT(DISTINCT source) AS n_src FROM sh GROUP BY 1)
),
est AS (
    SELECT CAST({_J_K} AS BIGINT) AS k, sk.m_cnt, sk.inter_sk,
           CASE WHEN sk.m_cnt > 0
                THEN ROUND(CAST(sk.inter_sk AS DOUBLE) / sk.m_cnt, 6)
                ELSE CAST(0 AS DOUBLE) END AS j_est,
           ex.inter_exact, ex.union_exact,
           CASE WHEN ex.union_exact > 0
                THEN ROUND(CAST(ex.inter_exact AS DOUBLE) / ex.union_exact, 6)
                ELSE CAST(0 AS DOUBLE) END AS j_exact
    FROM sk, ex
)
SELECT k, m_cnt, inter_sk, j_est, inter_exact, union_exact, j_exact,
       ROUND(ABS(j_est - j_exact), 6) AS abs_err,
       (ROUND(ABS(j_est - j_exact), 6)
        <= 1.5 / sqrt(CAST({_J_K} AS DOUBLE))) AS bounds_ok
FROM est
"""


@q("q_sketch_jaccard_kmv", oracle_sql=_KMV_JACCARD_ORACLE)
def sketch_jaccard_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1++ sketch path [EXT]: corpus-overlap estimation WITHOUT
    shuffling either corpus's key space — Jaccard similarity between
    two sources' trigram-shingle vocabularies from their KMV sketches
    (the set-operation face of ``q_sketch_distinct_kmv``; Beyer et al.
    2007). ``q_dedup_source_overlap`` answers "which sources ship the
    same documents" exactly; this answers "how much does source A's
    CONTENT DISTRIBUTION overlap B's" with k-bounded state per source —
    the shape that screens all S² source pairs at 100 TB before any
    exact work, since per-source sketches are computed once (one fold
    each) and every pairwise estimate needs only two k-row sets.

    Estimator: with M the k smallest of S_A ∪ S_B (the MERGED sketch —
    a uniform sample of the union), Ĵ = |M ∩ S_A ∩ S_B| / |M|;
    additive 3σ error ≤ 3·√(J(1−J)/k) ≤ 1.5/√k, carried as the
    ``bounds_ok`` verdict next to the exact-tier Jaccard. A non-full
    merged sketch contains the whole union, making Ĵ exact by rule (no
    special case needed — the estimator degenerates correctly).

    Plan shape: shingles explode straight into the per-partition KMV
    fold (``operators/sketches.kmv_state`` dedupes as it goes — there
    is NO distinct-key shuffle on the sketch path, the explode feeds
    the fold pipelined); per-source k-min and the merged k-min are
    distinct+TakeOrdered over ≤ k·P-row checkpointed unions; membership
    is two broadcast semi-joins of k-row sets. The exact tier (one
    (source, shingle) distinct + one hash agg) is the only data-sized
    exchange and exists to be graded. Hash collisions fold into sketch
    error identically in both engines (both operate on the hash sets)."""
    from modevetl_spark.operators.sketches import kmv_state
    from modevetl_spark.operators.text import tokens, word_shingles

    prep(spark)
    d = load(spark, sf_dir, "documents").where(
        F.col("source").isin(_J_A, _J_B)
    )
    sh = d.select(
        "source", F.explode(word_shingles(tokens("text"), 3)).alias("tok")
    )
    hashed = sh.select(
        "source",
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h"),
    )

    def kmin(src: str):
        st = kmv_state(hashed.where(F.col("source") == src), _J_K)
        return (
            st.localCheckpoint(eager=True).distinct().orderBy("h").limit(_J_K)
        )

    ka, kb = kmin(_J_A), kmin(_J_B)
    merged = ka.unionByName(kb).distinct().orderBy("h").limit(_J_K)
    sk = (
        merged.join(F.broadcast(ka), "h", "left_semi")
        .join(F.broadcast(kb), "h", "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter_sk"))
        .crossJoin(
            F.broadcast(
                merged.agg(F.count(F.lit(1)).cast("bigint").alias("m_cnt"))
            )
        )
    )
    ex = (
        sh.distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_src"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("union_exact"),
            F.sum(F.when(F.col("n_src") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("inter_exact"),
        )
    )
    j_est = F.when(
        F.col("m_cnt") > 0,
        F.round(F.col("inter_sk").cast("double") / F.col("m_cnt"), 6),
    ).otherwise(F.lit(0.0))
    j_exact = F.when(
        F.col("union_exact") > 0,
        F.round(F.col("inter_exact").cast("double") / F.col("union_exact"), 6),
    ).otherwise(F.lit(0.0))
    out = (
        sk.crossJoin(F.broadcast(ex))
        .select(
            F.lit(_J_K).cast("bigint").alias("k"),
            "m_cnt",
            "inter_sk",
            j_est.alias("j_est"),
            "inter_exact",
            "union_exact",
            j_exact.alias("j_exact"),
        )
        .withColumn(
            "abs_err", F.round(F.abs(F.col("j_est") - F.col("j_exact")), 6)
        )
    )
    return out.withColumn(
        "bounds_ok",
        F.col("abs_err") <= F.lit(1.5) / F.sqrt(F.lit(float(_J_K))),
    )


# --- Count-Min sketch point-query audit ----------------------------------

_CM_W = 16
_CM_D = 4
_CM_K = 20

_CM_ORACLE = f"""
WITH toks AS (
    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents
),
cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
cm AS (
    SELECT u.j,
           CAST(('0x' || substr(md5(tok), 1 + 8 * u.j, 8)) AS BIGINT)
               % {_CM_W} AS b,
           CAST(SUM(c) AS BIGINT) AS mass
    FROM cnt, UNNEST([0, 1, 2, 3]) AS u(j)
    GROUP BY 1, 2
),
topk AS (
    SELECT tok, c FROM cnt
    QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, tok) <= {_CM_K}
),
probe AS (
    SELECT t.tok, t.c, u.j,
           CAST(('0x' || substr(md5(t.tok), 1 + 8 * u.j, 8)) AS BIGINT)
               % {_CM_W} AS b
    FROM topk t, UNNEST([0, 1, 2, 3]) AS u(j)
),
est AS (
    SELECT p.tok, p.c AS exact_cnt, CAST(MIN(cm.mass) AS BIGINT) AS est_cnt
    FROM probe p JOIN cm ON cm.j = p.j AND cm.b = p.b
    GROUP BY 1, 2
)
SELECT tok, exact_cnt, est_cnt,
       est_cnt - exact_cnt AS overest,
       ROUND(CAST((est_cnt - exact_cnt) * {_CM_W} AS DOUBLE)
             / (SELECT n FROM n), 6) AS rel_excess,
       (est_cnt >= exact_cnt) AS never_under
FROM est
"""


@q("q_sketch_countmin", oracle_sql=_CM_ORACLE)
def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2+++ sketch family [EXT]: Count-Min point-query audit — the
    linear frequency sketch (Cormode & Muthukrishnan 2005) next to the
    repo's Misra-Gries (heavy hitters), KMV (cardinality) and MRL
    (quantiles): d={D} md5-offset hash rows x w={W} buckets over the
    corpus token stream, point-queried at the exact top-{K} tokens.
    Output per token: exact count, CM estimate, the overestimate, its
    size in eps*N = N/w units (``rel_excess``), and the deterministic
    ``never_under`` verdict — CM can only OVERcount (a bucket holds the
    key's own mass plus collisions), and the oracle replays every
    bucket assignment bit-for-bit to prove it. All-integer arithmetic;
    the one division (rel_excess) is exact-IEEE on integer-valued
    doubles.

    Plan shape: ONE map-side-combined token aggregate (the only
    data-sized shuffle, materialized once behind a localCheckpoint and
    read by the state/top-k/total branches — at 100 TB this is the
    persisted count table); the CM state is <= d*w rows regardless of
    vocabulary and broadcasts to the probe join; top-k is
    TakeOrdered (bottom-k heaps, no global window); states from
    disjoint corpus shards MERGE by (j, b) addition — the linear-sketch
    property that makes CM the standing-tick/streaming choice where
    exact counting would shuffle the vocabulary every batch."""
    from modevetl_spark.operators._util import spread
    from modevetl_spark.operators.sketches import countmin_estimate, countmin_state
    from modevetl_spark.operators.text import tokens

    prep(spark)
    d = spread(load(spark, sf_dir, "documents"))
    cnt = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)  # state + top-k + total all read it
    )
    state = countmin_state(cnt, "tok", "c", w=_CM_W, d=_CM_D)
    topk = cnt.orderBy(F.col("c").desc(), "tok").limit(_CM_K)
    # est derives from the same checkpointed cnt as topk: rename its
    # key column so the join is not a self-join lineage hazard
    est = countmin_estimate(
        state, topk.select("tok"), "tok", w=_CM_W, d=_CM_D
    ).select(F.col("tok").alias("_tk"), "est_cnt")
    n = cnt.agg(F.sum("c").cast("bigint").alias("n"))
    return (
        topk.join(F.broadcast(est), F.col("tok") == F.col("_tk"))
        .crossJoin(F.broadcast(n))
        .select(
            "tok",
            F.col("c").alias("exact_cnt"),
            "est_cnt",
            (F.col("est_cnt") - F.col("c")).alias("overest"),
            F.round(
                ((F.col("est_cnt") - F.col("c")) * _CM_W).cast("double")
                / F.col("n"),
                6,
            ).alias("rel_excess"),
            (F.col("est_cnt") >= F.col("c")).alias("never_under"),
        )
    )


sketch_countmin.__doc__ = sketch_countmin.__doc__.format(
    D=_CM_D, W=_CM_W, K=_CM_K
)


# --- Grouped heavy hitters (per-group Misra-Gries + exact verify) -------

_HHG_K = 32
_HHG_DENOM = 30

_HH_GROUPED_ORACLE = f"""
WITH toks AS (
    SELECT lang,
           unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents WHERE lang IS NOT NULL
),
tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_grp FROM toks GROUP BY 1)
SELECT c.lang, c.tok, c.cnt,
       ROUND(CAST(c.cnt AS DOUBLE) / t.n_grp, 6) AS share
FROM (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1, 2) c
JOIN tot t ON t.lang = c.lang
WHERE c.cnt * {_HHG_DENOM} > t.n_grp
"""


@q("q_heavy_hitters_grouped", oracle_sql=_HH_GROUPED_ORACLE)
def heavy_hitters_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2++ grouped scale path [EXT]: per-LANGUAGE heavy-hitter tokens —
    every token whose in-language frequency exceeds n_lang/{D}, found by
    per-(partition, group) Misra–Gries summaries (k={K} counters per
    group) and exact-verified, completing the grouped-sketch trilogy
    (quantiles → cardinality → heavy hitters): a sketch is an
    aggregation state, so GROUP BY over sketches is per-group
    maintenance of the same bounded fold.

    Per-group guarantee (the flat pigeonhole applied within each
    group's substream): a token above n_g/{D} in group g exceeds
    n_{{p,g}}/(k+1) in some partition's g-slice, so it survives that
    slice's trim and reaches the verify pass — the output is the TRUE
    per-group heavy-hitter set with exact counts, independent of
    partitioning, hash-graded against the plain GROUP BY/HAVING oracle.

    Plan shape (``operators/sketches.heavy_hitters_grouped_exact``):
    the sketch pass is one mapInPandas fold (state ≤ 2k·|groups|
    counters, NO shuffle) behind an eager localCheckpoint; candidates
    (≤ k·P·|groups| rows) broadcast into the verify pass, which
    hash-aggregates candidate (lang, token) pairs only — the full
    per-language vocabulary is never shuffled. At 100 TB this is the
    per-tenant hot-key report: one stream pass + one broadcast-filtered
    aggregate, however many tenants."""
    from modevetl_spark.operators._util import spread
    from modevetl_spark.operators.sketches import heavy_hitters_grouped_exact
    from modevetl_spark.operators.text import tokens

    prep(spark)
    d = spread(load(spark, sf_dir, "documents"))
    stream = d.where(F.col("lang").isNotNull()).select(
        "lang", F.explode(tokens("text")).alias("tok")
    )
    return heavy_hitters_grouped_exact(
        stream, "lang", "tok", k=_HHG_K, denom=_HHG_DENOM
    )


heavy_hitters_grouped.__doc__ = heavy_hitters_grouped.__doc__.format(
    K=_HHG_K, D=_HHG_DENOM
)


# --- Explicit Bloom-filter semi-join pruning -----------------------------

_BLOOM_M = 8192

_BLOOM_ORACLE = f"""
WITH build AS (
    SELECT DISTINCT o_custkey AS ck FROM orders
    WHERE o_orderpriority = '1-URGENT'
),
bits AS (
    SELECT DISTINCT b FROM (
        SELECT CAST(('0x' || substr(md5(CAST(ck AS VARCHAR)), 1, 8))
                    AS BIGINT) % {_BLOOM_M} AS b FROM build
        UNION ALL
        SELECT CAST(('0x' || substr(md5(CAST(ck AS VARCHAR)), 9, 8))
                    AS BIGINT) % {_BLOOM_M} AS b FROM build
    )
),
probe AS (
    SELECT c_custkey AS ck,
           CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
                AS BIGINT) % {_BLOOM_M} AS h1,
           CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8))
                AS BIGINT) % {_BLOOM_M} AS h2
    FROM customer
),
pass AS (
    SELECT ck FROM probe
    WHERE h1 IN (SELECT b FROM bits) AND h2 IN (SELECT b FROM bits)
),
counts AS (
    SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM build) AS n_build,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_probe,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM probe
         WHERE ck IN (SELECT ck FROM build)) AS n_exact,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM pass) AS n_pass,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM probe
         WHERE ck IN (SELECT ck FROM build)
           AND ck NOT IN (SELECT ck FROM pass)) AS n_false_neg
)
SELECT CAST({_BLOOM_M} AS BIGINT) AS m, n_build, n_probe, n_exact, n_pass,
       n_pass - n_exact AS n_false_pos,
       CASE WHEN n_probe > n_exact
            THEN ROUND(CAST(n_pass - n_exact AS DOUBLE)
                       / (n_probe - n_exact), 6)
            ELSE CAST(0 AS DOUBLE) END AS fp_rate,
       (n_false_neg = 0) AS no_false_negatives
FROM counts
"""


@q("q_filter_bloom", oracle_sql=_BLOOM_ORACLE)
def filter_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4+ scale path [EXT]: explicit Bloom-filter semi-join pruning —
    the runtime-filter pattern with its error budget graded as data.
    Build side: custkeys holding URGENT orders fold to a bit-position
    set (two md5-derived hashes into m={M} bits — ≤ m rows no matter
    how many build keys, the whole point vs broadcasting the key set).
    Probe side: customers pass iff BOTH their bit positions are set.
    Output: the pruning ledger — build/probe/exact/passed counts, the
    false-positive count and rate, and the ``no_false_negatives``
    verdict (a Bloom filter may over-admit, it must never drop a true
    match; the oracle recomputes that guarantee from scratch).

    Plan shape: the bit set is a distinct over a 2·|build|-row
    projection, capped at m rows — broadcast to the probe as two
    semi-joins (the probe is scanned once, never shuffled); the exact
    tier is one hash semi-join and exists to be graded. At 100 TB this
    is what a join pre-filter looks like when the build side is too big
    to broadcast as keys but the probe side is too expensive to
    shuffle: m stays constant while |build| grows, and the measured
    fp_rate tells you when m needs another bit. Spark's AQE bloom
    runtime filters do this implicitly; here it is explicit, portable,
    and error-accounted."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")

    def h(col, start: int):
        return (
            F.conv(F.substring(F.md5(col.cast("string")), start, 8), 16, 10)
            .cast("bigint")
            % _BLOOM_M
        )

    build = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("ck"))
        .distinct()
    )
    bits = (
        build.select(h(F.col("ck"), 1).alias("b"))
        .unionByName(build.select(h(F.col("ck"), 9).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)  # consumed by two semi-joins
    )
    probe = c.select(
        F.col("c_custkey").alias("ck"),
        h(F.col("c_custkey"), 1).alias("h1"),
        h(F.col("c_custkey"), 9).alias("h2"),
    )
    passed = (
        probe.join(
            F.broadcast(bits.withColumnRenamed("b", "h1")), "h1", "left_semi"
        )
        .join(F.broadcast(bits.withColumnRenamed("b", "h2")), "h2", "left_semi")
        .select("ck")
        .localCheckpoint(eager=True)  # counted AND anti-probed below
    )
    exact = probe.join(F.broadcast(build), "ck", "left_semi").select("ck")
    n_build = build.agg(F.count(F.lit(1)).cast("bigint").alias("n_build"))
    n_probe = probe.agg(F.count(F.lit(1)).cast("bigint").alias("n_probe"))
    n_exact = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    n_pass = passed.agg(F.count(F.lit(1)).cast("bigint").alias("n_pass"))
    n_fneg = (
        exact.join(passed, "ck", "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_false_neg"))
    )
    row = (
        n_build.crossJoin(F.broadcast(n_probe))
        .crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(n_pass))
        .crossJoin(F.broadcast(n_fneg))
    )
    fp_rate = F.when(
        F.col("n_probe") > F.col("n_exact"),
        F.round(
            (F.col("n_pass") - F.col("n_exact")).cast("double")
            / (F.col("n_probe") - F.col("n_exact")),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return row.select(
        F.lit(_BLOOM_M).cast("bigint").alias("m"),
        "n_build",
        "n_probe",
        "n_exact",
        "n_pass",
        (F.col("n_pass") - F.col("n_exact")).alias("n_false_pos"),
        fp_rate.alias("fp_rate"),
        (F.col("n_false_neg") == 0).alias("no_false_negatives"),
    )


filter_bloom.__doc__ = filter_bloom.__doc__.format(M=_BLOOM_M)
