"""Plan + semantic gates for the distribution-diagnostic shapes
(`queries/diagnostics.py`). Oracle hashes prove value parity; these
prove the physical plans and the edge-case semantics."""

from __future__ import annotations

import datetime
import re

import pyspark.sql.functions as F

from modevetl_spark.queries import all_queries
from tests.test_plans import plan

_Q = all_queries()

# Oracle parity for all four keys rides test_contract.py's
# every-registered-query differential sweep; these gates cover the plan
# shapes and the edge-case semantics the oracle can't see.


def test_benford_shares_sum_to_one(spark, sf_dir):
    """Observed shares partition the rows: sum(share) ≈ 1 and sum of
    counts equals the filtered row count (no digit lost to string
    slicing)."""
    out = _Q["q_benford_digits"](spark, sf_dir).toPandas()
    assert set(out["digit"]) <= set(range(1, 10))
    assert abs(out["obs_share"].sum() - 1.0) < 1e-4
    assert abs(out["benford_share"].sum() - 1.0) < 1e-4


def test_benford_plan_single_fact_scan(spark, sf_dir):
    """The share/chi2 margins ride a window over the 9-row aggregate —
    the fact is scanned exactly once, and only o_totalprice is read."""
    p = plan(_Q["q_benford_digits"](spark, sf_dir))
    tree = p.split("(1) Scan")[0]
    assert tree.count("Scan parquet") == 1, tree
    read_schema = p.split("ReadSchema: ")[1].split("\n")[0]
    assert "o_totalprice" in read_schema and "o_orderkey" not in read_schema


def test_ks_identical_samples_give_zero(spark, sf_dir):
    """KS of a distribution against itself is 0 — replay the operator
    body on a planted frame where both segments see the same values."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(v, seg) for v in [10, 20, 30, 40] for seg in (0, 1)],
        "v long, is_a int",
    )
    per_value = df.groupBy("v").agg(
        F.sum("is_a").cast("long").alias("a_cnt"),
        F.sum(1 - F.col("is_a")).cast("long").alias("b_cnt"),
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    cum = per_value.select(
        F.sum("a_cnt").over(w_cum).alias("cum_a"),
        F.sum("b_cnt").over(w_cum).alias("cum_b"),
        F.sum("a_cnt").over(w_all).alias("n_a"),
        F.sum("b_cnt").over(w_all).alias("n_b"),
    )
    d = cum.agg(
        F.max(
            F.abs(
                F.col("cum_a").cast("double") / F.col("n_a")
                - F.col("cum_b").cast("double") / F.col("n_b")
            )
        )
    ).collect()[0][0]
    assert d == 0.0


def test_ks_plan_broadcasts_dim(spark, sf_dir):
    p = plan(_Q["q_stats_ks_test"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_streaks_planted_runs(spark):
    """Planted event days with known runs: user 1 has 4+2 consecutive
    days (longest 4), user 2 has a tie of two 2-day runs — earliest
    start must win."""
    from pyspark.sql import Window

    rows = []
    # user 1: Jan 1-4 (streak 4), Jan 10-11 (streak 2)
    for d in [1, 2, 3, 4, 10, 11]:
        rows.append((1, datetime.date(2024, 1, d)))
    # user 2: Jan 5-6 and Jan 20-21 (tie of 2) — earliest start wins
    for d in [5, 6, 20, 21]:
        rows.append((2, datetime.date(2024, 1, d)))
    ev = spark.createDataFrame(rows, "user_id long, day date").distinct()
    w_rn = Window.partitionBy("user_id").orderBy("day")
    numbered = ev.select(
        "user_id", "day", F.row_number().over(w_rn).cast("long").alias("rn")
    )
    islands = numbered.groupBy(
        "user_id", F.date_sub("day", F.col("rn").cast("int")).alias("anchor")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("streak_days"),
        F.min("day").alias("streak_start"),
    )
    w_pick = Window.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), F.col("streak_start")
    )
    best = (
        islands.withColumn("pick", F.row_number().over(w_pick))
        .where(F.col("pick") == 1)
        .collect()
    )
    got = {r.user_id: (r.streak_days, r.streak_start) for r in best}
    assert got[1] == (4, datetime.date(2024, 1, 1))
    assert got[2] == (2, datetime.date(2024, 1, 5))


def test_streaks_plan_no_global_window(spark, sf_dir):
    """Both windows partition by user — no single-partition exchange of
    the fact anywhere in the plan."""
    p = plan(_Q["q_streak_islands"](spark, sf_dir))
    assert "SinglePartition" not in p, p


def test_mg_heavy_hitters_guarantee_any_partitioning(spark):
    """The Misra–Gries candidate→verify pipeline returns EXACTLY the
    items above n/denom, regardless of how rows land in partitions —
    replayed over a planted skewed stream at several partition counts,
    including partitions=1 and a hostile keyed layout that concentrates
    the heavy key."""
    from modevetl_spark.operators.sketches import heavy_hitters_exact

    # 60×'a', 25×'b', 15 singletons → n=100; denom=5 ⇒ true HH = {a, b}
    rows = (
        [("a",)] * 60 + [("b",)] * 25 + [(f"z{i}",) for i in range(15)]
    )
    for parts in (1, 4, 16):
        df = spark.createDataFrame(rows, "tok string").repartition(parts)
        got = {
            (r.tok, r.cnt)
            for r in heavy_hitters_exact(df, "tok", k=8, denom=5).collect()
        }
        assert got == {("a", 60), ("b", 25)}, (parts, got)
    # hostile layout: hash-partition BY the key so each partition is pure
    df = spark.createDataFrame(rows, "tok string").repartition(8, "tok")
    got = {
        (r.tok, r.cnt)
        for r in heavy_hitters_exact(df, "tok", k=8, denom=5).collect()
    }
    assert got == {("a", 60), ("b", 25)}


def test_mg_null_keys_excluded_not_colliding(spark):
    """Round-6 advice gate: a nullable column must not poison the
    sketch — nulls are excluded from candidates AND totals (explicit
    pre-filter, not a value_counts accident), so they can't collide
    with the tok-null sentinel row, and the heavy-hitter threshold is
    computed over the NON-NULL population."""
    from modevetl_spark.operators.sketches import heavy_hitters_exact, mg_summary

    # 12×'a', 4×'b', 4×null → non-null n=16; denom=4 ⇒ cnt*4 > 16:
    # only 'a' (12*4=48>16; 'b' 4*4=16 not >). With nulls wrongly
    # counted in the total (n=20) the answer would be unchanged, but
    # with nulls emitted as candidates the sentinel parse would break.
    rows = [("a",)] * 12 + [("b",)] * 4 + [(None,)] * 4
    df = spark.createDataFrame(rows, "tok string").repartition(3)
    summ = mg_summary(df, "tok", k=8).collect()
    # exactly one interpretation per row: candidate XOR sentinel
    assert all((r.tok is None) != (r.n_part is None) for r in summ)
    assert sum(r.n_part for r in summ if r.n_part is not None) == 16
    got = {(r.tok, r.cnt) for r in heavy_hitters_exact(df, "tok", k=8, denom=4).collect()}
    assert got == {("a", 12)}


def test_mg_rejects_undersized_k(spark):
    from modevetl_spark.operators.sketches import heavy_hitters_exact
    import pytest as _pytest

    df = spark.createDataFrame([("a",)], "tok string")
    with _pytest.raises(ValueError):
        heavy_hitters_exact(df, "tok", k=4, denom=5)


def test_equidepth_depths_and_coverage(spark, sf_dir):
    """Buckets partition all rows; depths are near-equal (within the
    largest tied-value group); bounds are non-overlapping and ordered."""
    out = (
        _Q["q_hist_equidepth"](spark, sf_dir)
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    from modevetl_spark.sources.catalog import load

    n = load(spark, sf_dir, "orders").count()
    assert out["n_rows"].sum() == n
    assert (out["lo"].values[1:] > out["hi"].values[:-1]).all()
    # equal depth up to ties: every bucket within 3x of the ideal depth
    assert (out["n_rows"] > n / 8 / 3).all() and (out["n_rows"] < n / 8 * 3).all()


def test_cohort_ltv_cumulative_monotone(spark, sf_dir):
    """Within a cohort the LTV curve never decreases (revenue is
    non-negative), and age 0 exists for every cohort (the first order
    itself)."""
    out = _Q["q_cohort_ltv"](spark, sf_dir).toPandas()
    for _, g in out.groupby("cohort_month"):
        g = g.sort_values("age_months")
        assert (g["cum_revenue"].diff().dropna() >= 0).all()
        assert g["age_months"].iloc[0] == 0


def test_zipf_plan_take_ordered(spark, sf_dir):
    """Top-200 is TakeOrdered over the count aggregate — no global sort
    of the vocabulary."""
    p = plan(_Q["q_tokens_zipf"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p


def test_interval_overlap_plan_no_nested_loop(spark, sf_dir):
    """The overlap join must be the bucketed equi-join — a theta
    formulation degrades to BroadcastNestedLoop/Cartesian, quadratic in
    users."""
    p = plan(_Q["q_join_interval_overlap"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_interval_overlap_planted_edges(spark):
    """Planted spans: adjacent-but-disjoint spans that share a month
    must NOT pair; truly overlapping spans must report the exact
    inclusive overlap length."""
    import datetime as _dt

    rows = [
        # u1: Jan 1-10; u2: Jan 20-31 (same month, disjoint)
        (1, _dt.date(2024, 1, 1), _dt.date(2024, 1, 10)),
        (2, _dt.date(2024, 1, 20), _dt.date(2024, 1, 31)),
        # u3: Jan 5 - Feb 10 (overlaps u1 by 6 days: Jan 5-10)
        (3, _dt.date(2024, 1, 5), _dt.date(2024, 2, 10)),
    ]
    spans = spark.createDataFrame(
        rows, "user_id long, start_day date, end_day date"
    )
    months = spans.select(
        "user_id", "start_day", "end_day",
        F.explode(
            F.sequence(
                F.trunc("start_day", "month"),
                F.trunc("end_day", "month"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("m"),
    )
    a = months.select(
        F.col("user_id").alias("a_id"), F.col("start_day").alias("a_start"),
        F.col("end_day").alias("a_end"), "m",
    )
    b = months.select(
        F.col("user_id").alias("b_id"), F.col("start_day").alias("b_start"),
        F.col("end_day").alias("b_end"), "m",
    )
    pairs = (
        a.join(b, ["m"]).where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_start", "a_end", "b_start", "b_end")
        .distinct()
        .where(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        .select(
            "a_id", "b_id",
            (F.datediff(F.least("a_end", "b_end"),
                        F.greatest("a_start", "b_start")) + 1).alias("d"),
        )
        .collect()
    )
    got = {(r.a_id, r.b_id): r.d for r in pairs}
    assert got == {(1, 3): 6, (2, 3): 12}


def test_spine_covers_every_calendar_day(spark, sf_dir):
    """Spine arithmetic: sum(n_days) over months equals the inclusive
    day span between min and max order date, and gaps = days − active."""
    out = _Q["q_date_spine_coverage"](spark, sf_dir).toPandas()
    from modevetl_spark.sources.catalog import load

    lo, hi = (
        load(spark, sf_dir, "orders")
        .agg(F.min("o_orderdate").cast("date"), F.max("o_orderdate").cast("date"))
        .collect()[0]
    )
    assert out["n_days"].sum() == (hi - lo).days + 1
    assert (out["n_gap_days"] == out["n_days"] - out["n_active_days"]).all()


def test_runs_test_matches_wald_wolfowitz_definition(spark, sf_dir):
    """Round-9 differential: replay the whole runs test in pure python
    from the daily revenue series — sign sequence, maximal-run count,
    and the published mean/variance
    mu = 2·n1·n2/N + 1, sigma² = 2n1n2(2n1n2−N)/(N²(N−1)) — so a
    run-counting or moment-formula deviation mirrored into the oracle
    is caught."""
    import duckdb
    import math

    daily = duckdb.connect().execute(
        "SELECT day, ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))"
        " AS DOUBLE), 2) FROM (SELECT date_trunc('day', o_orderdate) AS"
        f" day, o_totalprice FROM read_parquet('{sf_dir}/orders.parquet'))"
        " GROUP BY day ORDER BY day"
    ).fetchall()
    revs = [r for _, r in daily]
    signs = [
        1 if b > a else -1
        for a, b in zip(revs, revs[1:])
        if b != a
    ]
    n1 = sum(1 for s in signs if s == 1)
    n2 = sum(1 for s in signs if s == -1)
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    nn = n1 + n2
    mu = 2 * n1 * n2 / nn + 1
    sigma = math.sqrt(
        2 * n1 * n2 * (2 * n1 * n2 - nn) / (nn**2 * (nn - 1))
    )
    got = _Q["q_runs_test"](spark, sf_dir).collect()[0]
    assert (got.n_up, got.n_down, got.n_runs) == (n1, n2, runs)
    assert abs(got.z_score - (runs - mu) / sigma) <= 1e-8


def test_psi_matches_published_definition(spark, sf_dir):
    """Round-9 differential: PSI (in bits) = Σ (pᵢ − qᵢ)·log2(pᵢ/qᵢ)
    over the add-one-smoothed price-band shares, replayed in pure
    python from the raw binned counts."""
    import duckdb
    import math

    cells = duckdb.connect().execute(
        "SELECT LEAST(CAST(FLOOR(o_totalprice) AS BIGINT) // 30000, 9),"
        " CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1"
        " ELSE 0 END) AS BIGINT), CAST(COUNT(*) AS BIGINT)"
        f" FROM read_parquet('{sf_dir}/orders.parquet') GROUP BY 1"
    ).fetchall()
    ref = {b: r + 1 for b, r, t in cells}
    cur = {b: t - r + 1 for b, r, t in cells}
    n_ref, n_cur = sum(ref.values()), sum(cur.values())
    psi = sum(
        (ref[b] / n_ref - cur[b] / n_cur)
        * math.log2((ref[b] / n_ref) / (cur[b] / n_cur))
        for b in ref
    )
    got = _Q["q_psi_stability"](spark, sf_dir).collect()[0]
    assert got.n_bins == len(ref)
    assert abs(got.psi_bits - psi) <= 5e-6, (got.psi_bits, psi)


def test_wilson_matches_published_formula(spark, sf_dir):
    """Round-9 differential: the Wilson score interval
    (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n), z = 1.96,
    replayed in pure python per segment — the bracket test alone would
    also pass for the (wrong) normal-approximation interval."""
    import duckdb
    import math

    segs = duckdb.connect().execute(
        "SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT),"
        " CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0"
        f" END) AS BIGINT) FROM read_parquet('{sf_dir}/orders.parquet') o"
        f" JOIN read_parquet('{sf_dir}/customer.parquet') c"
        " ON o.o_custkey = c.c_custkey GROUP BY 1"
    ).fetchall()
    got = {r["segment"]: r for r in _Q["q_rate_confint"](spark, sf_dir).collect()}
    assert set(got) == {s for s, _, _ in segs}
    z = 1.96
    for s, n, pos in segs:
        p = pos / n
        center = p + z * z / (2 * n)
        half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        denom = 1 + z * z / n
        r = got[s]
        assert (r["n"], r["pos"]) == (n, pos)
        assert abs(r["wilson_lo"] - (center - half) / denom) <= 5e-7
        assert abs(r["wilson_hi"] - (center + half) / denom) <= 5e-7


def test_mi_matches_published_definition(spark, sf_dir):
    """Round-9 differential: I(X;Y) = ΣΣ p(x,y)·log2(p(x,y)·n²/(n·c_x·c_y))
    replayed in pure python from the raw (source, lang) contingency —
    the bound test alone passes for e.g. natural-log MI or swapped
    margins."""
    import duckdb
    import math

    cells = duckdb.connect().execute(
        "SELECT source, lang, CAST(COUNT(*) AS BIGINT) FROM"
        f" read_parquet('{sf_dir}/documents.parquet') GROUP BY 1, 2"
    ).fetchall()
    cx: dict = {}
    cy: dict = {}
    for s, l, c in cells:
        cx[s] = cx.get(s, 0) + c
        cy[l] = cy.get(l, 0) + c
    n = sum(c for _, _, c in cells)
    mi = sum(
        (c / n) * math.log2(c * n / (cx[s] * cy[l])) for s, l, c in cells
    )
    got = _Q["q_mutual_information"](spark, sf_dir).collect()[0]
    assert got.n_cells == len(cells)
    assert abs(got.mi_bits - mi) <= 5e-6, (got.mi_bits, mi)


def test_cramers_v_matches_published_definition(spark, sf_dir):
    """Round-9 differential: V = √(χ²/(n·min(r−1, c−1))) with χ² from
    the independence-test expected counts, replayed in pure python from
    the raw segment × priority contingency."""
    import duckdb
    import math

    cells = duckdb.connect().execute(
        "SELECT c.c_mktsegment, o.o_orderpriority, CAST(COUNT(*) AS"
        f" BIGINT) FROM read_parquet('{sf_dir}/orders.parquet') o"
        f" JOIN read_parquet('{sf_dir}/customer.parquet') c"
        " ON o.o_custkey = c.c_custkey GROUP BY 1, 2"
    ).fetchall()
    cx: dict = {}
    cy: dict = {}
    for s, p, c in cells:
        cx[s] = cx.get(s, 0) + c
        cy[p] = cy.get(p, 0) + c
    n = sum(c for _, _, c in cells)
    chi2 = sum(
        (c - cx[s] * cy[p] / n) ** 2 / (cx[s] * cy[p] / n)
        for s, p, c in cells
    )
    v = math.sqrt(chi2 / (n * min(len(cx) - 1, len(cy) - 1)))
    got = _Q["q_cramers_v"](spark, sf_dir).collect()[0]
    assert abs(got.chi2 - chi2) <= 5e-5, (got.chi2, chi2)
    assert abs(got.cramers_v - v) <= 5e-6


def test_anova_matches_published_f_definition(spark, sf_dir):
    """Round-9 differential: one-way ANOVA from RAW values in pure
    python — group means, SSB = Σ n_g(x̄_g − x̄)², SSW = Σ(x − x̄_g)²,
    F = (SSB/(k−1))/(SSW/(n−k)) — so a degrees-of-freedom or
    decomposition deviation mirrored into the oracle is caught. The
    query's 2dp power-sum rounding bounds the relative slack."""
    import duckdb

    rows = duckdb.connect().execute(
        "SELECT CAST(dayofweek(o_orderdate) AS BIGINT), o_totalprice"
        f" FROM read_parquet('{sf_dir}/orders.parquet')"
    ).fetchall()
    groups: dict = {}
    for d, x in rows:
        groups.setdefault(d, []).append(x)
    n = len(rows)
    k = len(groups)
    grand = sum(x for _, x in rows) / n
    ssb = sum(len(g) * (sum(g) / len(g) - grand) ** 2 for g in groups.values())
    ssw = sum(
        (x - sum(g) / len(g)) ** 2 for g in groups.values() for x in g
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    got = _Q["q_anova_weekday"](spark, sf_dir).collect()[0]
    assert (got.k, got.n) == (k, n)
    assert abs(got.ss_between - ssb) <= max(1.0, ssb * 1e-6)
    assert abs(got.ss_within - ssw) <= max(1.0, ssw * 1e-6)
    assert abs(got.f_stat - f) <= max(1e-6, abs(f) * 1e-3)


def test_ks_matches_textbook_two_sample_definition(spark, sf_dir):
    """Round-9 differential (the mandatory discipline, back-filled):
    D = sup over the POOLED support of |ECDF_a − ECDF_b|, replayed in
    raw python from the same parquet — the oracle mirrors the query's
    cumulative-window construction, so only an independent replay of
    the published definition can catch a construction-level deviation
    (e.g. evaluating the sup at one sample's values only)."""
    import duckdb

    rows = duckdb.connect().execute(
        "SELECT CAST(floor(o.o_totalprice) AS BIGINT),"
        " CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END"
        f" FROM read_parquet('{sf_dir}/orders.parquet') o"
        f" JOIN read_parquet('{sf_dir}/customer.parquet') c"
        " ON o.o_custkey = c.c_custkey"
        " WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')"
    ).fetchall()
    a = sorted(v for v, is_a in rows if is_a)
    b = sorted(v for v, is_a in rows if not is_a)
    import bisect

    support = sorted({*a, *b})
    d_stat = max(
        abs(
            bisect.bisect_right(a, v) / len(a)
            - bisect.bisect_right(b, v) / len(b)
        )
        for v in support
    )
    crit = 1.36 * ((len(a) + len(b)) / (len(a) * len(b))) ** 0.5
    got = _Q["q_stats_ks_test"](spark, sf_dir).collect()[0]
    assert (got.n_a, got.n_b) == (len(a), len(b))
    assert abs(got.ks_stat - d_stat) <= 1e-9, (got.ks_stat, d_stat)
    assert abs(got.ks_crit - crit) <= 1e-9
    assert got.reject_h0 == (1 if round(d_stat, 9) > round(crit, 9) else 0)


def test_mannwhitney_matches_average_rank_definition(spark, sf_dir):
    """Round-9 differential: replay U and the tie-corrected z from the
    CLASSICAL average-rank definition in pure python — sort the pooled
    values, give tie groups their average rank, R_A = Σ ranks of A,
    U = R_A − n_a(n_a+1)/2, σ with the Σ(t³−t) tie correction — so a
    deviation in the doubled-integer rank fold that the oracle mirrors
    is caught against the published test."""
    import duckdb
    import math
    from fractions import Fraction

    rows = duckdb.connect().execute(
        "SELECT CAST(floor(o.o_totalprice) AS BIGINT),"
        " CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END"
        f" FROM read_parquet('{sf_dir}/orders.parquet') o"
        f" JOIN read_parquet('{sf_dir}/customer.parquet') c"
        " ON o.o_custkey = c.c_custkey"
        " WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')"
    ).fetchall()
    n_a = sum(f for _, f in rows)
    n_b = len(rows) - n_a
    # average ranks per tie group, exact via Fraction
    r_a = Fraction(0)
    tie3 = 0
    by_v: dict = {}
    for v, f in rows:
        c = by_v.setdefault(v, [0, 0])
        c[0] += 1
        c[1] += f
    rank_start = 1
    for v in sorted(by_v):
        t, a_in = by_v[v]
        avg_rank = Fraction(2 * rank_start + t - 1, 2)
        r_a += a_in * avg_rank
        tie3 += t**3 - t
        rank_start += t
    u = r_a - Fraction(n_a * (n_a + 1), 2)
    nn = n_a + n_b
    mu = Fraction(n_a * n_b, 2)
    sigma = math.sqrt(
        n_a * n_b / 12 * ((nn + 1) - tie3 / (nn * (nn - 1)))
    )
    z = float(u - mu) / sigma
    got = _Q["q_stats_mannwhitney"](spark, sf_dir).collect()[0]
    assert (got.n_a, got.n_b) == (n_a, n_b)
    assert got.u_stat == float(u)
    assert abs(got.z_score - z) <= 1e-8, (got.z_score, z)


def test_cusum_matches_published_definition(spark, sf_dir):
    """Round-9 differential: CUSUM argmax replayed in pure python —
    S_k = Σ_{i≤k}(x_i − x̄) over the daily series, pick the day where
    |S_k| peaks (day tie-break) — exact Decimal accumulation of the
    same 6dp deviations, so the argmax is replayed bit-for-bit."""
    import duckdb
    from decimal import Decimal

    daily = duckdb.connect().execute(
        "SELECT day, ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))"
        " AS DOUBLE), 2) FROM (SELECT date_trunc('day', o_orderdate) AS"
        f" day, o_totalprice FROM read_parquet('{sf_dir}/orders.parquet'))"
        " GROUP BY day ORDER BY day"
    ).fetchall()
    mean = round(
        float(sum(Decimal(str(r)) for _, r in daily)) / len(daily), 6
    )
    best = None
    s = Decimal(0)
    for day, rev in daily:
        s += Decimal(str(round(rev - mean, 6)))
        if best is None or abs(s) > best[0]:
            best = (abs(s), day, float(s))
    got = _Q["q_changepoint_cusum"](spark, sf_dir).collect()[0]
    assert got.n_days == len(daily)
    # duckdb date_trunc yields DATE, Spark a midnight TIMESTAMP
    assert got.change_day.date() == best[1], (got.change_day, best[1])
    assert abs(got.max_cusum - best[2]) <= 1e-6


def test_mannwhitney_symmetric_samples_z_zero(spark):
    """Identical A/B samples ⇒ U = n_a·n_b/2 and z = 0 — replayed on the
    operator's integer rank-fold over a planted frame."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(v, seg) for v in [10, 20, 30] for seg in (1, 0)], "v long, is_a int"
    )
    per_value = df.groupBy("v").agg(
        F.sum("is_a").cast("long").alias("a_cnt"),
        F.sum(1 - F.col("is_a")).cast("long").alias("b_cnt"),
    )
    w_before = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    t = F.col("a_cnt") + F.col("b_cnt")
    cum = per_value.select(
        "a_cnt", t.alias("t"),
        F.coalesce(F.sum(t).over(w_before), F.lit(0)).cast("long").alias("cb"),
        F.sum("a_cnt").over(w_all).cast("long").alias("n_a"),
        F.sum("b_cnt").over(w_all).cast("long").alias("n_b"),
    )
    row = cum.groupBy("n_a", "n_b").agg(
        F.sum(F.col("a_cnt") * (2 * F.col("cb") + F.col("t") + 1)).alias("r2a")
    ).collect()[0]
    u = (row.r2a - row.n_a * (row.n_a + 1)) / 2
    assert u == row.n_a * row.n_b / 2  # exactly mu ⇒ z = 0


def test_ewma_bounded_by_trailing_window(spark, sf_dir):
    """Normalized positive weights ⇒ the EWMA is a convex combination:
    min(trailing 10 revenues) ≤ ewma ≤ max — checked row-by-row against
    a pandas rolling replay."""
    out = _Q["q_ewma_trunc"](spark, sf_dir).toPandas().sort_values("day")
    lo = out["revenue"].rolling(10).min()
    hi = out["revenue"].rolling(10).max()
    chk = out.iloc[9:]
    eps = 1e-6
    assert (chk["ewma_10d"] >= lo.iloc[9:] - eps).all()
    assert (chk["ewma_10d"] <= hi.iloc[9:] + eps).all()


def test_weighted_median_mass_invariant(spark, sf_dir):
    """At least half the quantity mass sits at-or-below the reported
    median and at least half at-or-above, per group."""
    from modevetl_spark.sources.catalog import load

    med = {
        r.l_returnflag: r.w_median
        for r in _Q["q_weighted_median"](spark, sf_dir).collect()
    }
    li = (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            F.floor("l_extendedprice").cast("long").alias("v"),
            "l_quantity",
        )
        .toPandas()
    )
    for flag, g in li.groupby("l_returnflag"):
        m, w = med[flag], g["l_quantity"].sum()
        assert g.loc[g["v"] <= m, "l_quantity"].sum() * 2 >= w
        assert g.loc[g["v"] >= m, "l_quantity"].sum() * 2 >= w


def test_skyline_planted_dominance(spark):
    """Planted points: (1,5) and (3,9) are the frontier; (2,5) is
    dominated by (1,5) (same size, worse price), (3,8) by (3,9), and the
    duplicate-collapsed (1,5) survives once."""
    pts = spark.createDataFrame(
        [(1.0, 5), (1.0, 5), (2.0, 5), (3.0, 9), (3.0, 8)],
        "price double, size long",
    ).distinct()
    from pyspark.sql import Window

    w = Window.orderBy(F.col("price").asc(), F.col("size").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    got = {
        (r.price, r.size)
        for r in pts.withColumn("pm", F.max("size").over(w))
        .where(F.col("pm").isNull() | (F.col("size") > F.col("pm")))
        .select("price", "size")
        .collect()
    }
    assert got == {(1.0, 5), (3.0, 9)}


def test_skyline_plan_has_no_join(spark, sf_dir):
    """The sweep formulation must plan as sort+window over the deduped
    points — zero join operators (the oracle's NOT EXISTS would be a
    quadratic nested-loop)."""
    p = plan(_Q["q_skyline_pareto"](spark, sf_dir))
    assert "Join" not in p, p


def test_apportionment_sums_to_budget(spark, sf_dir):
    """Σslots = 1000 exactly, and every group's slot count is within 1
    of its unrounded proportional share (the largest-remainder
    guarantee)."""
    out = _Q["q_apportion_slots"](spark, sf_dir).toPandas()
    assert out["slots"].sum() == 1000
    n = out["n_docs"].sum()
    ideal = 1000 * out["n_docs"] / n
    assert ((out["slots"] - ideal).abs() < 1.0).all()


def test_runs_test_counts_consistent(spark, sf_dir):
    """Run count bounds: 1 ≤ runs ≤ n_up + n_down, and the z-score is
    finite."""
    import math

    r = _Q["q_runs_test"](spark, sf_dir).collect()[0]
    assert 1 <= r.n_runs <= r.n_up + r.n_down
    assert math.isfinite(r.z_score)


def test_heatmap_cells_cover_all_events(spark, sf_dir):
    """Cell counts total the event count; shares total ~1; dow ∈ 0..6,
    hod ∈ 0..23."""
    out = _Q["q_events_heatmap"](spark, sf_dir).toPandas()
    from modevetl_spark.sources.catalog import load

    assert out["n_events"].sum() == load(spark, sf_dir, "events").count()
    assert abs(out["share"].sum() - 1.0) < 1e-3
    assert out["dow"].between(0, 6).all() and out["hod"].between(0, 23).all()


def test_abc_classes_partition_catalog(spark, sf_dir):
    """A/B/C part counts cover every part with recorded revenue; class
    revenue shares stack to ~1 with A ≥ B ≥ C ordering of per-part
    intensity (A parts are fewer but richer than C parts)."""
    out = (
        _Q["q_abc_classification"](spark, sf_dir)
        .toPandas()
        .set_index("abc_class")
    )
    from modevetl_spark.sources.catalog import load

    n_parts_with_rev = (
        load(spark, sf_dir, "lineitem").select("l_partkey").distinct().count()
    )
    assert out["n_parts"].sum() == n_parts_with_rev
    assert abs(out["revenue_share"].sum() - 1.0) < 1e-3
    per_part_a = out.loc["A", "class_revenue"] / out.loc["A", "n_parts"]
    per_part_c = out.loc["C", "class_revenue"] / out.loc["C", "n_parts"]
    assert per_part_a > per_part_c


def test_cusum_endpoint_is_zero_sum(spark, sf_dir):
    """CUSUM deviations from the mean telescope to ~0 over the full
    series — so the reported max is an interior extremum, and its
    magnitude is positive."""
    r = _Q["q_changepoint_cusum"](spark, sf_dir).collect()[0]
    assert r.n_days > 0
    assert abs(r.max_cusum) > 0


def test_cluster_stats_consistent_with_corpus_dedup(spark, sf_dir):
    """Σ(size−1) over clusters equals exactly the number of documents
    q_dedup_corpus removes — the two queries share one pipeline."""
    stats = _Q["q_dedup_cluster_stats"](spark, sf_dir).toPandas()
    removable = int((stats["n_clusters"] * (stats["cluster_size"] - 1)).sum())
    from modevetl_spark.sources.catalog import load

    n_docs = load(spark, sf_dir, "documents").count()
    survivors = _Q["q_dedup_corpus"](spark, sf_dir).count()
    assert n_docs - survivors == removable
    assert (stats["cluster_size"] >= 2).all()


def test_attribution_position_credit_conservation(spark, sf_dir):
    """Each purchase's position weights sum to 1, so total credit equals
    the number of purchases with at least one preceding-hour click
    (within 6dp-rounding drift of the middle-weight division)."""
    out = _Q["q_attribution_position"](spark, sf_dir).toPandas()
    n_converted = _Q["q_attribution_last_touch"](spark, sf_dir).count()
    assert abs(out["credit"].sum() - n_converted) < 0.01 * n_converted + 0.5


def test_ship_lag_percentiles_ordered(spark, sf_dir):
    out = _Q["q_ship_lag_percentiles"](spark, sf_dir).toPandas()
    assert (out["p25"] <= out["p50"]).all()
    assert (out["p50"] <= out["p95"]).all()
    assert (out["p95"] <= out["max_lag"] + 1e-9).all()


def test_dense_ties_keeps_all_tied_brands(spark):
    """Planted frame: two brands tie at rank 1 — BOTH must survive the
    top-3 cut, and the next brand takes dense rank 2 (no skip)."""
    from pyspark.sql import Window

    rev = spark.createDataFrame(
        [("N1", "B1", 100.0), ("N1", "B2", 100.0), ("N1", "B3", 90.0),
         ("N1", "B4", 80.0), ("N1", "B5", 70.0)],
        "nation string, brand string, revenue double",
    )
    w = Window.partitionBy("nation").orderBy(F.col("revenue").desc())
    got = {
        (r.brand, r.brand_rank)
        for r in rev.withColumn(
            "brand_rank", F.dense_rank().over(w).cast("long")
        ).where(F.col("brand_rank") <= 3).collect()
    }
    assert got == {("B1", 1), ("B2", 1), ("B3", 2), ("B4", 3)}


def test_vocab_growth_monotone_and_final(spark, sf_dir):
    """Both cumulative curves are monotone over deciles; the decile-10
    vocab equals the corpus distinct-token count and decile-10 tokens
    equal the corpus token count."""
    out = _Q["q_vocab_growth"](spark, sf_dir).toPandas().sort_values("decile")
    assert (out["cum_tokens"].diff().dropna() > 0).all()
    assert (out["cum_vocab"].diff().dropna() >= 0).all()
    from modevetl_spark.operators.text import tokens as tok_fn
    from modevetl_spark.sources.catalog import load

    toks = load(spark, sf_dir, "documents").select(
        F.explode(tok_fn("text")).alias("t")
    )
    assert out["cum_tokens"].iloc[-1] == toks.count()
    assert out["cum_vocab"].iloc[-1] == toks.distinct().count()


def test_bounce_rate_bounds(spark, sf_dir):
    out = _Q["q_bounce_rate"](spark, sf_dir).toPandas()
    assert (out["n_bounces"] <= out["n_sessions"]).all()
    assert out["bounce_rate"].between(0, 1).all()


def test_systematic_sample_stable_and_evenly_spaced(spark, sf_dir):
    """Regression for the AQE-coalescing rank instability: three
    evaluations must return the IDENTICAL 300-row sample, with ranks
    exactly {50, 100, …}."""
    frames = [
        _Q["q_sample_systematic"](spark, sf_dir)
        .toPandas()
        .sort_values("sample_rank")
        .reset_index(drop=True)
        for _ in range(3)
    ]
    for f in frames[1:]:
        assert f.equals(frames[0])
    ranks = frames[0]["sample_rank"]
    assert ranks.is_unique
    assert (ranks % 50 == 0).all()
    assert ranks.iloc[0] == 50 and (ranks.diff().dropna() == 50).all()


def test_dedup_eval_pr_invariants(spark, sf_dir):
    """tp ≤ min(candidates, exact); precision/recall in [0,1]; and the
    tp count equals q_dedup_corpus's verified-pair count by shared
    pipeline."""
    r = _Q["q_dedup_eval_pr"](spark, sf_dir).collect()[0]
    assert r.n_tp <= r.n_candidates and r.n_tp <= r.n_exact
    assert 0.0 <= r.precision_at_tau <= 1.0
    assert 0.0 <= r.recall_at_tau <= 1.0


def test_kcore_cascade_and_survival(spark):
    """A 10-node path peels to NOTHING — but only through cascading
    rounds (each peel exposes new degree-1 endpoints), which exercises
    the iteration. A triangle with a pendant tail keeps exactly the
    triangle, each member at degree 2."""
    from modevetl_spark.operators.graph import kcore

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src long, dst long"
    )
    assert kcore(path, k=2, iterations=10).count() == 0

    tri_tail = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {
        (r.node, r.core_degree)
        for r in kcore(tri_tail, k=2, iterations=10).collect()
    }
    assert got == {(1, 2), (2, 2), (3, 2)}


def test_kcore_fixture_converged_at_budget(spark, sf_dir):
    """One extra peel round changes nothing on the graded graph — the
    fixed 10-iteration budget is past the fixpoint."""
    from modevetl_spark.operators.graph import kcore
    from modevetl_spark.sources.catalog import load

    part = load(spark, sf_dir, "part")
    tree = part.where(F.col("p_partkey") >= 2).select(
        F.col("p_partkey").alias("src"), F.expr("p_partkey div 2").alias("dst")
    )
    a = part.select(F.col("p_partkey").alias("src"))
    b = part.select(F.col("p_partkey").alias("dst"))
    sib = (
        a.where((F.col("src") >= 2) & (F.col("src") % 2 == 0))
        .join(b, F.col("dst") == F.col("src") + 1)
        .select("src", "dst")
    )
    edges = tree.unionAll(sib)
    r10 = {(r.node, r.core_degree) for r in kcore(edges, k=2, iterations=10).collect()}
    r11 = {(r.node, r.core_degree) for r in kcore(edges, k=2, iterations=11).collect()}
    assert r10 == r11 and len(r10) > 0


def test_log_bins_cover_and_bound(spark, sf_dir):
    """Every doc lands in exactly one bin and every bin's bounds bracket
    its member lengths (lo = 2^bin ≤ n_chars < 2^(bin+1))."""
    out = _Q["q_hist_log_bins"](spark, sf_dir).toPandas()
    from modevetl_spark.sources.catalog import load

    docs = load(spark, sf_dir, "documents").where(F.col("n_chars") >= 1)
    assert out["n_docs"].sum() == docs.count()
    assert (out["lo"] == 2 ** out["bin"]).all()
    assert (out["hi"] == 2 ** (out["bin"] + 1) - 1).all()


def test_sql_frontend_same_string_is_oracle(spark, sf_dir):
    """The registered oracle SQL and the executed Spark SQL are the
    IDENTICAL string (the portable-ANSI contract), and the plan gets
    the star treatment: every fact-path join broadcasts — the only
    merge joins allowed are the LeftAnti pair the round-6 EXCEPT
    compiles to, which runs over the 35-row (region × year) CTE
    (bounded by the region catalog × calendar, and AQE converts
    bounded anti joins to broadcast at runtime)."""
    import __spark_entry__ as entrymod
    from modevetl_spark.queries.diagnostics import _SQL_FRONTEND

    assert entrymod.oracle_sql()["q_sql_frontend"] == _SQL_FRONTEND
    p = plan(_Q["q_sql_frontend"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    # the formatted tree types each join inline; the details section
    # repeats nodes untyped, so inspect the typed mentions only
    typed = re.findall(r"SortMergeJoin (\w+)", p)
    assert set(typed) <= {"LeftAnti"} and len(typed) <= 2, typed


def test_asof_tolerance_subset_of_plain_asof(spark, sf_dir):
    """Tolerance only NULLs matches — wherever it reports a click, the
    plain as-of join reports the SAME click; and every reported gap is
    within the 900 s bound."""
    tol = _Q["q_join_asof_tolerance"](spark, sf_dir).toPandas()
    plain = (
        _Q["q_join_asof"](spark, sf_dir)
        .toPandas()[["event_id", "last_click_ts"]]
        .set_index("event_id")["last_click_ts"]
    )
    have = tol[tol["last_click_ts"].notna()]
    assert (have["gap_seconds"] <= 900).all()
    for _, r in have.iterrows():
        assert plain[r["event_id"]] == r["last_click_ts"]


def test_nb_confusion_covers_corpus_and_beats_chance(spark, sf_dir):
    """Confusion counts total the corpus; diagonal accuracy beats the
    majority-class baseline (the synthetic langs share one vocabulary,
    but frequency profiles still separate them better than guessing
    'en' for everything would)."""
    out = _Q["q_nb_langid"](spark, sf_dir).toPandas()
    from modevetl_spark.sources.catalog import load

    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    assert out["n_docs"].sum() == n
    acc = out.loc[out["actual"] == out["predicted"], "n_docs"].sum() / n
    maj = (
        docs.groupBy("lang").count().agg(F.max("count")).collect()[0][0] / n
    )
    assert acc >= maj


def test_feature_hashing_conserves_tokens(spark, sf_dir):
    """Per-doc bucket counts total the doc's token count, and the
    feature string parses back to the same histogram."""
    out = _Q["q_feature_hashing"](spark, sf_dir).toPandas().head(20)
    for _, r in out.iterrows():
        parsed = dict(
            (int(p.split(":")[0]), int(p.split(":")[1]))
            for p in r["features"].split(" ")
        )
        assert sum(parsed.values()) == r["n_tokens"]
        assert all(0 <= b < 64 for b in parsed)


def test_target_encoding_excludes_own_label(spark, sf_dir):
    """For every row, n·rate_mean == seg_pos − own (the LOO identity),
    checked by recomputing the segment aggregates in pandas."""
    out = _Q["q_target_encoding"](spark, sf_dir).toPandas()
    for seg, g in out.groupby("segment"):
        pos, n = g["is_urgent"].sum(), len(g)
        expect = (pos - g["is_urgent"]) / (n - 1)
        assert (g["segment_loo_rate"] - expect.round(6)).abs().max() < 1e-9


def test_auc_bounds_and_antisymmetry(spark, sf_dir):
    """AUC ∈ [0,1]; swapping the label definition must give 1 − AUC
    (rank-sum identity antisymmetry), replayed with the inverted label
    on the same machinery."""
    from pyspark.sql import Window

    r = _Q["q_roc_auc"](spark, sf_dir).collect()[0]
    assert 0.0 <= r.auc <= 1.0

    from modevetl_spark.sources.catalog import load

    o = load(spark, sf_dir, "orders")
    labeled = o.select(
        F.floor("o_totalprice").cast("long").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 0).otherwise(1).alias("pos"),
    )
    pv = labeled.groupBy("v").agg(
        F.sum("pos").cast("long").alias("p_cnt"),
        F.sum(1 - F.col("pos")).cast("long").alias("n_cnt"),
    )
    w_b = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_a = Window.partitionBy()
    t = F.col("p_cnt") + F.col("n_cnt")
    cum = pv.select(
        "p_cnt", t.alias("t"),
        F.coalesce(F.sum(t).over(w_b), F.lit(0)).alias("cb"),
        F.sum("p_cnt").over(w_a).alias("np"),
        F.sum("n_cnt").over(w_a).alias("nn"),
    )
    row = cum.groupBy("np", "nn").agg(
        F.sum(F.col("p_cnt") * (2 * F.col("cb") + F.col("t") + 1)).alias("r2p")
    ).collect()[0]
    auc_swapped = ((row.r2p - row.np * (row.np + 1)) / 2) / (row.np * row.nn)
    assert abs(r.auc + auc_swapped - 1.0) < 1e-9


def test_psi_identical_halves_is_zero(spark):
    """PSI of a distribution against itself is exactly 0 — planted
    frame with identical ref/current bin counts."""
    from pyspark.sql import Window

    cells = spark.createDataFrame(
        [(b, 10 + b, 10 + b) for b in range(5)],
        "bin long, c_ref long, c_cur long",
    )
    w_all = Window.partitionBy()
    tot = cells.select(
        "c_ref", "c_cur",
        F.sum("c_ref").over(w_all).alias("n_ref"),
        F.sum("c_cur").over(w_all).alias("n_cur"),
    )
    psi = tot.select(
        (
            (F.col("c_ref").cast("double") / F.col("n_ref")
             - F.col("c_cur").cast("double") / F.col("n_cur"))
            * (F.round(F.log2("c_ref"), 9) - F.round(F.log2("n_ref"), 9)
               - F.round(F.log2("c_cur"), 9) + F.round(F.log2("n_cur"), 9))
        ).alias("term")
    ).agg(F.sum("term")).collect()[0][0]
    assert psi == 0.0


def test_wilson_brackets_rate(spark, sf_dir):
    """lo ≤ rate ≤ hi and both bounds inside [0,1] for every segment."""
    out = _Q["q_rate_confint"](spark, sf_dir).toPandas()
    assert (out["wilson_lo"] <= out["rate"] + 1e-9).all()
    assert (out["rate"] <= out["wilson_hi"] + 1e-9).all()
    assert out["wilson_lo"].between(0, 1).all()
    assert out["wilson_hi"].between(0, 1).all()


def test_interleave_no_source_frontloads(spark, sf_dir):
    """In any prefix of the interleaved order, each source's share is
    within one slot of its corpus share (the WFQ fairness bound) — the
    whole point of the operator."""
    out = _Q["q_interleave_sources"](spark, sf_dir).toPandas().sort_values("pos")
    from modevetl_spark.sources.catalog import load

    totals = {
        r["source"]: r["count"]
        for r in load(spark, sf_dir, "documents")
        .groupBy("source")
        .count()
        .collect()
    }
    corpus = sum(totals.values())
    for k in (25, 50, 100, 200):
        prefix = out.head(k)["source"].value_counts()
        for src, got in prefix.items():
            expect = k * totals[src] / corpus
            assert abs(got - expect) <= 2.0, (k, src, got, expect)


def test_label_suspects_are_misclassified_with_positive_margin(spark, sf_dir):
    """Every suspect is predicted ≠ actual with margin > 0 (the winner
    beat the recorded class), sorted descending."""
    out = _Q["q_label_suspects"](spark, sf_dir).toPandas()
    assert (out["predicted"] != out["actual"]).all()
    assert (out["margin"] > 0).all()
    assert (out["margin"].diff().dropna() <= 1e-12).all()


def test_threshold_curve_monotone(spark, sf_dir):
    """n_exact and n_found are non-increasing in τ, and recall at the
    production threshold (τ=0.5) matches q_dedup_eval_pr's recall."""
    out = _Q["q_dedup_threshold_curve"](spark, sf_dir).toPandas().sort_values("k")
    assert (out["n_exact"].diff().dropna() <= 0).all()
    assert (out["n_found"].diff().dropna() <= 0).all()
    pr = _Q["q_dedup_eval_pr"](spark, sf_dir).collect()[0]
    at_half = out[out["k"] == 5].iloc[0]
    assert at_half["n_exact"] == pr.n_exact
    assert at_half["n_found"] == pr.n_tp


def test_mi_nonnegative_and_bounded(spark, sf_dir):
    """MI ≥ 0 (within term-rounding slack) and ≤ min(H(X), H(Y)) ≤
    log2(min domain size)."""
    import math

    r = _Q["q_mutual_information"](spark, sf_dir).collect()[0]
    assert r.mi_bits >= -1e-6
    assert r.mi_bits <= math.log2(5) + 1e-9  # 5 languages


def test_cramers_v_in_unit_interval(spark, sf_dir):
    r = _Q["q_cramers_v"](spark, sf_dir).collect()[0]
    assert r.chi2 >= 0
    assert 0.0 <= r.cramers_v <= 1.0


def test_entropy_profile_bounds(spark, sf_dir):
    """0 ≤ H ≤ log2(n_values) per column."""
    import numpy as np

    out = _Q["q_entropy_profile"](spark, sf_dir).toPandas()
    assert (out["entropy_bits"] >= -1e-6).all()
    assert (out["entropy_bits"] <= np.log2(out["n_values"]) + 1e-6).all()


def test_decision_stump_beats_null_split(spark, sf_dir):
    """Weighted Gini after ANY split ≤ parent impurity (splits can't
    hurt Gini), and the ranking is consistent with the scores."""
    out = _Q["q_decision_stump"](spark, sf_dir).toPandas().sort_values("split_rank")
    from modevetl_spark.sources.catalog import load

    langs = (
        load(spark, sf_dir, "documents").groupBy("lang").count().toPandas()
    )
    p = langs["count"] / langs["count"].sum()
    parent_gini = 1 - (p * p).sum()
    assert (out["weighted_gini"] <= parent_gini + 1e-6).all()
    assert (out["weighted_gini"].diff().dropna() >= -1e-12).all()


def test_source_overlap_totals_verified_pairs(spark, sf_dir):
    """Σ over source-pair cells equals the verified near-dup pair
    count (nothing lost in the rollup), and pair keys are unordered
    (source_a ≤ source_b)."""
    out = _Q["q_dedup_source_overlap"](spark, sf_dir).toPandas()
    pr = _Q["q_dedup_eval_pr"](spark, sf_dir).collect()[0]
    assert out["n_dup_pairs"].sum() == pr.n_tp
    assert (out["source_a"] <= out["source_b"]).all()


def test_growth_mom_reconstructs_series(spark, sf_dir):
    """Compounding the growth rates recovers each month's revenue from
    the previous one (within 6dp-rounding slack)."""
    out = _Q["q_growth_mom"](spark, sf_dir).toPandas().sort_values("month")
    prev = out["revenue"].shift(1)
    have = out["revenue_mom"].notna()
    recon = prev[have] * (1 + out.loc[have, "revenue_mom"])
    assert ((recon - out.loc[have, "revenue"]).abs()
            <= prev[have] * 1e-6 + 0.02).all()


def test_anova_decomposition_consistent(spark, sf_dir):
    """SSB + SSW equals total sum of squares about the mean (within
    rounding slack), F ≥ 0, and k = 7 weekdays."""
    r = _Q["q_anova_weekday"](spark, sf_dir).collect()[0]
    assert r.k == 7
    assert r.f_stat >= 0
    from modevetl_spark.sources.catalog import load

    o = load(spark, sf_dir, "orders").toPandas()
    x = o["o_totalprice"]
    sst = ((x - x.mean()) ** 2).sum()
    assert abs((r.ss_between + r.ss_within) - sst) < max(1.0, sst * 1e-6)


def test_theilsen_matches_numpy_median_of_slopes(spark, sf_dir):
    """The slope equals a direct numpy median over all pairwise slopes
    of the same monthly series."""
    import numpy as np

    from modevetl_spark.functions.compat import dsum
    from modevetl_spark.sources.catalog import load

    o = load(spark, sf_dir, "orders")
    m = (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(dsum("o_totalprice", 2).alias("y"))
        .toPandas()
        .sort_values("month")
        .reset_index(drop=True)
    )
    y = m["y"].to_numpy()
    i = np.arange(1, len(y) + 1)
    sl = [
        (y[jj] - y[ii]) / (i[jj] - i[ii])
        for ii in range(len(y))
        for jj in range(ii + 1, len(y))
    ]
    want = float(np.median(sl))
    got = _Q["q_theilsen_trend"](spark, sf_dir).collect()[0]
    assert got.n_months == len(y)
    assert got.n_pairs == len(sl)
    assert abs(got.theilsen_slope - round(want, 6)) < 1e-6


def test_corr_matrix_matches_numpy(spark, sf_dir):
    """Each reported r equals numpy's corrcoef on the raw columns
    (scale-invariance of Pearson makes the thousands-scaling moot)."""
    import numpy as np

    from modevetl_spark.sources.catalog import load

    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .toPandas()
    )
    raw = {
        "qty": li["l_quantity"],
        "prc_k": li["l_extendedprice"],
        "dsc": li["l_discount"],
        "tax": li["l_tax"],
    }
    out = _Q["q_corr_matrix"](spark, sf_dir).toPandas()
    assert len(out) == 6
    for _, r in out.iterrows():
        want = np.corrcoef(raw[r["col_a"]], raw[r["col_b"]])[0, 1]
        assert abs(r["pearson_r"] - want) < 1e-4, (r["col_a"], r["col_b"])


def test_spearman_matches_scipy_free_replay(spark, sf_dir):
    """rho equals a pandas rank-then-corrcoef replay on the same
    columns (average-rank ties)."""
    import numpy as np

    from modevetl_spark.sources.catalog import load

    li = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_quantity").cast("long").alias("x"),
            F.floor("l_extendedprice").cast("long").alias("y"),
        )
        .toPandas()
    )
    rx = li["x"].rank(method="average")
    ry = li["y"].rank(method="average")
    want = np.corrcoef(rx, ry)[0, 1]
    got = _Q["q_spearman_corr"](spark, sf_dir).collect()[0]
    assert got.n == len(li)
    assert abs(got.spearman_rho - want) < 1e-5


def test_tukey_fences_bracket_and_count(spark, sf_dir):
    """lo ≤ q1 ≤ q3 ≤ hi, and the outlier count matches a pandas
    replay with the same 6dp-rounded fences."""
    out = _Q["q_tukey_outliers"](spark, sf_dir).toPandas()
    assert (out["lo_fence"] <= out["q1"]).all()
    assert (out["q1"] <= out["q3"]).all()
    assert (out["q3"] <= out["hi_fence"]).all()
    from modevetl_spark.sources.catalog import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).toPandas()
    for _, r in out.iterrows():
        g = li[li["l_returnflag"] == r["l_returnflag"]]["l_extendedprice"]
        want = int(((g < r["lo_fence"]) | (g > r["hi_fence"])).sum())
        assert r["n_outliers"] == want
