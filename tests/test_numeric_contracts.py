"""Extreme-numerics robustness contracts (round-11 hardening).

The round-10 engine-only sweep over the extreme-numerics twin (1e300,
the 5e-324 subnormal, large negatives and zeros in every float value
column — ``tests/dirty_fixtures.build_hostile_numeric``) found 17 keys
whose whole job ABORTED on one hostile row at the exact-decimal fold
seam under ANSI mode (COVERAGE.md M11):

- 13 × NUMERIC_VALUE_OUT_OF_RANGE: ``cast(1e300 AS DECIMAL(18,6))``
  raises — the money-discipline's input-domain edge
  (q_abc_classification, q_agg_incremental_state, q_anomaly_days,
  q_changepoint_cusum, q_corr_matrix, q_customer_rfm, q_decile_lift,
  q_ewma_trunc, q_gapfill_percentile, q_rank_rbo, q_revenue_gini,
  q_runs_test, q_tpch_dormant_customers);
- 3 × CAST_OVERFLOW: double→BIGINT quantization (q_linkage_weights,
  q_spearman_corr, q_weighted_median);
- 1 × integer-div DIVIDE_BY_ZERO: a zero weight (q_sample_weighted).

The fix is the cross-engine-verified mechanical swap — engine
``.cast(...)`` → ``.try_cast(...)`` (the ``dsum``/``money`` folds in
functions/compat, plus the aggstate partial-sum seam) and oracle
``CAST`` → ``TRY_CAST``, with ``nullif`` on the one integer division.
Out-of-range operands become NULL and fall out of SUM exactly like
NULL inputs, so the swap is value-neutral on in-range data; Spark and
DuckDB agree on the entire class, which
``test_try_cast_cross_engine_agreement`` pins directly.
"""

from __future__ import annotations

import pytest

from tests.dirty_fixtures import build_hostile_numeric

NUMERIC_CRASH_KEYS = [
    "q_abc_classification",
    "q_agg_incremental_state",
    "q_anomaly_days",
    "q_changepoint_cusum",
    "q_corr_matrix",
    "q_customer_rfm",
    "q_decile_lift",
    "q_ewma_trunc",
    "q_gapfill_percentile",
    "q_linkage_weights",
    "q_rank_rbo",
    "q_revenue_gini",
    "q_runs_test",
    "q_sample_weighted",
    "q_spearman_corr",
    "q_tpch_dormant_customers",
    "q_weighted_median",
]


@pytest.fixture(scope="module")
def hostile_num_dir(sf_dir, tmp_path_factory) -> str:
    return build_hostile_numeric(
        sf_dir, tmp_path_factory.mktemp("hostile_num")
    )


def _registry():
    from modevetl_spark.queries import all_queries

    return all_queries()


# Round-12 census: upgrading the sweep's engine probe from .count()
# (which Catalyst prunes around — unconsumed projections AND aggregate
# value expressions never evaluate) to full materialization exposed 23
# MORE keys aborting on one hostile row at the same fold seams, fixed
# with the identical try/guard conventions. Pinned here with the STRONG
# probe so the class cannot silently return.
R12_CENSUS_KEYS = [
    "q_agg_basic",
    "q_agg_moments",
    "q_anova_weekday",
    "q_bucket_numeric",
    "q_cohort_ltv",
    "q_cube_allow_nulls",
    "q_cube_subtotals",
    "q_cube_time",
    "q_events_tumbling",
    "q_gapfill_ffill",
    "q_gapfill_interp",
    "q_groupby_multi",
    "q_growth_mom",
    "q_math_sig_round",
    "q_rollup",
    "q_seasonal_index",
    "q_skew_salted_agg",
    "q_theilsen_trend",
    "q_tpch_pricing_summary",
    "q_window_cumsum",
    "q_window_moving_avg",
    "q_window_range_frame",
    "q_zscore_normalize",
]

# q_tpch_pricing_summary runs crash-free but its hostile-twin sum_charge
# reaches ~1e15, where DuckDB's 1-ulp DECIMAL(38,12)->DOUBLE cast gap
# exceeds the 2dp rounding grid (clean data sits at ~2e10) — run-pinned
# on the twin, parity-graded on the clean fixtures like every key.
R12_CENSUS_PARITY_KEYS = [
    k for k in R12_CENSUS_KEYS if k != "q_tpch_pricing_summary"
]


@pytest.mark.parametrize("key", NUMERIC_CRASH_KEYS + R12_CENSUS_KEYS)
def test_extreme_numerics_never_abort(spark, hostile_num_dir, key):
    """One 1e300/subnormal/zero row must never kill the job — the
    whole-job-abort class a clean graded fixture can never surface.

    toPandas, NOT count: the round-12 lesson is that .count() lets
    Catalyst prune the very expression under test."""
    queries = _registry()
    queries[key](spark, hostile_num_dir).toPandas()


@pytest.mark.parametrize("key", R12_CENSUS_PARITY_KEYS)
def test_r12_census_hostile_parity(spark, hostile_num_dir, key):
    """The census keys hold FULL engine-vs-oracle parity ON the hostile
    twin (strictly stronger than crash-freedom): both engines NULL-fold
    the same admitted DECIMAL(18,6) range."""
    from modevetl_spark.queries import all_oracle
    from tests.oracle import compare, duck_con

    queries = _registry()
    df = queries[key](spark, hostile_num_dir)
    con = duck_con(hostile_num_dir)
    try:
        compare(df, con, all_oracle()[key])
    finally:
        con.close()


@pytest.mark.parametrize("key", NUMERIC_CRASH_KEYS)
def test_extreme_numerics_parity(spark, hostile_num_dir, key):
    """Stronger than crash-freedom: because the TRY_CAST contract is
    symmetric, all 17 keys hold FULL engine-vs-oracle parity even on
    the hostile twin — the same row/schema/value check the driver runs.
    Two residues were closed to get here: the abc oracle's revenue
    product needed DECIMAL(19,6) operands (DuckDB's non-widening
    int64 multiply overflows on hostile magnitudes), and gini excludes
    NULL-spend customers on both engines (their Lorenz rank is
    undefined and the engines disagree on NULL sort order)."""
    from tests.oracle import compare, duck_con

    queries = _registry()
    from modevetl_spark.queries import all_oracle

    df = queries[key](spark, hostile_num_dir)
    con = duck_con(hostile_num_dir)
    try:
        compare(df, con, all_oracle()[key])
    finally:
        con.close()


def test_try_cast_cross_engine_agreement(spark):
    """The mechanism behind every fix in this file: Spark ``try_cast``
    and DuckDB ``TRY_CAST`` agree exactly on the extreme-numerics class
    (out-of-range → NULL, subnormal → 0.000000, overflow BIGINT →
    NULL), so swapping CAST→TRY_CAST on both sides preserves
    engine-oracle parity on EVERY input, hostile or clean."""
    import duckdb
    from pyspark.sql import functions as F

    # the BIGINT leg uses INTEGRAL doubles only: on non-integral values
    # Spark's double→BIGINT truncates while DuckDB's rounds (documented
    # dialect difference — since round 12 the quantity legs in
    # q_weighted_median / q_spearman_corr ROUND() before the cast on
    # BOTH sides — half-away-from-zero in both engines — so fractional
    # poison values cast identically; r11 ADVICE).
    # NOTE floor() itself is NOT symmetric either: Spark's
    # floor(double) returns a SATURATING BIGINT (floor(1e300) =
    # Long.MaxValue, no error) where DuckDB keeps a double — which is
    # why the floor legs in q_weighted_median / q_spearman_corr use an
    # explicit |x| < 9.2e18 range guard, mirrored verbatim in their
    # oracles since round 12 (TRY_CAST alone admits [9.2e18, 2^63)
    # doubles the engine guard NULLs; r11 ADVICE).
    dec_vals = [1e300, 5e-324, -99999.99, 0.0, 123.456, -1e300, float("inf")]
    big_vals = [1e300, 0.0, 123.0, -99999.0, -1e300, float("inf")]
    sdec = (
        spark.createDataFrame([(v,) for v in dec_vals], "v double")
        .select(
            F.col("v").try_cast("decimal(18,6)").cast("string").alias("dec")
        )
        .collect()
    )
    sbig = (
        spark.createDataFrame([(v,) for v in big_vals], "v double")
        .select(F.col("v").try_cast("bigint").alias("big"))
        .collect()
    )
    con = duckdb.connect()
    try:
        ddec = con.execute(
            "SELECT CAST(TRY_CAST(v AS DECIMAL(18,6)) AS VARCHAR) AS dec"
            " FROM (SELECT UNNEST(?::DOUBLE[]) AS v)",
            [dec_vals],
        ).fetchall()
        dbig = con.execute(
            "SELECT TRY_CAST(v AS BIGINT) AS big"
            " FROM (SELECT UNNEST(?::DOUBLE[]) AS v)",
            [big_vals],
        ).fetchall()
    finally:
        con.close()
    for (s_dec,), (d_dec,) in zip(sdec, ddec):
        assert s_dec == d_dec, (s_dec, d_dec)
    for (s_big,), (d_big,) in zip(sbig, dbig):
        assert s_big == d_big, (s_big, d_big)


def test_compat_folds_are_structurally_hostile_proof(spark):
    """Round-13 structural close of the one-dirty-row abort class: the
    shared compat folds themselves (dsum/davg/money/dsum_money and
    their SQL twins) are try folds, so NO consumer can abort on an
    out-of-range operand — including consumers whose data filters
    happen to exclude the sweep twins' fresh-keyed hostile rows
    (q_cube_dense's shipdate guard), which per-key twin sweeps can
    never certify. Asserted at the helper level, reachability-free:

    - one 1e300 row and one subnormal row NEVER abort the fold;
    - the hostile operand is ABSENT from sum AND mean (davg divides by
      the count of the FOLDED expression — mean of valid values, the
      r12 ADVICE semantics; a raw-count denominator would silently
      deflate the mean);
    - DuckDB's SQL twins produce the identical values on the same rows
      (the driver's parity contract, minus the fixture).
    """
    import duckdb

    from modevetl_spark.functions.compat import (
        davg,
        dsum,
        dsum_money,
        sql_davg,
        sql_dsum,
        sql_dsum_money,
    )

    rows = [
        (100.25, 0.05),
        (200.75, 0.10),
        (1e300, 0.05),     # decimal out-of-range: folds to NULL, not abort
        (5e-324, 0.00),    # subnormal: folds to 0.000000 in both engines
        (None, 0.05),      # plain NULL baseline
        (-50.5, 0.20),
    ]
    df = spark.createDataFrame(rows, "l_extendedprice double, l_discount double")
    got = df.agg(
        dsum("l_extendedprice", 2).alias("s"),
        davg("l_extendedprice", 6).alias("a"),
        dsum_money("l_extendedprice", "l_discount").alias("rev"),
    ).collect()[0]
    # valid fold members: 100.25, 200.75, 0.000000 (subnormal), -50.5
    assert got.s == 250.5
    # mean of VALID values: 250.5 / 4 (1e300 and NULL absent from the
    # denominator; the subnormal counts as a 0 member)
    assert got.a == round(250.5 / 4, 6)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE t AS SELECT * FROM (VALUES "
            + ", ".join(
                f"({repr(p) if p is not None else 'NULL'}::DOUBLE, {d}::DOUBLE)"
                for p, d in rows
            )
            + ") AS v(l_extendedprice, l_discount)"
        )
        duck = con.execute(
            f"SELECT {sql_dsum('l_extendedprice', 's')},"
            f" {sql_davg('l_extendedprice', 'a')},"
            f" {sql_dsum_money('rev')} FROM t"
        ).fetchone()
    finally:
        con.close()
    assert duck[0] == got.s
    assert duck[1] == got.a
    assert duck[2] == got.rev


def test_nan_cast_contract_cross_engine(spark):
    """The round-13 NaN census's primitive contract, pinned: Spark's
    ANSI cast AND try_cast of NaN to DECIMAL both yield NULL (only
    out-of-range FINITE values raise), which is why the registry-wide
    NaN-twin engine sweep is 274/274 crash-free with zero per-key
    work. DuckDB 1.0.0 is ASYMMETRIC here: ``TRY_CAST(NaN AS BIGINT)``
    is NULL but ``TRY_CAST(NaN AS DECIMAL)`` RAISES — pinned so a
    DuckDB upgrade that fixes it is noticed (the NaN twin could then
    graduate from engine-only to parity mode)."""
    import duckdb
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(float("nan"),)], "v double")
    row = df.select(
        F.col("v").cast("decimal(18,6)").alias("c"),
        F.col("v").try_cast("decimal(18,6)").alias("t"),
    ).collect()[0]
    assert row.c is None and row.t is None
    con = duckdb.connect()
    try:
        assert con.execute(
            "SELECT TRY_CAST('nan'::DOUBLE AS BIGINT)"
        ).fetchone()[0] is None
        with pytest.raises(duckdb.InvalidInputException):
            con.execute("SELECT TRY_CAST('nan'::DOUBLE AS DECIMAL(18,6))")
    finally:
        con.close()


@pytest.fixture(scope="module")
def hostile_nan_dir(sf_dir, tmp_path_factory) -> str:
    from tests.dirty_fixtures import build_hostile_nan

    return build_hostile_nan(sf_dir, tmp_path_factory.mktemp("hostile_nan"))


@pytest.mark.parametrize(
    "key",
    [
        # one representative per fold family: compat consumers, an
        # inline ROUND(·,9) term fold, a window fold, a cosine family
        # member (NaN-poisoned vector), and the floor-guard tier
        "q_agg_basic",
        "q_flagship_revenue_cube",
        "q_psi_stability",
        "q_window_range_frame",
        "q_sim_topk",
        "q_benford_digits",
    ],
)
def test_nan_rows_never_abort(spark, hostile_nan_dir, key):
    """CI sample of the registry-wide NaN census (the full 274-key
    sweep is scripts/dirty_sweep.py --nan): one NaN row — scalar or
    inside an embedding — never kills the job. toPandas, not count
    (the r12 pruning lesson)."""
    queries = _registry()
    queries[key](spark, hostile_nan_dir).toPandas()


class TestRound9Mirror:
    """Pin the JVM rounding semantics the driver-side replays mirror.

    Spark's ROUND(double, n) and CAST(double AS DECIMAL) both route
    through BigDecimal.valueOf(d) = Double.toString(d): HALF_UP on the
    double's SHORTEST decimal representation, not its exact binary
    expansion. Probed on this build (Spark 4.1.2 / JDK 17): a 16k-value
    battery with 8k half-ulp boundary doubles matched repr-based HALF_UP
    16000/16000 while exact-expansion HALF_UP mismatched 2284. The two
    pinned values below are battery members verified against Spark SQL:
      round(CAST(7.5e-09 AS DOUBLE), 9)         = 8e-09
      round(CAST(0.1234567885 AS DOUBLE), 9)    = 0.123456789
    (their exact expansions are ...49999, which would round DOWN)."""

    def test_round9_uses_shortest_repr(self):
        from modevetl_spark.functions.jvmnum import round_repr

        assert round_repr(7.5e-09, 9) == 8e-09
        assert round_repr(0.1234567885, 9) == 0.123456789
        # non-boundary values are unaffected
        assert round_repr(0.0128733049, 9) == 0.012873305
        assert round_repr(1.0 / 3.0, 9) == 0.333333333

    def test_dec9_uses_shortest_repr(self):
        import decimal

        from modevetl_spark.functions.jvmnum import dec9

        assert dec9(7.5e-09) == decimal.Decimal("8E-9")
        assert dec9(0.1234567885) == decimal.Decimal("0.123456789")

    def test_nan_inf_passthrough(self):
        import math

        from modevetl_spark.functions.jvmnum import round_repr

        assert math.isnan(round_repr(float("nan"), 9))
        assert round_repr(float("inf"), 9) == float("inf")
        assert round_repr(None, 9) is None
