"""Oracle-parity numeric compat layer (SURVEY.md §7 "hard parts").

Floating-point aggregation is order-dependent: ``sum(double)`` over a
shuffled DataFrame and over DuckDB's sequential scan can differ in the last
bits, which breaks the driver's value-hash comparison. The fix is to make
the aggregation *exact*: cast each operand to a decimal wide enough to hold
it losslessly-after-fixed-rounding, aggregate in decimal (exact, associative),
and cast the final value back to double. Both engines then produce
bit-identical doubles regardless of row order or partial-aggregation
topology — and the decimal cast per row is still whole-stage-codegen'd
JVM-side work, so there is no performance cliff at scale.

Precision choices keep every intermediate within DECIMAL(38,_): operands at
(18,6); a product of two (18,6) is at most (37,12) in Spark's rules, and
DuckDB widens try-folded operands to (19,6) so its product lands exactly in
(38,12) int128 (its decimal multiply does not auto-widen — an (18,6)x(18,6)
product runs on the int64 path and overflows on exactly the magnitudes
TRY_CAST admits).

Since round 13 the TRY convention is the ONLY convention: every fold seam
is ``try_cast`` on the engine side, mirrored as ``TRY_CAST`` in the oracle.
Under ANSI mode a single out-of-DECIMAL(18,6)-range value (1e300, or a
product that overflows) ABORTS the whole job at a raw fold cast — at
100 TB that is one hostile row killing a 1000-executor stage. The try fold
turns the operand into NULL instead, which then falls out of SUM exactly
like a NULL input; verified cross-engine on the whole hostile class
(1e300 → NULL both engines, 5e-324 subnormal → 0.000000 both,
tests/test_numeric_contracts.py). The round-12 hostile sweep fixed every
key its twins could REACH key-by-key; fixture twins under-reach by
construction (fresh-keyed hostile rows are excluded by any data filter a
key happens to have — q_cube_dense's shipdate guard), so the raw variants
were retired here at the helper level to close the crash class
structurally (round-12 verdict #1). In-range values are bit-identical:
``try_cast == cast`` on the entire admitted range, so clean-data hashes
cannot move.

Averages are the mean of VALID values: both the sum and the count fold the
operand, so an out-of-range value is treated as absent from the mean
exactly like a NULL — consistent with the sum's treat-as-absent semantics
(round-12 ADVICE: dividing a try-folded sum by a raw count silently
deflates the average instead).

Reference analog: the reference aggregates in pure Python floats
(``pyLibrary/queries/windows.py`` accumulators) and never needed
cross-engine reproducibility; we do.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str, places: int = 2) -> Column:
    """Exact (decimal-accumulated) sum, returned as a rounded double;
    out-of-range operands fold to NULL (try convention) instead of
    aborting the stage.

    The final ROUND matters: DuckDB's DECIMAL(38,12)->DOUBLE cast is not
    correctly rounded (int128 / 10^scale in float), so the two engines can
    differ by 1 ulp before rounding; after rounding to ``places`` they agree
    (verified empirically over every suppkey group at sf0.01 — 100/100 with
    ROUND, 57/100 with decimal-quantize, because DuckDB's decimal rescale is
    not HALF_UP either).
    """
    return F.round(F.sum(_c(col).try_cast(DEC)).cast("double"), places)


def davg(col: Column | str, places: int = 6) -> Column:
    """Exact-sum mean of the VALID values: try-folded decimal sum cast to
    double, divided by the count of the SAME folded expression, rounded
    (same 1-ulp rationale as :func:`dsum`). NULL when no value survives
    the fold (all-NULL or all-out-of-range group) — Spark's ANSI mode
    raises on the 0-count division where DuckDB's ``SUM/COUNT`` quietly
    yields NULL, so the guard must be explicit (same lesson as the
    z-score zero-std case)."""
    folded = _c(col).try_cast(DEC)
    return F.when(
        F.count(folded) > 0,
        F.round(F.sum(folded).cast("double") / F.count(folded), places),
    )


def money(price: Column | str, discount: Column | str) -> Column:
    """The TPC-H revenue term price*(1-discount) in exact decimal; either
    operand out of DECIMAL(18,6) range nulls the term for that row (try
    convention). The SQL twin :func:`sql_money` TRY_CASTs at the SAME
    (18,6) before widening for DuckDB's non-widening multiply, so hostile
    magnitudes in [1e12, 1e13) fold to NULL on BOTH engines (r11 ADVICE:
    a (19,6)-admitting oracle kept values the engine dropped)."""
    return _c(price).try_cast(DEC) * (F.lit(1) - _c(discount)).try_cast(DEC)


def dsum_money(price: Column | str, discount: Column | str, places: int = 2) -> Column:
    return F.round(F.sum(money(price, discount)).cast("double"), places)


def dmul(a: Column | str, b: Column | str) -> Column:
    """Exact decimal product of two money-ish operands under the try
    convention (the generic sibling of :func:`money`, which hard-codes
    the TPC-H ``price*(1-discount)`` shape): either operand out of
    DECIMAL(18,6) range nulls the product for that row instead of
    aborting the stage. Spark widens the (18,6)x(18,6) product to
    (37,12) itself; the SQL twin :func:`sql_dmul` must widen explicitly
    (see its docstring)."""
    return _c(a).try_cast(DEC) * _c(b).try_cast(DEC)


def round_sig(col: Column | str, digits: int) -> Column:
    """Round to significant digits — the reference's ``Math.round(value,
    digits=n)`` (``pyLibrary/maths/__init__.py``) rounds to significant
    figures, not decimal places.

    try_divide, not ``/``: for a subnormal input (|x| ~ 5e-324) the
    scale term 10^(floor(log10|x|)-d+1) underflows to 0.0, and Spark's
    division aborts the stage where DuckDB's double x/0.0 quietly
    yields NULL — try_divide matches that NULL convention exactly, so
    one denormal row degrades to a NULL output instead of killing the
    job. In-range values divide identically.
    """
    c = _c(col)
    scale = F.pow(F.lit(10.0), F.floor(F.log10(F.abs(c))) - F.lit(digits - 1))
    return F.when(c == 0, F.lit(0.0)).otherwise(
        F.round(F.try_divide(c, scale), 0) * scale
    )


# --- SQL-side twins (DuckDB dialect, used to build oracle_sql strings) ---


def sql_dsum(expr: str, alias: str, places: int = 2) -> str:
    """SQL twin of :func:`dsum`: an out-of-range operand becomes NULL
    instead of aborting (the round-12 strong-materialization hostile
    sweep showed the raw-cast fold aborting 17 engines — and their
    oracles' matching raw CASTs erroring symmetrically). In-range values
    are bit-identical to the pre-r13 raw-CAST form."""
    return (
        f"ROUND(CAST(SUM(TRY_CAST({expr} AS DECIMAL(18,6))) AS DOUBLE),"
        f" {places}) AS {alias}"
    )


def sql_davg(expr: str, alias: str, places: int = 6) -> str:
    """SQL twin of :func:`davg` (mean of valid values): both the SUM and
    the COUNT fold the operand through the same TRY_CAST, so an
    out-of-range value is absent from numerator AND denominator —
    exactly the engine's F.count(folded)."""
    return (
        f"ROUND(CAST(SUM(TRY_CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"
        f" / COUNT(TRY_CAST({expr} AS DECIMAL(18,6))), {places}) AS {alias}"
    )


def sql_money(price: str = "l_extendedprice", discount: str = "l_discount") -> str:
    """SQL twin of :func:`money` (try convention since r13; consumed by
    _ABC_ORACLE and every revenue-term oracle).

    Two casts per operand, each load-bearing: the INNER TRY_CAST admits
    exactly Spark's DECIMAL(18,6) range (so hostile magnitudes in
    [1e12, 1e13) fold to NULL on BOTH engines — a (19,6) TRY_CAST here
    kept values the engine dropped), and the OUTER lossless CAST to
    (19,6) widens the operands because DuckDB's decimal multiply does
    not auto-widen: an (18,6)x(18,6) product runs on the int64 path and
    overflows, while (19,6)x(19,6) lands exactly in (38,12) int128.
    Spark's money stays (18,6) (it widens to (37,12) itself) — values
    identical."""
    return (
        f"CAST(TRY_CAST({price} AS DECIMAL(18,6)) AS DECIMAL(19,6))"
        f" * CAST(TRY_CAST(1 - {discount} AS DECIMAL(18,6)) AS DECIMAL(19,6))"
    )


def sql_dsum_money(alias: str = "revenue", places: int = 2) -> str:
    return f"ROUND(CAST(SUM({sql_money()}) AS DOUBLE), {places}) AS {alias}"


def sql_dmul(a: str, b: str) -> str:
    """SQL twin of :func:`dmul`: inner TRY_CAST admits exactly Spark's
    DECIMAL(18,6) range (so both engines drop the same hostile
    magnitudes), outer lossless CAST to (19,6) widens because DuckDB's
    decimal multiply does not auto-widen — (19,6)x(19,6) lands exactly
    in (38,12) int128 (same two-cast rationale as :func:`sql_money`)."""
    return (
        f"CAST(TRY_CAST({a} AS DECIMAL(18,6)) AS DECIMAL(19,6))"
        f" * CAST(TRY_CAST({b} AS DECIMAL(18,6)) AS DECIMAL(19,6))"
    )
