"""Python mirrors of the JVM's numeric semantics, in one place.

The driver-side replays (graph ranks, k-means and PCA updates, MMR
greedy picks, RBO terms) and the sink's partition paths must reproduce
what Spark computes bit for bit. Spark routes a double through
``BigDecimal.valueOf`` (= ``Double.toString``, whose digits Python's
``repr`` reproduces) wherever it rounds or casts it to DECIMAL, and
Spark's decimal add re-types its result by the precision-loss rule.
These rules depend on the Spark version; keep every mirror of them here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_DEC = "decimal(38,12)"


def round_repr(x: float | None, dp: int) -> float | None:
    """Spark ``round(double, dp)``: HALF_UP at ``dp`` places on the
    SHORTEST decimal representation of the double (the JVM routes
    double→BigDecimal through ``BigDecimal.valueOf`` = ``Double.toString``,
    which Python's ``repr`` reproduces digit-for-digit) — NOT on the exact
    binary expansion; NaN/±inf pass through. Probed at 9dp with a
    16k-value battery (8k adversarial half-ulp boundary doubles):
    repr-based HALF_UP matches Spark 16000/16000 while exact-expansion
    HALF_UP mismatches 2284 of them — e.g. round(0.012873305, 8): the
    double's exact expansion is 0.0128733049999999998… (→ .01287330 down)
    but both engines see the shortest repr "0.012873305" and round UP to
    0.01287331."""
    import decimal
    import math

    if x is None or math.isnan(x) or math.isinf(x):
        return x
    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-dp), rounding=decimal.ROUND_HALF_UP
        )
    )


def dec9(x: float):
    """Spark ``CAST(double AS DECIMAL(18,9))`` mirrored exactly: the
    Cast routes double→Decimal through ``BigDecimal.decimal(d)`` =
    ``BigDecimal.valueOf(d)`` = HALF_UP quantization of the double's
    SHORTEST decimal repr (``Double.toString`` ≡ Python ``repr`` on
    this build — same 16k battery as :func:`round_repr`: 0 mismatches)."""
    import decimal

    return decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("1E-9"), rounding=decimal.ROUND_HALF_UP
    )


def java_double_str(x: float) -> str:
    """Java ``Double.toString`` rendering — what Spark writes in partition
    paths for double values ('1.0E-7', '600000.0', 'NaN'), which diverges
    from Python's repr ('1e-07', 'nan'): decimal notation for
    1e-3 <= |x| < 1e7, otherwise scientific 'd.dddEe' with no '+' and no
    exponent padding. Both languages print the shortest digit string that
    round-trips, so only the framing differs. (FloatType partition
    columns can still diverge — Float.toString uses float32 shortest
    digits — and then the swap's pre-flight aborts loudly rather than
    mis-addressing.)"""
    import math
    from decimal import Decimal

    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    if x == 0.0:
        return "-0.0" if math.copysign(1.0, x) < 0 else "0.0"
    sign = "-" if x < 0 else ""
    d = Decimal(repr(abs(x)))
    digits = "".join(map(str, d.as_tuple().digits)).rstrip("0") or "0"
    adj = d.adjusted()  # exponent of the leading digit
    if -3 <= adj < 7:
        if adj >= 0:
            ip = digits[: adj + 1].ljust(adj + 1, "0")
            fp = digits[adj + 1 :] or "0"
        else:
            ip = "0"
            fp = "0" * (-adj - 1) + digits
        return f"{sign}{ip}.{fp}"
    mantissa = digits[0] + "." + (digits[1:] or "0")
    return f"{sign}{mantissa}E{adj}"


def dec_fold_sum(arr: Column) -> Column:
    """Left fold of an array of DECIMAL(38,12) terms in ARRAY ORDER.

    NOT the exact decimal sum (r13 measurement): the lambda's
    DECIMAL(38,12) + DECIMAL(38,12) add wants precision 39, which
    Spark's allowPrecisionLoss rule re-types as DECIMAL(38,11) — every
    step HALF_UP-rounds the running sum at 11dp before the cast back to
    scale 12 (so every fold result's 12th decimal digit is 0). The fold
    IS deterministic and partition-invariant (the order is the array's
    element order), and the external-replay contract holds — an
    external engine replays it stepwise, as _kmeans_argmin does — but
    any claim that it equals SUM() of the terms is wrong by up to
    ~5e-12 per element."""
    return F.aggregate(
        arr, F.lit(0).cast(_DEC), lambda acc, x: (acc + x).cast(_DEC)
    )
