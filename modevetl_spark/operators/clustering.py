"""Deterministic Lloyd k-means over an embedding column ([EXT] — the
corpus-curation clustering step: topic bucketing, domain balancing,
stratified eval splits all start from "cluster the embeddings").

Plain DataFrame ops, fixed iteration count, and the repo's float
discipline end-to-end, so the whole run is a deterministic recurrence an
external engine can replay exactly (the same contract as
operators/graph.pagerank):

- squared-distance terms are rounded to 12dp into DECIMAL(38,12)
  (embedding components are |x|<1, so a 12dp-rounded double survives
  the decimal cast losslessly) and folded left-to-right in ARRAY ORDER
  — deterministic but NOT the exact sum: the fold's decimal add is
  re-typed to DECIMAL(38,11) by Spark's precision-loss rule, so each
  step HALF_UP-rounds the running sum at 11dp (measured r13; see
  :func:`dec_fold_sum`);
- the argmin compares those deterministic decimals, ties broken by
  cluster id;
- centroid means are decimal-exact sums divided by the member count and
  rounded to ``quantize_dp`` (9dp default) — the davg shape.

Scale shape per iteration: the assignment is a broadcast cross join
with the k-row centroid table folded per-row (no explode, no shuffle —
the fact streams); the update explodes members to (cluster, dim, x)
triples whose partial aggregation collapses each task to k×dims rows
BEFORE the exchange, so the shuffle carries partitions×k×dims rows, not
the corpus. No driver collect anywhere; the centroid table stays a
DataFrame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(38,12)"

# fast-path flush threshold: per-task int64 pico-unit accumulators are
# flushed to a partial record batch before |sum| can approach 2^63
# (4e6 rows × 1e12 pico-units/row = 4e18 < 9.2e18)
_FAST_FLUSH_ROWS = 4_000_000


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


def sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance between two double arrays: each (x-y)^2 term
    is one correctly-rounded IEEE multiply of one correctly-rounded
    subtract — bit-identical in any engine — rounded to 12dp and folded
    in dim order (see :func:`dec_fold_sum` for the stepwise-11dp fold
    semantics)."""
    terms = F.zip_with(
        a, b, lambda x, y: F.round((x - y) * (x - y), 12).cast(_DEC)
    )
    return dec_fold_sum(terms)


def _assign(emb: DataFrame, cent: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """-> (id, vec, cluster, d): nearest centroid per row, d the exact
    decimal squared distance, ties to the smaller cluster id (the
    lexicographic struct-min)."""
    j = emb.crossJoin(F.broadcast(cent))
    dc = F.struct(
        sq_dist(F.col(vec_col), F.col("cv")).alias("d"),
        F.col("cluster").alias("cluster"),
    )
    picked = (
        j.select(id_col, vec_col, dc.alias("dc"))
        .groupBy(id_col)
        .agg(F.min("dc").alias("m"), F.first(vec_col).alias(vec_col))
    )
    return picked.select(
        id_col,
        vec_col,
        F.col("m.cluster").alias("cluster"),
        F.col("m.d").alias("d"),
    )


def kmeans_lloyd(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    k: int = 4,
    iterations: int = 2,
    quantize_dp: int = 9,
) -> DataFrame:
    """-> (id, cluster, dist): Lloyd's algorithm, ``iterations`` full
    assign+update rounds then a final assignment, centroids seeded from
    the rows with ``id_col`` < k.

    An empty cluster simply drops out of the mean table (k shrinks) —
    acceptable for curation workloads; seed-respawn policies belong to
    the caller. dist is the final squared distance rounded to 8dp.

    POINT-IN-TIME CONTRACT (r14, promoted from the path notes): the
    fast path launches bounded eager jobs at CALL time (the guard
    aggregate and one job per iteration) and snapshots seeds/centroids,
    while the returned final-assignment plan re-scans ``emb`` when the
    caller acts on it — so the input relation must be immutable (and
    deterministic) between the ``kmeans_lloyd`` call and that action,
    or the snapshotted centroids describe data the assignment pass
    never saw. Immutable parquet fixtures satisfy this trivially; a
    mutated source fails loudly (the Arrow pass re-validates vector
    length per batch). The generic path is uniformly lazy and
    self-consistent by construction.

    Two value-identical execution paths (r13 optimization, guide
    §4.2/§8 — the q_embedding_pca recipe applied to the assignment
    fold):

    - FAST: when one guard aggregate proves the input inside the
      exactness domain (unique non-NULL integer ids ≥ 0, uniform
      vector length 1..1024, every element non-NULL, finite, |x| ≤ 1,
      ≥ 1 seed row), each iteration is ONE Arrow-vectorized pass
      emitting exact pico-unit (cluster, dim) mean partials, the
      centroid recurrence replays on the driver over k×dims bounded
      rows (the sketch-state collect class — never data-sized), and
      the final assignment is one more Arrow pass. See
      :func:`_kmeans_units` for the bit-exactness argument against the
      decimal fold. This path launches bounded EAGER jobs (one
      guard+seed aggregate, one per iteration) at call time.
    - GENERIC (:func:`_kmeans_generic`, the pre-r13 form, unchanged):
      anything the guard cannot prove — ragged/NULL/NaN/huge vectors,
      duplicate or negative ids — takes the broadcast-cross-join
      decimal-fold plan, so hostile-twin semantics are byte-identical
      to round 12 by construction.
    """
    prof = _kmeans_fast_profile(emb, id_col, vec_col, k)
    if prof is not None:
        dims, seeds = prof
        return _kmeans_fast(
            emb, id_col, vec_col, iterations, quantize_dp, dims, seeds
        )
    return _kmeans_generic(emb, id_col, vec_col, k, iterations, quantize_dp)


def _kmeans_generic(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iterations: int,
    quantize_dp: int,
) -> DataFrame:
    """The generic (pre-r13) plan: per-iteration broadcast cross join +
    stepwise-decimal fold assignment, posexplode mean update.

    The plan is returned LAZY and uncached — measured at sf0.1 (2×2:
    {corpus cache} × {eager materialization}), every managed-lifetime
    variant lost: an in-function cache can only be released via an
    eager materialization whose extra pass costs more than the cache
    saves (3.9 s vs 2.2 s), and ReuseExchange already dedupes the
    repeated assignment subtrees inside the single action. For MANY
    iterations over a 100 TB corpus, cache the input yourself (MLlib's
    pattern — the caller owns the lifetime this function can't):
    ``emb = emb.cache(); kmeans_lloyd(emb, ...); emb.unpersist()``.
    Two no-shuffle rewrites of the assignment were measured SLOWER at
    sf0.1 (array_min/transform projection 4.78 vs 2.42 s; pivoted
    least(struct) 2× worse) — the per-assignment exchange is also the
    ReuseExchange anchor. Kept as the fallback for inputs outside the
    fast path's exactness domain.
    """
    cent = emb.where(F.col(id_col) < k).select(
        F.col(id_col).cast("int").alias("cluster"), F.col(vec_col).alias("cv")
    )
    for _ in range(iterations):
        memb = _assign(emb, cent, id_col, vec_col)
        triples = memb.select(
            "cluster", F.posexplode(F.col(vec_col)).alias("pos", "x")
        )
        means = (
            triples.groupBy("cluster", "pos")
            .agg(
                F.sum(F.round(F.col("x"), 12).cast(_DEC)).alias("s"),
                F.count("x").alias("n"),
            )
            .select(
                "cluster",
                "pos",
                F.round(
                    F.col("s").cast("double") / F.col("n"), quantize_dp
                ).alias("m"),
            )
        )
        cent = means.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda t: t.m,
            ).alias("cv")
        )
    final = _assign(emb, cent, id_col, vec_col)
    return final.select(
        id_col,
        "cluster",
        F.round(F.col("d").cast("double"), 8).alias("dist"),
    )


# --- guarded Arrow fast path (r13 optimization) --------------------------


def _kmeans_fast_profile(emb: DataFrame, id_col: str, vec_col: str, k: int):
    """ONE aggregate pass: return (uniform vector length, seed rows)
    when the input is provably inside the fast path's exactness domain,
    else None (→ generic path). The collect is one row whose aggregate
    buffers are ALL O(1)-or-O(k)-bounded by construction — the
    scalar-watermark class even on hostile input (r14, the r13 advice
    fix: the former ``collect_list(when(id < k, struct))`` seed column
    accumulated one struct per MATCHING ROW, so an input with many
    duplicate ids < k — exactly a shape the guard exists to reject —
    could balloon the aggregation buffer before the distinctness check
    ever ran; the seeds now ride as k bounded ``first(when(id = i))``
    cells, one value each regardless of duplicates, and a k > 64 caller
    falls back to a scalar guard + a second ≤k-row seed fetch).

    Domain (each condition is load-bearing for a specific exactness
    argument in :func:`_kmeans_units` / :func:`_kmeans_fast`):

    - id column is an integer type, every id non-NULL, DISTINCT and
      ≥ 0 (the generic ``groupBy(id)`` dedups duplicate ids — a
      row-independent Arrow fold must not see them; negative ids keep
      the generic seed-cast semantics);
    - ≥ 1 seed row (id < k) — an empty centroid table stays generic;
    - every vector non-NULL with the SAME length in 1..1024 (zip_with
      NULL-padding and the 12dp repr-losslessness bound d ≤ 4·L < 4503
      both need it);
    - every element non-NULL, finite, |x| ≤ 1 — so every squared
      term ≤ 4 and every 12dp-rounded value survives the
      DECIMAL(38,12) cast losslessly (13 sig digits; 1e-12 grid gap
      ≫ ulp(4) ≈ 8.9e-16);
    - ≤ 9·10⁶ rows total (r14, the advice fix): the driver replay's
      pico-sum→double equivalence is verified for per-(cluster, dim)
      sums < 2⁵³, i.e. ~9·10⁶ members/cluster at |x| ≤ 1; bounding the
      TOTAL row count is the conservative sufficient condition, and
      beyond it the generic path's decimal cast is authoritative.
    """
    from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType

    ftypes = {f.name: f.dataType for f in emb.schema.fields}
    idt, vdt = ftypes.get(id_col), ftypes.get(vec_col)
    if not isinstance(idt, (LongType, IntegerType)):
        return None
    if not (isinstance(vdt, ArrayType) and isinstance(vdt.elementType, DoubleType)):
        return None
    v = F.col(vec_col)
    hostile = F.exists(v, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) > 1.0))
    scalar_aggs = [
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct(F.col(id_col)).alias("nid"),
        F.min(F.col(id_col)).alias("mnid"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).alias("nullv"),
        F.min(F.size(v)).alias("mnl"),
        F.max(F.size(v)).alias("mxl"),
        F.sum(F.when(hostile, 1).otherwise(0)).alias("bad"),
    ]
    # the k seed vectors ride the SAME aggregate as k first(when(id=i))
    # cells — each buffer holds at most ONE vector no matter how many
    # duplicate rows share the id, so the fast path still opens with
    # one job AND the buffer stays bounded on hostile input; duplicate
    # ids make the picked value arbitrary, but the nid != cnt check
    # below discards the whole profile in that case
    seed_aggs = [
        F.first(F.when(F.col(id_col) == i, v), ignorenulls=True).alias(
            f"_seed_{i}"
        )
        for i in range(min(k, 64))
    ]
    row = emb.agg(*scalar_aggs, *seed_aggs).collect()[0]
    if (
        not row.cnt
        or row.cnt > 9_000_000
        or row.nid != row.cnt
        or row.mnid is None
        or row.mnid < 0
        or row.nullv
        or row.bad
        or row.mnl is None
        or row.mnl != row.mxl
        or row.mnl < 1
        or row.mnl > 1024
    ):
        return None
    if k <= 64:
        seeds = [
            (i, list(row[f"_seed_{i}"]))
            for i in range(k)
            if row[f"_seed_{i}"] is not None
        ]
    else:
        # distinctness is proven, so this second job is bounded at k rows
        seeds = [
            (int(r[id_col]), list(r[vec_col]))
            for r in emb.where(F.col(id_col) < k)
            .select(id_col, vec_col)
            .collect()
        ]
        seeds.sort(key=lambda t: t[0])
    if not seeds:
        return None
    return int(row.mnl), seeds


def _kmeans_units(p):
    """Vectorized pico-units of a float64 array with |values| ≤ 4:
    the int64 ``u`` with ``ROUND(p, 12) CAST DECIMAL(38,12) == u/1e12``
    EXACTLY — Spark's round routes double→BigDecimal through
    ``BigDecimal.valueOf`` = ``Double.toString``, i.e. HALF_UP on the
    SHORTEST decimal repr (see queries/wave11._round9 and its 16k-value
    probe battery), and for |p| ≤ 4 the rounded double then survives
    the decimal cast losslessly (≤ 13 sig digits; two distinct 12dp
    decimals are 1e-12 apart ≫ ulp(4) ≈ 8.9e-16, so repr round-trips).

    Fast path: a Dekker two-product gives the EXACT error of p·1e12,
    so the half-up decision is certain except near a .5 boundary;
    every element within 1e-3 of one (repr-vs-exact divergence is
    bounded by ulp(4)·1e12 ≈ 9e-4) is recomputed through the exact
    repr-based Decimal path. Same recipe as queries/wave11._pca_units
    with the window widened for the larger magnitude bound.
    """
    import decimal

    import numpy as np

    b = 1.0e12
    split = 134217729.0  # 2^27 + 1 (Dekker)
    c = split * b
    b_hi = c - (c - b)
    b_lo = b - b_hi
    hi = p * b
    ca = split * p
    a_hi = ca - (ca - p)
    a_lo = p - a_hi
    lo = ((a_hi * b_hi - hi) + a_hi * b_lo + a_lo * b_hi) + a_lo * b_lo
    base = np.floor(hi)
    frac = (hi - base) + lo
    up = (frac > 0.5) | ((frac == 0.5) & (p > 0.0))
    u = (base + up).astype(np.int64)
    risky = np.abs(frac - 0.5) < 1e-3
    if risky.any():
        q12 = decimal.Decimal("1E-12")
        for idx in np.argwhere(risky):
            t = tuple(idx)
            u[t] = int(
                decimal.Decimal(repr(float(p[t])))
                .quantize(q12, rounding=decimal.ROUND_HALF_UP)
                .scaleb(12)
            )
    return u


def _kmeans_argmin(X, C):
    """(assignment index, pico-unit distance) per row: exact int64
    mirror of the generic path's ``min(struct(d, cluster))`` — each
    (x−c)² term is one IEEE multiply of one IEEE subtract (bit-equal in
    numpy and the JVM), pico-quantized per term, then folded EXACTLY as
    ``dec_fold_sum`` actually executes: the lambda's
    DECIMAL(38,12) + DECIMAL(38,12) add wants precision 39, so Spark's
    allowPrecisionLoss rule re-types each step's result as
    DECIMAL(38,11) — i.e. the running sum is HALF_UP-rounded to 11dp at
    EVERY fold step (measured: the in-plan d of every sf0.001 row ends
    in a 0 digit and differs from the exact term sum). The int64 mirror
    of one step on non-negative pico values is
    ``(s // 10 + (s % 10 >= 5)) * 10``; ``np.argmin`` then takes the
    FIRST minimum = the smallest cluster id (C's rows are sorted by
    cluster id)."""
    import numpy as np

    n, kk = X.shape[0], C.shape[0]
    D = np.empty((n, kk), dtype=np.int64)
    for j in range(kk):
        t = X - C[j][None, :]
        U = _kmeans_units(t * t)
        acc = np.zeros(n, dtype=np.int64)
        for d in range(U.shape[1]):
            s = acc + U[:, d]
            acc = (s // 10 + (s % 10 >= 5)) * 10
        D[:, j] = acc
    a = np.argmin(D, axis=1)
    return a, D[np.arange(n), a]


def _kmeans_batch_matrix(col, dims):
    """Arrow list column → N×dims float64 matrix. The guard proved the
    lengths uniform AT PROFILE TIME; because the returned assignment
    plan re-scans the source later (see the point-in-time note on
    :func:`kmeans_lloyd`), each batch re-validates the row lengths so a
    source mutated between build and action fails LOUDLY instead of
    reshaping into silently wrong rows (r14 advice fix)."""
    import numpy as np
    import pyarrow.compute as pc

    if len(col):
        ms = pc.min_max(pc.list_value_length(col))
        mn, mx = ms["min"].as_py(), ms["max"].as_py()
        if mn != dims or mx != dims:
            raise ValueError(
                f"kmeans fast path: vector length changed under the plan "
                f"(expected {dims}, saw [{mn}, {mx}]); the input must be "
                f"immutable between kmeans_lloyd() and the action on its "
                f"result"
            )
    flat = pc.list_flatten(col).to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(-1, dims)


def _kmeans_partials_worker(cents, dims):
    """mapInArrow worker factory for one Lloyd update: assign each row
    (exact int argmin), accumulate per-(cluster, dim) pico-unit sums of
    ROUND(x, 12) plus member counts, and emit the bounded partials —
    k×dims rows per flush, int64-overflow-safe via ``_FAST_FLUSH_ROWS``.
    """

    def fold(batches):
        import numpy as np
        import pyarrow as pa

        C = np.stack([v for _, v in cents])
        kk = len(cents)
        acc_s = np.zeros((kk, dims), dtype=np.int64)
        acc_n = np.zeros(kk, dtype=np.int64)
        pending = 0

        def partial():
            cl, pos, ss, nn = [], [], [], []
            for j in range(kk):
                if acc_n[j] == 0:
                    continue
                for d in range(dims):
                    cl.append(cents[j][0])
                    pos.append(d)
                    ss.append(int(acc_s[j, d]))
                    nn.append(int(acc_n[j]))
            return pa.record_batch(
                [
                    pa.array(cl, type=pa.int32()),
                    pa.array(pos, type=pa.int32()),
                    pa.array(ss, type=pa.int64()),
                    pa.array(nn, type=pa.int64()),
                ],
                names=["cluster", "pos", "s", "n"],
            )

        for batch in batches:
            X = _kmeans_batch_matrix(batch.column(0), dims)
            if X.shape[0] == 0:
                continue
            a, _ = _kmeans_argmin(X, C)
            xu = _kmeans_units(X)
            for j in range(kk):
                mask = a == j
                m = int(mask.sum())
                if m:
                    acc_s[j] += xu[mask].sum(axis=0)
                    acc_n[j] += m
            pending += X.shape[0]
            if pending >= _FAST_FLUSH_ROWS:
                yield partial()
                acc_s = np.zeros((kk, dims), dtype=np.int64)
                acc_n = np.zeros(kk, dtype=np.int64)
                pending = 0
        if pending:
            yield partial()

    return fold


def _kmeans_assign_worker(cents, dims, id_name):
    """mapInArrow worker factory for the final assignment: per row the
    winning cluster id and dist = ROUND(CAST(d AS DOUBLE), 8) mirrored
    as pure int64 arithmetic — d's 12dp decimal IS the shortest repr of
    the cast double (d ≤ 4·1024 < 4503, the repr-losslessness bound),
    so HALF_UP at 8dp is integer divmod on the pico units, and the
    final hecto/1e8 divide is one correctly-rounded IEEE op of two
    exactly-representable ints = the decimal→double cast."""

    def assign(batches):
        import numpy as np
        import pyarrow as pa

        C = np.stack([v for _, v in cents])
        ids = np.array([c for c, _ in cents], dtype=np.int32)
        for batch in batches:
            X = _kmeans_batch_matrix(batch.column(1), dims)
            a, d = _kmeans_argmin(X, C)
            hecto = d // 10_000 + (d % 10_000 >= 5_000)
            dist = hecto.astype(np.float64) / 1.0e8
            yield pa.record_batch(
                [batch.column(0), pa.array(ids[a]), pa.array(dist)],
                names=[id_name, "cluster", "dist"],
            )

    return assign


def _kmeans_fast(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    iterations: int,
    quantize_dp: int,
    dims: int,
    seeds: list,
) -> DataFrame:
    """The guarded fast path (see :func:`kmeans_lloyd`): per iteration
    ONE Arrow pass → k×dims bounded partials → driver-side centroid
    update with the exact JVM mirrors (decimal-scale shift is exact,
    int→double and the divide are the same correctly-rounded IEEE ops,
    the quantize round is shortest-repr HALF_UP via _round_repr); the
    final assignment is one more Arrow pass returned LAZY. Every
    collect is bounded by k, dims, or 1 row — never data-sized.

    Exactness bound shared with q_embedding_pca: per-(cluster, dim)
    pico sums stay < 2^53, so Spark's DECIMAL→DOUBLE cast and
    ``float(Decimal(s).scaleb(-12))`` are the correctly-rounded double
    of the same rational (holds to ~9e6 members/cluster per the
    |x| ≤ 1 guard; beyond that the generic path's cast is authoritative
    and the guard threshold would need the PCA-style revisit)."""
    import decimal

    import numpy as np

    from modevetl_spark.queries.wave11 import _round_repr

    cents = sorted(
        ((cid, np.asarray(cv, dtype=np.float64)) for cid, cv in seeds),
        key=lambda t: t[0],
    )
    data = emb.select(vec_col)
    for _ in range(iterations):
        rows = (
            data.mapInArrow(
                _kmeans_partials_worker(cents, dims),
                "cluster int, pos int, s long, n long",
            )
            .groupBy("cluster", "pos")
            .agg(
                F.sum(F.col("s").cast("decimal(38,0)")).alias("s"),
                F.sum("n").alias("n"),
            )
            .collect()
        )
        bycl: dict[int, dict[int, tuple[int, int]]] = {}
        for r in rows:
            bycl.setdefault(int(r.cluster), {})[int(r.pos)] = (int(r.s), int(r.n))
        cents = []
        for cl in sorted(bycl):
            m = np.empty(dims, dtype=np.float64)
            for pos, (s, n) in bycl[cl].items():
                m[pos] = _round_repr(
                    float(decimal.Decimal(s).scaleb(-12)) / n, quantize_dp
                )
            cents.append((cl, m))
    id_t = emb.schema[id_col].dataType.simpleString()
    return emb.select(id_col, vec_col).mapInArrow(
        _kmeans_assign_worker(cents, dims, id_col),
        f"{id_col} {id_t}, cluster int, dist double",
    )


# --- standing mini-batch face (composes operators/aggstate.py) ----------
