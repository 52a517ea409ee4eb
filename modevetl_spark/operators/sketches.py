"""Sketch operators: distributed Misra–Gries heavy-hitter candidates
and the fixed-width histogram quantile sketch.

The classic two-pass heavy-hitter plan for a key space too large to
hash-aggregate exactly (token streams at corpus scale):

1. **Sketch pass** — each partition folds its stream through a
   Misra–Gries summary of ``k`` counters (Misra & Gries 1982; the
   batch-merge decrement rule is the MERGE of Agarwal et al.,
   "Mergeable Summaries", PODS 2012): combine counts, then subtract the
   (k+1)-th largest count from every counter and drop the non-positive
   ones. Guarantee: any item with partition frequency > n_p/(k+1)
   survives the partition's summary.
2. **Verify pass** — the union of per-partition candidates (≤ k·P rows,
   broadcastable) filters the stream; exact counts over candidates only.

Why the result is exact AND partitioning-independent: if a key's global
frequency exceeds n/k then by pigeonhole some partition holds it above
n_p/k > n_p/(k+1), so it is guaranteed to be a candidate no matter how
rows are distributed; spurious candidates are eliminated by the exact
verify filter. The final output is therefore the true heavy-hitter set
with exact counts — hash-gradable against a plain GROUP BY/HAVING
oracle — while the full key space is never shuffled.

Reference parity: the reference has no sketch layer (its qb aggregates
are exact, `pyLibrary/queries`); this is part of the mandated
LLM-pipeline family ([LOCAL BASELINE.json]).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mg_summary(df: DataFrame, col: str, k: int) -> DataFrame:
    """One sketch pass: per-partition Misra–Gries summaries.

    Returns a DataFrame with schema ``(tok string, n_part long)``:
    candidate rows carry ``tok`` (``n_part`` null), and one sentinel row
    per partition carries the partition's total item count (``tok``
    null) — so the caller gets candidates AND the stream length from a
    single pass over the data.

    The per-batch fold counts the Arrow batch C-side
    (``pyarrow.compute.value_counts``), merges into the running dict,
    and applies the mergeable-summaries decrement only when the state
    overflows ``k`` — per-item python work is O(1) amortized and the
    state never exceeds ``2k`` entries between trims. r14 (guide §4.3):
    the pass is ``mapInArrow`` — the batches stay Arrow end-to-end
    instead of paying the Arrow→pandas→Arrow transposition of the old
    ``mapInPandas`` form; the counting kernel, batch boundaries, and
    the merged per-partition state are unchanged (and the caller's
    final output is partitioning/trim-timing independent anyway: the
    sketch only proposes candidates, the verify pass is exact).

    NULL CONTRACT: null values are excluded from both the candidates
    and the sentinel totals — the sketch answers "heavy hitters among
    non-null values". The exclusion is an explicit ``isNotNull`` filter
    pushed BEFORE the sketch (not an accident of ``value_counts``), so
    a nullable column cannot collide with the tok-null sentinel row,
    and the verify pass's null-rejecting equi-join sees the same
    population as the sketch's totals.
    """

    def fold(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        state: dict[str, int] = {}
        total = 0
        for batch in batches:
            arr = batch.column(0)
            total += len(arr)
            vc = pc.value_counts(arr)
            for tok, c in zip(
                vc.field("values").to_pylist(), vc.field("counts").to_pylist()
            ):
                state[tok] = state.get(tok, 0) + c
            if len(state) > k:
                # MERGE decrement (Agarwal et al. 2012): subtract the
                # (k+1)-th largest count, drop non-positive counters.
                m = sorted(state.values(), reverse=True)[k]
                state = {t: c - m for t, c in state.items() if c > m}
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(list(state) + [None], type=pa.string()),
                pa.array([None] * len(state) + [total], type=pa.int64()),
            ],
            names=[col, "n_part"],
        )

    return (
        df.select(F.col(col).alias(col))
        .where(F.col(col).isNotNull())
        .mapInArrow(fold, schema=f"{col} string, n_part long")
    )


def heavy_hitters_exact(
    stream: DataFrame, col: str, k: int, denom: int
) -> DataFrame:
    """Candidate-then-verify heavy hitters: every ``col`` value whose
    exact frequency strictly exceeds ``n/denom``, with exact counts.

    Requires ``k >= denom`` for the superset guarantee (an item above
    n/denom is above n_p/(k+1) in at least one partition). The summary
    is tiny, so it is localCheckpointed once and read twice (candidate
    set + stream total) instead of re-running the sketch pass —
    Catalyst does not reuse the mapInArrow subtree across branches.
    """
    if k < denom:
        raise ValueError(f"k={k} must be >= denom={denom} for the guarantee")
    summ = mg_summary(stream, col, k).localCheckpoint(eager=True)
    cands = summ.where(F.col(col).isNotNull()).select(col).distinct()
    total = summ.agg(F.sum("n_part").cast("long").alias("n_total"))
    exact = (
        stream.join(F.broadcast(cands), col)
        .groupBy(col)
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .where(F.col("cnt") * denom > F.col("n_total"))
        .select(
            col,
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("n_total"), 6).alias(
                "share"
            ),
        )
    )


def mg_summary_grouped(
    df: DataFrame, grp_col: str, col: str, k: int
) -> DataFrame:
    """Grouped sketch pass: one Misra–Gries summary of ``k`` counters
    PER GROUP per partition — the heavy-hitter analogue of the grouped
    quantile sketch (sketches are aggregation states, so GROUP BY over
    them is per-group maintenance of the same bounded fold).

    Returns ``(grp, tok, n_part)``: candidate rows carry (grp, tok,
    null) and one sentinel row per (partition, group) carries the
    group's partition-local item count (tok null). State is bounded by
    2k counters × |groups seen in the partition|; the per-group
    guarantee is the flat one applied within the group's substream:
    any token with group frequency > n_g/(k+1) exceeds that threshold
    in some partition's group slice, hence survives that slice's trim —
    so the candidate union is a superset of every group's true
    heavy-hitter set regardless of partitioning.

    NULL CONTRACT: null tokens are excluded (explicit pre-filter, same
    as :func:`mg_summary`); null GROUPS are excluded too — a null group
    key cannot be told apart from the sentinel encoding, and "heavy
    hitters of the null group" is not a meaningful ask.
    """

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict[str, dict[str, int]] = {}
        totals: dict[str, int] = {}
        for pdf in batches:
            counts = pdf.groupby([grp_col, col]).size()
            for (g, tok), c in counts.items():
                st = states.setdefault(g, {})
                st[tok] = st.get(tok, 0) + int(c)
                totals[g] = totals.get(g, 0) + int(c)
                if len(st) > k:
                    m = sorted(st.values(), reverse=True)[k]
                    states[g] = {t: c2 - m for t, c2 in st.items() if c2 > m}
        out_g, out_t, out_n = [], [], []
        for g, st in states.items():
            out_g += [g] * len(st) + [g]
            out_t += list(st) + [None]
            out_n += [None] * len(st) + [totals[g]]
        yield pd.DataFrame(
            {
                grp_col: out_g,
                col: out_t,
                "n_part": pd.Series(out_n, dtype="Int64"),
            }
        )

    return (
        # cast BOTH inputs to string up front (the kmv_distinct_grouped
        # defense): the mapInPandas output schema is declared string, so
        # a non-string group/token column would otherwise hit an Arrow
        # type error (or silent coercion) only at execution time
        df.select(
            F.col(grp_col).cast("string").alias(grp_col),
            F.col(col).cast("string").alias(col),
        )
        .where(F.col(col).isNotNull() & F.col(grp_col).isNotNull())
        .mapInPandas(fold, schema=f"{grp_col} string, {col} string, n_part long")
    )


def heavy_hitters_grouped_exact(
    stream: DataFrame, grp_col: str, col: str, k: int, denom: int
) -> DataFrame:
    """Grouped candidate-then-verify heavy hitters: for every group,
    every ``col`` value whose exact in-group frequency strictly exceeds
    n_g/denom — the per-tenant/per-language shape of
    :func:`heavy_hitters_exact`, with the same two-tier plan: the
    sketch never shuffles the key space (candidates ≤ k·P·|groups|
    rows, broadcastable), the verify hash-aggregates candidate
    (group, token) pairs only."""
    if k < denom:
        raise ValueError(f"k={k} must be >= denom={denom} for the guarantee")
    summ = mg_summary_grouped(stream, grp_col, col, k).localCheckpoint(
        eager=True
    )
    cands = (
        summ.where(F.col(col).isNotNull()).select(grp_col, col).distinct()
    )
    totals = (
        summ.where(F.col(col).isNull())
        .groupBy(grp_col)
        .agg(F.sum("n_part").cast("long").alias("n_grp"))
    )
    exact = (
        stream.join(F.broadcast(cands), [grp_col, col])
        .groupBy(grp_col, col)
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        exact.join(F.broadcast(totals), grp_col)
        .where(F.col("cnt") * denom > F.col("n_grp"))
        .select(
            grp_col,
            col,
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("n_grp"), 6).alias(
                "share"
            ),
        )
    )


def kmv_state(hashed: DataFrame, k: int) -> DataFrame:
    """One sketch pass of the K-minimum-values distinct sketch (Bar-Yossef
    et al. 2002; the theta-sketch lineage): per physical partition, fold
    the stream of 32-bit value hashes down to the partition's ``k``
    smallest DISTINCT hashes.

    ``hashed`` must carry one ``h`` bigint column — a uniform hash of
    the sketched value computed JVM-side by the caller (the shared
    md5-prefix hash, so a second engine replays it bit-for-bit). The
    fold state is a bounded ndarray (≤ 2k values between trims, ≤ k
    emitted), so the output union is ≤ k·P rows no matter the data
    size — the full key space is never shuffled, which is the entire
    reason to sketch instead of ``count_distinct``.

    Mergeability IS the fold: two KMV states merge by unioning their
    value sets and re-taking the k smallest — exactly what the per-batch
    step does — so per-partition states, per-tick states, and
    per-table-segment states all combine with the same operation and
    the result is independent of partitioning and arrival order (any
    globally-k-smallest hash is among its own partition's k smallest,
    hence survives every intermediate trim).
    """
    import numpy as np

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state = np.empty(0, dtype="int64")
        for pdf in batches:
            state = np.union1d(state, pdf["h"].to_numpy(dtype="int64"))
            if len(state) > k:
                state = state[:k]  # union1d returns sorted uniques
        yield pd.DataFrame({"h": state})

    return hashed.select("h").mapInPandas(fold, schema="h long")


def kmv_state_grouped(hashed: DataFrame, grp_col: str, k: int) -> DataFrame:
    """Grouped KMV sketch pass: per physical partition, the ``k``
    smallest distinct hashes PER GROUP — :func:`kmv_state` as an
    aggregation state (the grouped-sketch rule: GROUP BY over sketches
    is per-group maintenance of the same bounded fold).

    ``hashed`` carries (``grp_col``, ``h``); output is ≤ k·P·|groups|
    rows. The per-group layout-invariance argument is the flat one
    applied per group slice: any hash among a group's global k smallest
    is among that group's k smallest in whatever partition each copy
    lives. Null groups are excluded (no meaningful cardinality ask)."""
    import numpy as np

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict[str, "np.ndarray"] = {}
        for pdf in batches:
            for g, sub in pdf.groupby(grp_col)["h"]:
                cur = states.get(g)
                new = sub.to_numpy(dtype="int64")
                merged = np.union1d(cur, new) if cur is not None else np.unique(new)
                states[g] = merged[:k]
        out_g: list = []
        out_h: list = []
        for g, arr in states.items():
            out_g += [g] * len(arr)
            out_h += [int(x) for x in arr]
        yield pd.DataFrame({grp_col: out_g, "h": pd.Series(out_h, dtype="int64")})

    return (
        hashed.where(F.col(grp_col).isNotNull())
        .select(grp_col, "h")
        .mapInPandas(fold, schema=f"{grp_col} string, h long")
    )


def kmv_distinct_grouped(
    df: DataFrame, grp_col: str, col, k: int = 256
) -> DataFrame:
    """Per-group distinct-count estimates — :func:`kmv_distinct` with
    one sketch per group (distinct users per day, distinct tokens per
    tenant: the most common production cardinality ask). Same contract
    per group: full-replay estimator, exact-verify tier, non-full
    sketch exact by rule, 3σ ``bounds_ok`` verdict as data.

    Plan shape: one grouped bounded fold (≤ k·P·|groups| union rows)
    behind an eager localCheckpoint; the per-group k-min is a
    group-partitioned rank window over that bounded union (balanced by
    group, never global); estimates are group-keyed arithmetic. The
    exact tier's grouped count_distinct is the only distinct-key
    shuffle and exists to be graded."""
    from pyspark.sql import Window

    hashed = df.select(
        F.col(grp_col).cast("string").alias("grp"),
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h"),
    ).where(F.col("h").isNotNull())
    state = kmv_state_grouped(hashed, "grp", k).localCheckpoint(eager=True)
    w = Window.partitionBy("grp").orderBy("h")
    kmin = (
        state.distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )
    hk = kmin.groupBy("grp").agg(
        F.max("h").alias("h_k"), F.count(F.lit(1)).cast("bigint").alias("k_got")
    )
    exact = df.where(F.col(grp_col).isNotNull()).groupBy(
        F.col(grp_col).cast("string").alias("grp")
    ).agg(
        F.count_distinct(F.col(col)).cast("bigint").alias("exact_distinct"),
        F.count(F.col(col)).cast("bigint").alias("n_rows"),
    )
    est = (
        F.when(F.col("k_got") < k, F.col("k_got").cast("double"))
        .otherwise(
            F.round(
                (F.col("k_got") - 1).cast("double")
                * F.lit(float(2**32))
                / F.col("h_k").cast("double"),
                4,
            )
        )
        .alias("est_distinct")
    )
    return (
        hk.join(F.broadcast(exact), "grp")
        .select(
            "grp",
            F.col("k_got").cast("bigint").alias("k"),
            "n_rows",
            "h_k",
            est,
            "exact_distinct",
        )
        .withColumn(
            "rel_err",
            F.round(
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ),
        )
        .withColumn(
            "bounds_ok",
            F.col("rel_err") <= F.lit(3.0) / F.sqrt(F.lit(float(k - 2))),
        )
    )


def kmv_distinct(df: DataFrame, col, k: int = 256) -> DataFrame:
    """Mergeable distinct-count estimate with an exact-verify tier:
    K-minimum-values over the shared 32-bit md5-prefix hash.

    Estimator: with U = h_k / 2^32 the k-th smallest of D uniform
    hashes, E[U] = k/(D+1), and D̂ = (k−1)/U is the unbiased KMV
    estimator with relative standard error ≈ 1/√(k−2). Every op in the
    estimate is exact or correctly-rounded IEEE (integer-valued doubles
    below 2^41, one division), so a second engine replaying DISTINCT →
    ORDER BY h LIMIT k → MAX(h) reproduces it bit-for-bit.

    Returns one row: ``(k, n_rows, h_k, est_distinct, exact_distinct,
    rel_err, bounds_ok)`` — the exact count and the 3σ verdict ride
    along as data (the recall-as-data convention), graded by the
    caller's oracle rather than trusted.

    Plan shape: the sketch pass is one bounded mapInPandas fold (state
    ≤ 2k int64s, output ≤ k·P rows) behind an eager localCheckpoint;
    the global k-min is a TakeOrderedAndProject over that bounded
    union; the estimate is scalar arithmetic on a one-row broadcast.
    The exact-verify tier is the only stage that shuffles distinct
    keys (partial_count(distinct) map-side combine) — at 100 TB you
    run the sketch alone and keep the verify for audits, exactly like
    ``heavy_hitters_exact``'s two-tier split.
    """
    hashed = df.select(
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h")
    ).where(F.col("h").isNotNull())
    state = kmv_state(hashed, k).localCheckpoint(eager=True)
    # the same value (hence hash) can appear in several partitions'
    # k-min sets — the union must deduplicate BEFORE the global bottom-k
    # or duplicates crowd out genuine k-th values (caught by
    # test_non_full_sketch_is_exact; a sorted fixture can mask it).
    # The distinct is a tiny exchange over the ≤ k·P-row union.
    kmin = state.distinct().orderBy("h").limit(k)
    hk = kmin.agg(F.max("h").alias("h_k"), F.count(F.lit(1)).alias("k_got"))
    exact = df.agg(
        F.count_distinct(F.col(col)).cast("bigint").alias("exact_distinct"),
        F.count(F.col(col)).cast("bigint").alias("n_rows"),
    )
    # a non-full sketch (k_got < k) holds EVERY distinct hash, so the
    # count is exact by rule; the (k−1)/U estimator applies only to a
    # full sketch (hash collisions make this ≤, not =, the true count —
    # a 32-bit space is the shared-replay compromise, birthday error
    # < 0.01% at the fixture scales and identical in both engines)
    est = (
        F.when(F.col("k_got") < k, F.col("k_got").cast("double"))
        .otherwise(
            F.round(
                (F.col("k_got") - 1).cast("double")
                * F.lit(float(2**32))
                / F.col("h_k").cast("double"),
                4,
            )
        )
        .alias("est_distinct")
    )
    return (
        hk.crossJoin(F.broadcast(exact))
        .select(
            F.col("k_got").cast("bigint").alias("k"),
            "n_rows",
            "h_k",
            est,
            "exact_distinct",
        )
        .withColumn(
            "rel_err",
            # try_divide: on EMPTY input exact_distinct is 0 and the raw
            # division aborts under ANSI (the empty-partition census
            # finding); NULL rel_err matches DuckDB's 0/0. The grouped
            # variant above keeps the raw `/` — a group only reaches its
            # division with ≥ 1 distinct hashed value by construction.
            F.round(
                F.try_divide(
                    F.abs(F.col("est_distinct") - F.col("exact_distinct")),
                    F.col("exact_distinct"),
                ),
                6,
            ),
        )
        .withColumn(
            "bounds_ok",
            F.col("rel_err") <= F.lit(3.0) / F.sqrt(F.lit(float(k - 2))),
        )
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    probs: list[tuple[str, float]],
    k: int = 1024,
) -> DataFrame:
    """Mergeable fixed-width histogram quantile sketch with a rank-check
    verdict — locate each requested quantile to a bucket of a K-bucket
    equi-width histogram WITHOUT ever sorting or range-exchanging the
    data (-> ``queries/wave7.q_sketch_quantiles`` for the oracle-graded
    face and the full plan-shape story).

    Returns one row per prob: ``(p_label, n, est_bucket, bounds_ok)``
    where ``bounds_ok`` asserts the exact quantile's rank falls inside
    the estimated bucket ±1 bucket of slack, computed by counting raw
    values against the bucket's widened edges — an independent path
    from the floor-division bucket assignment.

    Cross-engine determinism: min/max/count are order-free, the bucket
    id is two exact IEEE ops (``floor((v - mn) / width)``), the walk is
    integer arithmetic. A constant column (width = 0) degenerates to
    one bucket 0 holding every row, with the verdict still true by the
    rank definition.
    """
    spark = df.sparkSession
    vals = df.select(F.col(value_col).alias("v"))
    stats = vals.agg(
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).withColumn("width", (F.col("mx") - F.col("mn")) / F.lit(float(k)))
    bucket = (
        F.when(
            F.col("width") > 0,
            F.least(
                F.floor((F.col("v") - F.col("mn")) / F.col("width")),
                F.lit(k - 1).cast("long"),
            ),
        )
        .otherwise(0)
        .cast("bigint")
    )
    hist = (
        vals.crossJoin(F.broadcast(stats))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    # cumulative walk over the ≤K-row histogram: a BOUNDED window (the
    # `bucket - bucket` constant partition key keeps partitionSpec
    # non-empty for the data-sized-window gate, exactly the
    # operators/ranking._offsets idiom) — r13: the former
    # global_running call span a range exchange + eager checkpoint +
    # offset machinery sized for data-cardinality input on a relation
    # bounded by the config K
    w_cum = (
        Window.partitionBy(F.col("bucket") - F.col("bucket"))
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select("bucket", F.sum("cnt").over(w_cum).alias("cum"))
    probs_df = spark.createDataFrame(probs, "p_label string, p double")
    tgt = probs_df.crossJoin(
        F.broadcast(stats.select("mn", "width", "n"))
    ).withColumn("target", F.ceil(F.col("p") * F.col("n")).cast("bigint"))
    est = (
        tgt.join(F.broadcast(cum), F.col("cum") >= F.col("target"))
        .groupBy("p_label", "target", "mn", "width", "n")
        .agg(F.min("bucket").alias("est_bucket"))
    )
    edges = est.select(
        "p_label",
        "target",
        (F.col("mn") + (F.col("est_bucket") + 2) * F.col("width")).alias("hi"),
        (F.col("mn") + (F.col("est_bucket") - 1) * F.col("width")).alias("lo"),
    )
    chk = (
        vals.crossJoin(F.broadcast(edges))
        .groupBy("p_label")
        .agg(
            F.count(F.when(F.col("v") <= F.col("hi"), 1)).alias("cnt_le_hi"),
            F.count(F.when(F.col("v") < F.col("lo"), 1)).alias("cnt_lt_lo"),
        )
    )
    return est.join(chk, "p_label").select(
        "p_label",
        "n",
        "est_bucket",
        (
            (F.col("cnt_le_hi") >= F.col("target"))
            & (F.col("cnt_lt_lo") < F.col("target"))
        ).alias("bounds_ok"),
    )


def countmin_state(counted: DataFrame, key_col: str, cnt_col: str, w: int, d: int) -> DataFrame:
    """Count-Min sketch state (Cormode & Muthukrishnan 2005) from an
    already-counted key table: ``d`` hash rows of ``w`` buckets, bucket
    mass = Σ counts of keys hashing there. Built from ``(key, cnt)``
    rather than the raw stream because the result is identical and the
    explode fans out |keys|·d rows instead of |stream|·d.

    Hash family: the shared 32-bit md5-prefix trick at ``d`` disjoint
    hex offsets (``substr(md5(key), 1+8j, 8)``), so a second engine
    replays every bucket assignment bit-for-bit. State is ≤ d·w rows no
    matter how many keys — the whole point of the sketch; states from
    disjoint streams MERGE by (j, b) addition (linear sketch).
    """
    probes = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    F.conv(
                        F.substring(F.md5(F.col(key_col).cast("string")), 1 + 8 * j, 8),
                        16,
                        10,
                    ).cast("bigint")
                    % w
                ).alias("b"),
            )
            for j in range(d)
        ]
    )
    # NULL keys are excluded like every sketch here: md5(NULL) is NULL,
    # so they would land d b=NULL bucket rows that no probe can ever
    # join back to — dead state mass that skews any total-mass audit.
    return (
        counted.where(F.col(key_col).isNotNull())
        .select(F.col(cnt_col).alias("_c"), F.explode(probes).alias("p"))
        .groupBy(F.col("p.j").alias("j"), F.col("p.b").alias("b"))
        .agg(F.sum("_c").cast("bigint").alias("mass"))
    )


def countmin_estimate(
    state: DataFrame, probes: DataFrame, key_col: str, w: int, d: int
) -> DataFrame:
    """Point-query the CM state for each probe key: est = min over the
    d rows of that key's bucket mass. The state is bounded (≤ d·w rows)
    so it broadcasts; the probe side is never shuffled. CM never
    undercounts (each bucket holds the key's own mass plus collisions),
    so ``est ≥ true`` deterministically — callers grade that as data.
    """
    hashed = probes.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(F.col(key_col).cast("string")), 1 + 8 * j, 8
                                ),
                                16,
                                10,
                            ).cast("bigint")
                            % w
                        ).alias("b"),
                    )
                    for j in range(d)
                ]
            )
        ).alias("p"),
    ).select(key_col, F.col("p.j").alias("j"), F.col("p.b").alias("b"))
    return (
        hashed.join(F.broadcast(state), ["j", "b"])
        .groupBy(key_col)
        .agg(F.min("mass").cast("bigint").alias("est_cnt"))
    )


def hll_state(df: DataFrame, key_col: str, b: int = 6) -> DataFrame:
    """HyperLogLog register state (Flajolet et al. 2007) over a key
    column: the shared 32-bit md5 prefix splits into a ``b``-bit
    register index ``j`` (top bits) and a ``32-b``-bit rank word ``w``;
    the register holds the max leading-zero rank rho = (32-b)+1 for
    w=0, else (32-b)+1 - length(bin(w)) — the rank is DERIVED FROM BIT
    LENGTH (``bin`` drops leading zeros in both engines), not from
    floor(log2(w)): bit length is pure integer/string arithmetic, so a
    second engine replays every register bit-for-bit with no
    transcendental anywhere near a power-of-two boundary (the
    floor(log2) form is exact today but nothing pins it — round-8
    advice). State is ≤ 2^b rows no matter the cardinality; states
    from any row split MERGE by per-register max (idempotent —
    duplicates are free, which is the sketch's whole contract).
    """
    wbits = 32 - b
    h32 = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    # NULL keys are excluded like every sketch here (COUNT DISTINCT
    # semantics): md5(NULL) is NULL, which would otherwise emit a
    # j=NULL/mj=NULL register row that pollutes the register table for
    # the estimator.
    jr = df.where(F.col(key_col).isNotNull()).select(
        (h32 / F.lit(1 << wbits)).cast("bigint").alias("j"),
        (h32 % F.lit(1 << wbits)).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin("w")).cast("bigint")
    )
    return jr.groupBy("j").agg(F.max(rho).alias("mj"))
