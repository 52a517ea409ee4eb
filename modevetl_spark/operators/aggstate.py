"""Incremental aggregate-state maintenance ([EXT]): keep a persisted
grouped aggregate current by MERGING each arriving delta's partials into
the stored state — materialized-view maintenance for the mergeable
aggregate family (count / sum / min / max, and anything derivable from
them, e.g. avg = sum/count).

A daily 100 TB pipeline keeps per-domain document counts, per-source
token totals, per-label vector counts — recomputing the full group-by
every tick is O(history); merging the tick's partials is O(delta).

Scale shape per tick: one partial aggregation of the delta (map-side
combined, delta-sized shuffle), one left-semi probe of the state for the
touched keys (column-pruned; partition-pruned when the state is
partitioned on a key prefix), one merge aggregation over
touched-state ∪ partials (both delta-sized), and a partition-scoped
upsert — the state store is never rewritten beyond the partitions the
delta touches.

Replay discipline: a tick is NOT idempotent (replaying the same delta
double-counts: merge assumes exactly-once deltas). Pair it with a
watermark pull whose mark lives in the state itself: store
``max(mark_col)`` as a measure via ``("max", mark_col)``, take the mark
as that column's max over the state before each tick, and pull rows
strictly newer than it. The mark then advances in the same swap that
merges the delta, so a tick that crashes before the swap replays its
delta and one that crashes after it replays nothing.

Float sums are accumulated as DECIMAL(28,9) (exact, order-free) and
stored that way, so repeated merges cannot drift; read them back with
``.cast("double")`` at the consumption edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# out_col -> (fn, src_col); fn must be in _PARTIAL
_PARTIAL = {
    "count": lambda c: F.count(c),
    # try_cast at the partial fold: a single out-of-DECIMAL(28,9)-range
    # delta value (1e300) must NULL out of the sum, not abort the whole
    # tick under ANSI — a standing 100 TB maintenance job cannot die on
    # one hostile row (COVERAGE.md M11). The outer cast pins the stored
    # type (sum widens to 38,9) and only sees in-range partials.
    "sum": lambda c: F.sum(F.col(c).try_cast("decimal(28,9)")).cast(
        "decimal(28,9)"
    ),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
}
# how two partials of the same measure combine; results re-cast to the
# stored type so the state schema is identical after every tick (a
# widened decimal(38,9) merge output would conflict with the
# decimal(28,9) partitions an earlier tick wrote)
def _merge_expr(out: str, fn: str):
    if fn == "count":
        return F.sum(out).cast("long").alias(out)
    if fn == "sum":
        return F.sum(out).cast("decimal(28,9)").alias(out)
    return getattr(F, fn)(out).alias(out)


def delta_partials(
    delta: DataFrame, keys: list[str], measures: dict[str, tuple[str, str]]
) -> DataFrame:
    """Partial-aggregate one delta: (keys..., <out_col> per measure)."""
    aggs = []
    for out, (fn, src) in measures.items():
        if fn not in _PARTIAL:
            raise ValueError(f"measure {out!r}: {fn!r} is not mergeable")
        aggs.append(_PARTIAL[fn](src).alias(out))
    return delta.groupBy(*keys).agg(*aggs)


def merge_aggregate_state(
    spark: SparkSession,
    delta: DataFrame,
    state_path: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    partition_by: list[str] | None = None,
) -> int:
    """Merge one delta into the persisted aggregate state. Returns the
    number of groups the delta touched.

    ``measures`` maps output column -> (fn, source column) with fn in
    {count, sum, min, max}. The stored schema is (keys..., out_cols...);
    `count` is stored as a BIGINT, `sum` as DECIMAL(28,9).
    """
    from modevetl_spark.sources.fs import fs_has_parquet_files, has_scheme
    from modevetl_spark.streaming.incremental import (
        _null_safe_key_join,
        _read_sink,
        upsert_parquet,
    )

    if has_scheme(state_path):
        # the underlying upsert swap is an atomic DIRECTORY RENAME —
        # local/HDFS semantics; an object-store state store needs the
        # managed-table MERGE layer instead. Fail loudly rather than
        # half-work (probe/read would succeed, the swap would not).
        raise NotImplementedError(
            "merge_aggregate_state requires a local-FS state store; "
            "use a lakehouse MERGE for object-store state"
        )
    partial = delta_partials(delta, keys, measures).cache()
    try:
        n_touched = partial.count()
        if n_touched == 0:
            # an all-empty first tick must still leave a READABLE store:
            # the standing job's consumer reads the store unconditionally
            # and a zero-file dir fails parquet schema inference (the
            # empty-partition census finding). Spark writes a
            # schema-bearing empty part file for an empty frame, so the
            # init is O(1) with no data at risk; subsequent deltas
            # upsert over it normally.
            if not fs_has_parquet_files(spark, state_path):
                partial.write.mode("overwrite").parquet(state_path)
            return 0
        # data-aware existence: a just-created empty dir is a fresh store
        if fs_has_parquet_files(spark, state_path):
            # read with the partials' schema (no inference job), checked
            # against one file footer like upsert_parquet's own read
            state = _read_sink(spark, partial, state_path, partition_by)
            # NULL-safe probe: a plain on=keys semi-join never matches
            # NULL = NULL, so a nullable group key's stored row would be
            # dropped from the merge and its history silently reset.
            # Duplicate probe keys change no semi-join: no distinct.
            touched_state = _null_safe_key_join(
                state, partial.select(*keys), keys, "left_semi"
            )
            merge_aggs = [
                _merge_expr(out, fn) for out, (fn, _) in measures.items()
            ]
            merged = (
                touched_state.unionByName(partial)
                .groupBy(*keys)
                .agg(*merge_aggs)
            )
        else:
            merged = partial
        upsert_parquet(spark, merged, state_path, keys, partition_by)
        return n_touched
    finally:
        partial.unpersist()
