"""Incremental SCD Type-2 maintenance ([EXT] — the dimension-table twin
of operators/aggstate.py): keep a persisted interval store current by
rebuilding only each touched user's OPEN tail from (seed ∪ batch),
leaving every closed interval byte-for-byte in place.

This is the reference's incremental upsert contract applied to
change-capture: the full build is O(history); a tick is O(delta) — the
only state rows a batch can alter are the open intervals of the users it
mentions (a closed interval is immutable by construction: its
effective_to was set by an event that already happened).

Scale shape per tick: a left-semi probe of the state for the batch
users' open tails (1 row/user, column-pruned, read with the store's
known schema so no inference job runs), one windowed rebuild over
seed∪batch on ONE user_id hash exchange (delta-sized; each seed row
carries its version offset, so no second pass over the state),
materialized once (a local checkpoint) and reused for the touched-user
count, the upsert's key probe and its union, then a keyed upsert on
(user_id, version) — the rebuilt tail's version 1 lands exactly on the
old open row's version, closing it.

The probe broadcasts the batch's user ids without a distinct (duplicate
keys cannot change a semi-join), so its size grows with events per
batch, not users: measured at sf0.1 (1,446-1,500 users), 1.06 MB for a
5,000-event batch and 2.11 MB for 70,000 events, about 16 B per event.
Ticks of 300-5,500 events are what the tests and benchmark run; split a
backfill of many millions of events into ticks.

Replay discipline (same as aggstate): a tick is NOT idempotent — pair
with a watermark pull; batch events must not predate the open interval's
effective_from (the seed row sorts first via a sentinel event id). One
that does (or has a NULL ts) still rewrites only the open tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_SEED_EVENT_ID = -1  # sorts before every real (non-negative) event id


def _change_log(
    events: DataFrame, user_col: str, state_col: str, ts_col: str, id_col: str
) -> DataFrame:
    """The log under the build's own column names, version offset 0.
    Renamed BEFORE any window opens: aliasing in the window's own select
    hands the second window a new user_id attribute, and under the
    merge's union Catalyst then plans a second exchange for it."""
    return events.select(
        F.col(user_col).alias("user_id"),
        F.col(state_col).alias("state"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).cast("long").alias("event_id"),
        F.lit(0).cast("long").alias("voff"),
    )


def _intervals(log: DataFrame) -> DataFrame:
    """(user_id, state, ts, event_id, voff) log -> SCD-2 intervals, the
    one rebuild both the batch build and the merge run. ONE exchange:
    both windows and the change filter share the user partitioning and
    sort (the plan gates on q_scd2_dimension and on the merge pin this).
    Versions are 1..k shifted by the user's offset, every row's voff is 0
    except a merge seed's. The offset is spread over the whole user
    partition BEFORE the change filter: an event that sorts ahead of the
    seed, or a filter that drops the seed, then still numbers from the
    old open version and never lands on a closed row."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ch = (
        log.withColumn("prev", F.lag("state").over(w))
        .withColumn("voff", F.max("voff").over(whole))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("state")))
    )
    return ch.select(
        "user_id",
        "state",
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
        (F.row_number().over(w) + F.col("voff")).cast("long").alias("version"),
    )


def scd2_build(
    events: DataFrame,
    user_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Change log -> SCD-2 validity intervals, versions from 1."""
    return _intervals(_change_log(events, user_col, state_col, ts_col, id_col))


def merge_scd2_state(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    user_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> int:
    """Merge one change batch into the persisted SCD-2 store. Returns
    the number of users the batch touched.

    Mechanics: each touched user's open interval becomes a SEED pseudo
    event (its state at its effective_from, sentinel id -1 so it sorts
    first); the rebuild of seed ∪ batch yields that user's new tail with
    versions 1..k, shifted by (old open version - 1) so version 1
    overwrites — and thereby closes — the old open row. Users absent
    from the batch are never read or written."""
    from modevetl_spark.sources.fs import fs_has_parquet_files, has_scheme
    from modevetl_spark.streaming.incremental import upsert_parquet

    if has_scheme(state_path):
        raise NotImplementedError(
            "merge_scd2_state requires a local-FS state store; "
            "use a lakehouse MERGE for object-store state"
        )
    log = _change_log(batch, user_col, state_col, ts_col, id_col)
    if fs_has_parquet_files(spark, state_path):
        state = spark.read.schema(_intervals(log).schema).parquet(state_path)
        seeds = (
            state.where(F.col("effective_to").isNull())
            .join(F.broadcast(log.select("user_id")), "user_id", "left_semi")
            .select(
                "user_id",
                "state",
                F.col("effective_from").alias("ts"),
                F.lit(_SEED_EVENT_ID).cast("long").alias("event_id"),
                (F.col("version") - 1).alias("voff"),
            )
        )
        log = seeds.unionByName(log)
    # Delta-sized and read three times below: build it once. The count is
    # its first action and materializes it (AQE-coalesced, unlike a cache).
    tail = _intervals(log).localCheckpoint(eager=False)
    # every touched user's rebuilt tail ends in exactly one open row
    n_touched = tail.where(F.col("effective_to").isNull()).count()
    if n_touched:
        upsert_parquet(spark, tail, state_path, keys=["user_id", "version"])
    elif not fs_has_parquet_files(spark, state_path):
        # an all-empty first tick must still leave a READABLE store
        # (same rationale as merge_aggregate_state): write the
        # schema-bearing empty frame so the consumer's unconditional
        # read survives a fresh store that has only seen empty batches.
        tail.limit(0).write.mode("overwrite").parquet(state_path)
    return n_touched
