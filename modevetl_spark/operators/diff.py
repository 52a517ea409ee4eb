"""Snapshot diff — change-data detection between two keyed snapshots
(SURVEY.md §2.1 incremental contract: the reference reconciles pulled
documents against sink state before its bulk upsert; this is that
reconciliation as a first-class operator).

One full-outer join on the key, presence flags to disambiguate all-null
value rows, IS DISTINCT FROM per value column for null-safe change
detection. At 100 TB both sides shuffle once on the key (or zero times
if both snapshots are bucketed or range-laid-out on it, e.g. by
``DataFrameWriter.bucketBy``); the diff predicate is one codegen'd
projection.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame, new: DataFrame, keys: list[str]
) -> DataFrame:
    """(keys..., change_type, new-side value columns) for every row that
    was added, removed, or changed between two same-schema snapshots.
    Unchanged rows are dropped. Removed rows carry the OLD values (the
    new side has none)."""
    value_cols = [c for c in new.columns if c not in keys]
    o = old.select(
        *keys,
        *[F.col(c).alias(f"__old_{c}") for c in value_cols],
        F.lit(1).alias("__old_present"),
    )
    n = new.select(
        *keys,
        *[F.col(c).alias(f"__new_{c}") for c in value_cols],
        F.lit(1).alias("__new_present"),
    )
    j = o.join(n, on=keys, how="full_outer")
    changed = reduce(
        lambda a, b: a | b,
        [
            ~F.col(f"__old_{c}").eqNullSafe(F.col(f"__new_{c}"))
            for c in value_cols
        ],
        F.lit(False),
    )
    change_type = (
        F.when(F.col("__old_present").isNull(), F.lit("added"))
        .when(F.col("__new_present").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change_type)
        .where(F.col("change_type").isNotNull())
        .select(
            *keys,
            "change_type",
            *[
                # removed rows carry old values; added/changed carry new —
                # a coalesce would wrongly resurrect the old value when a
                # change legitimately set the column to null
                F.when(
                    F.col("change_type") == "removed", F.col(f"__old_{c}")
                )
                .otherwise(F.col(f"__new_{c}"))
                .alias(c)
                for c in value_cols
            ],
        )
    )
