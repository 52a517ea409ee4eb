"""Nested-document operators (SURVEY.md §1.1, F7 "leaves").

Reference: ``pyLibrary/struct`` documents are schemaless nested JSON with
null-safe dot-path navigation and a ``leaves()`` view — the deep flatten
of a document into (dot-path, value) pairs, used for dynamic-schema
indexing and push mappings.

Spark-first: the flatten is built once from the DataFrame schema (driver
side, tiny) into a literal array<struct<path,value>> projection + explode
— pure Catalyst, no UDF, whole row stays JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType


def _leaf_entries(schema: StructType, prefix: str) -> list[tuple[str, str]]:
    """(dot-path, sql-accessor) for every scalar leaf under the schema."""
    out: list[tuple[str, str]] = []
    for f in schema.fields:
        path = f"{prefix}.{f.name}" if prefix else f.name
        if isinstance(f.dataType, StructType):
            out.extend(_leaf_entries(f.dataType, path))
        elif isinstance(f.dataType, ArrayType):
            # arrays terminate the leaf walk (the reference emits the
            # array itself as a leaf value); serialize for a uniform type
            out.append((path, path))
        else:
            out.append((path, path))
    return out


def leaves(df: DataFrame, id_cols: list[str]) -> DataFrame:
    """Deep-flatten every non-id column into (path, value) rows.

    Values are serialized to string (the reference's leaves are
    dynamically typed; a uniform column type keeps the result relational).
    Null leaves are dropped — a missing field has no leaf, exactly the
    reference's missing-vs-null-free document model.
    """
    entries = [
        (p, acc)
        for p, acc in _leaf_entries(df.schema, "")
        if p not in id_cols and p.split(".")[0] not in id_cols
    ]
    pairs = F.array(
        *[
            F.struct(
                F.lit(p).alias("path"),
                F.col(acc).cast("string").alias("value"),
            )
            for p, acc in entries
        ]
    )
    return (
        df.select(*id_cols, F.explode(pairs).alias("leaf"))
        .select(*id_cols, "leaf.path", "leaf.value")
        .where(F.col("value").isNotNull())
    )
