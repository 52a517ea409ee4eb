"""Named query library — the driver contract surface.

Every operator row in SURVEY.md §2 lands here as a ``@q("key", oracle=...)``
registered callable ``(spark, sf_dir) -> DataFrame`` plus a DuckDB oracle
SQL string. ``__spark_entry__.py`` re-exports the merged registry.
"""

from __future__ import annotations

import importlib
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_MODULES = [
    "flagship",
    "scans",
    "aggs",
    "cube",
    "joins",
    "windows",
    "sorts",
    "funcs",
    "events",
    "llm",
    "jx_queries",
    "extras",
    "reshape",
    "pipeline",
    "analytics",
    "warehouse",
    "retrieval",
    "reports",
    "ml",
    "mining",
    "diagnostics",
    "wave7",
    "wave8",
    "wave9",
    "wave10",
    "wave11",
]

# The driver grades the first 50 keys the registry emits, so emission
# order allocates its evidence. grading.json (written by
# scripts/grading_evidence.py, never by hand) holds each key's latest
# fully passing graded round and its fingerprint then and now.
_GRADING = os.path.join(os.path.dirname(os.path.abspath(__file__)), "grading.json")


def _grading_priority(entry: dict | None) -> tuple[bool, int]:
    """(attested, round): keys never graded or changed since graded sort
    first, then the stalest evidence. A key missing from grading.json
    counts as never graded."""
    if entry is None or entry["round"] == 0:
        return False, 0
    return entry["graded"] == entry["fp"], entry["round"]


def _load_all() -> tuple[dict[str, QueryFn], dict[str, str]]:
    queries: dict[str, QueryFn] = {}
    oracle: dict[str, str] = {}
    for mod_name in _MODULES:
        mod = importlib.import_module(f"modevetl_spark.queries.{mod_name}")
        for k, v in getattr(mod, "QUERIES", {}).items():
            if k in queries:
                raise ValueError(f"duplicate query key {k!r} in {mod_name}")
            queries[k] = v
        oracle.update(getattr(mod, "ORACLE", {}))
    with open(_GRADING) as f:
        grading = json.load(f)
    natural = {k: i for i, k in enumerate(queries)}
    ordered_keys = sorted(
        queries, key=lambda k: (*_grading_priority(grading.get(k)), natural[k])
    )
    return {k: queries[k] for k in ordered_keys}, oracle


def all_queries() -> dict[str, QueryFn]:
    return _load_all()[0]


def all_oracle() -> dict[str, str]:
    return _load_all()[1]


def prep(spark: SparkSession) -> SparkSession:
    """Defensive session setup so queries behave identically regardless of
    how the caller built the session:

    - UTC session timezone (timestamp semantics must match the oracle);
    - ship this package to the Python workers. The driver process imports
      ``modevetl_spark`` via a sys.path shim, but executor-side Python
      workers deserialize pandas UDFs with a clean sys.path — without
      addPyFile they die with ModuleNotFoundError whenever the driver's
      cwd is not the repo root.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Newer testdata drops isAdjustedToUTC on its µs parquet timestamps,
    # which Spark 4 would otherwise surface as TIMESTAMP_NTZ; the engine
    # (and the DuckDB oracle) works in session-UTC TIMESTAMP everywhere.
    # Catalog tables are read with their declared schema (catalog.SCHEMAS)
    # and never infer; this pin covers the reads that do, e.g. of sinks
    # and state directories.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, "_modevetl_shipped", False):
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(tempfile.gettempdir(), f"modevetl_spark_pyfiles_{os.getpid()}")
    zip_path = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir), "modevetl_spark")
    sc.addPyFile(zip_path)
    sc._modevetl_shipped = True
