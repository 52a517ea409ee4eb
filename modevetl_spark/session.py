"""SparkSession factory.

Scale notes (100 TB north star): AQE on (runtime coalesce + skew-join),
UTC session timezone so timestamp semantics match the oracle, shuffle
partitions sized from the harness CPU count locally — on a real cluster
AQE's coalescePartitions makes the static number mostly irrelevant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "modevetl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def quiet_bounded_window_warnings(spark: SparkSession) -> None:
    """Silence WindowExec's single-partition WARN in maintenance tools.

    Every global window in the registry is over a DOMAIN-bounded
    relation (≤K rows — the margins-over-a-cell-table pattern), which
    is exactly what the warning exists to flag on data-sized input, so
    sweep/bench stderr fills with re-adjudicated noise (r12 verdict
    hygiene note). The real defense against a NEW data-sized global
    window is the registry-wide plan gate
    (tests/test_plans.py::test_no_data_sized_global_windows), which
    fails hard — the log line is strictly redundant with it. Only the
    maintenance entry points (bench.py, scripts/dirty_sweep.py) call
    this; library code never touches log config.
    """
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
