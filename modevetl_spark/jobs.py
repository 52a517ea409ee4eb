"""Settings-driven job runner — the reference's operational front door.

``MoDevETL`` is operated as ``python <job>.py --settings settings.json``
(startup.py parses the flag, reads a JSON settings file naming source,
sink, and cluster, and hands the job a configured environment). This
module is that front door for the Spark engine:

    python -m modevetl_spark.jobs hierarchy --settings settings.json
    python -m modevetl_spark.jobs reviews   --settings settings.json
    python -m modevetl_spark.jobs dedup     --settings settings.json
    python -m modevetl_spark.jobs scd2      --settings settings.json
    python -m modevetl_spark.jobs curate    --settings settings.json
    python -m modevetl_spark.jobs all       --settings settings.json

Settings schema (JSON)::

    {
      "source": {"sf_dir": "/root/testdata/sf0.001"},
      "sink":   {"dir": "/path/to/sinks"},          # per-job subdirs
      "state":  {"dir": "/path/to/state"},          # watermark files
      "spark":  {                                    # all optional
        "app_name": "modevetl-jobs",
        "master": "local[8]",
        "shuffle_partitions": 32,
        "conf": {"spark.sql.adaptive.enabled": "true"}
      }
    }

Each run is one cron tick of the incremental contract
(``streaming/incremental.tick``): pull rows newer than the stored
watermark, transform, write into the sink, advance the mark.
Re-running with no new data is a no-op (exit prints ``rows=0``),
exactly like the reference's get_pending gate.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession

from modevetl_spark.plans.jobs import (
    curate_job,
    dedup_job,
    hierarchy_job,
    reviews_job,
    scd2_job,
)
from modevetl_spark.session import get_spark

JOBS = {
    "hierarchy": hierarchy_job,
    "reviews": reviews_job,
    "dedup": dedup_job,
    "scd2": scd2_job,
    "curate": curate_job,
}


def load_settings(path: str) -> dict:
    with open(path) as f:
        settings = json.load(f)
    for section in ("source", "sink", "state"):
        if section not in settings:
            raise SystemExit(f"settings file missing required section {section!r}")
    if "sf_dir" not in settings["source"]:
        raise SystemExit("settings.source.sf_dir is required")
    return settings


def build_session(settings: dict) -> SparkSession:
    sp = settings.get("spark", {})
    return get_spark(
        app_name=sp.get("app_name", "modevetl-jobs"),
        master=sp.get("master"),
        shuffle_partitions=sp.get("shuffle_partitions"),
        extra_conf=sp.get("conf"),
    )


def run_job(spark: SparkSession, name: str, settings: dict) -> int:
    sink_dir = settings["sink"]["dir"]
    state_dir = settings["state"]["dir"]
    os.makedirs(sink_dir, exist_ok=True)
    os.makedirs(state_dir, exist_ok=True)
    return JOBS[name](
        spark,
        settings["source"]["sf_dir"],
        os.path.join(sink_dir, name),
        os.path.join(state_dir, f"{name}.json"),
    )


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m modevetl_spark.jobs",
        description="Run an incremental ETL job from a JSON settings file.",
    )
    parser.add_argument("job", choices=[*JOBS, "all"], help="job to run")
    parser.add_argument(
        "--settings", required=True, help="path to the JSON settings file"
    )
    args = parser.parse_args(argv)

    settings = load_settings(args.settings)
    spark = build_session(settings)
    names = list(JOBS) if args.job == "all" else [args.job]
    try:
        for name in names:
            n = run_job(spark, name, settings)
            print(f"job={name} rows={n}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
