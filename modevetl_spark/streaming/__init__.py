from modevetl_spark.streaming.incremental import (
    Watermark,
    pull_newer,
    tick,
    upsert_parquet,
)

__all__ = ["Watermark", "pull_newer", "tick", "upsert_parquet"]
