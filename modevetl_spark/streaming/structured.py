"""Structured Streaming forms of the incremental contract ([EXT] —
SURVEY.md §2.9: the idiomatic streaming expression of what the reference
does as cron-batch).

These are thin, tested wrappers: the *same* aggregation expressions used
by the batch queries (queries/events.py) run under ``readStream`` with
watermarks. Batch/stream parity is the design point — Spark guarantees it
for windowed aggregations, so the oracle-graded batch results certify the
streaming plans too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded source. The parquet streaming source needs an
    explicit schema; it takes the catalog's declared one, so the stream
    sees the same session-UTC TIMESTAMP event time as a batch read (a
    TIMESTAMP_NTZ column would be rejected by withWatermark)."""
    from modevetl_spark.sources.catalog import SCHEMAS

    # the file-stream source requires a directory; glob-filter to the one
    # table file inside the sf dir
    return (
        spark.readStream.schema(SCHEMAS["events"])
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def tumbling_counts(stream: DataFrame, watermark_delay: str = "1 hour") -> DataFrame:
    """T2 streaming: watermarked tumbling window counts."""
    return (
        stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """T4 streaming: native session_window with watermark-bounded state."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def deduped(stream: DataFrame, watermark_delay: str = "1 hour") -> DataFrame:
    """T5 streaming: stateful dedup with bounded state."""
    return stream.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stateful_sessions(
    stream: DataFrame,
    gap_minutes: int = 30,
    terminal_type: str = "purchase",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """T4+ custom stateful operator: sessionization where a session closes
    on an explicit terminal event (e.g. a purchase) OR a gap timeout —
    richer than native ``session_window``, which only knows gaps. The
    reference has no streaming engine at all (cron batch); this is the
    idiomatic Spark expression of its session-ish rollups with custom
    close rules.

    Built on ``applyInPandasWithState`` (Arrow-batched, per-key state):
    state is one (start, last, n) triple per open session per user —
    O(active users), bounded by the event-time timeout, which emits
    still-open sessions once the watermark passes last_ts + gap. Output
    rows carry ``closed_by`` in {'terminal','gap','timeout'}.

    Batch/stream parity with a driver-side reference fold is pinned in
    tests/test_streaming.py.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def fold(key, pdfs, state: GroupState):
        user_id = key[0]
        out: list[tuple] = []
        if state.hasTimedOut:
            if state.exists:
                s, l, n = state.get
                out.append((user_id, s, l, n, "timeout"))
                state.remove()
        else:
            rows = pd.concat(list(pdfs)).sort_values("ts")
            s, l, n = state.get if state.exists else (None, None, 0)
            for ts, et in zip(rows["ts"], rows["event_type"]):
                t = ts.value // 1000  # pandas ns -> event-time us
                if s is not None and t - l > gap_us:
                    out.append((user_id, s, l, n, "gap"))
                    s, n = None, 0
                if s is None:
                    s = t
                l = t
                n += 1
                if et == terminal_type:
                    out.append((user_id, s, l, n, "terminal"))
                    s, n = None, 0
            if s is not None:
                state.update((s, l, n))
                # fire once the watermark passes the would-be gap close
                state.setTimeoutTimestamp(l // 1000 + gap_minutes * 60 * 1000)
            elif state.exists:
                state.remove()
        yield pd.DataFrame(
            out, columns=["user_id", "start_us", "end_us", "n_events", "closed_by"]
        )

    folded = (
        stream.select("user_id", "ts", "event_type")
        .withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=(
                "user_id long, start_us long, end_us long, "
                "n_events long, closed_by string"
            ),
            stateStructType="start long, last long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return folded.select(
        "user_id",
        F.timestamp_micros(F.col("start_us")).alias("session_start"),
        F.timestamp_micros(F.col("end_us")).alias("session_end"),
        "n_events",
        "closed_by",
    )


def run_to_sink(
    result: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    mode: str = "append",
) -> None:
    """Drain the stream once (availableNow — the incremental-batch trigger)
    into a parquet sink. foreachBatch is the upsert hook at scale; plain
    append suffices for the smoke contract."""
    (
        result.writeStream.outputMode(mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", sink_dir)
        .start()
        .awaitTermination()
    )


def run_foreach_batch(stream: DataFrame, checkpoint_dir: str, body) -> None:
    """Drain the stream once (availableNow) through ``body(batch_df,
    batch_id)`` per micro-batch: the same bodies the cron ticks run
    (plans/jobs ``dedup_batch``, ``scd2_batch``, ``curate_batch``, or an
    ``upsert_parquet`` call), with the checkpointed epoch id as the
    batch id. The checkpoint makes the loop restartable at batch
    granularity. Update mode: a streaming aggregation hands each batch
    its changed groups, to be upserted by key; any other stream reads
    as append."""
    (
        stream.writeStream.outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(body)
        .start()
        .awaitTermination()
    )


def documents_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    """File-source document stream (one micro-batch per arriving file
    with ``maxFilesPerTrigger=1``) — the ingest side of the streaming
    dedup job."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )


def attribution_join(
    stream: DataFrame,
    attribution_window: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """T10 [EXT] stream-stream interval join: every purchase joined to
    ALL of the same user's clicks in the preceding hour — the attribution
    CANDIDATE set (last-touch is a max(click_ts)-per-purchase reduction
    on top of this output; emitting candidates keeps the stream join
    append-mode). The canonical two-stream join of an event pipeline; the
    reference has no streaming engine, and this is the ONE Structured
    Streaming join topology (stream x stream with state on both sides)
    the wrapper family didn't yet cover.

    Both sides carry watermarks and the join condition bounds click_ts to
    [buy_ts - window, buy_ts], so each side's state store evicts rows
    once the other side's watermark passes the bound — bounded state, the
    requirement for an unbounded run. Batch/stream parity is pinned in
    tests/test_streaming.py (Spark guarantees inner-join parity; the
    batch twin is the same join expression over the static frame).
    """
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark_delay)
    )
    buys = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("buy_ts"),
            F.col("event_id").alias("buy_id"),
        )
        .withWatermark("buy_ts", watermark_delay)
    )
    return buys.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("buy_ts"))
        & (
            F.col("click_ts")
            >= F.col("buy_ts") - F.expr(f"INTERVAL {attribution_window}")
        ),
        "inner",
    ).select("user_id", "buy_id", "buy_ts", "click_id", "click_ts")
