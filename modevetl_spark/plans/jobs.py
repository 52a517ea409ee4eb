"""ETL jobs — the reference's top-level entry points, Spark-shaped.

``MoDevETL`` ships two production jobs (``hierarchy.py``, ``reviews.py``):
cron-style pull -> transform -> push pipelines over the Bugzilla ES
cluster. These are their engine-equivalents over the driver tables:

- :func:`hierarchy_job` — the transitive dependency hierarchy: pull edges
  newer than the watermark, recompute the closure, upsert (descendant
  counts keyed by ancestor) into the sink. Incremental contract identical
  to the reference: re-running with no new data is a no-op; updated docs
  replace their previous derived rows.
- :func:`reviews_job` — review-latency facts: for each 'purchase' event,
  latency since the user's latest prior 'click' (the as-of idiom), daily
  aggregates upserted by (day, user).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modevetl_spark.operators.closure import transitive_closure
from modevetl_spark.sources.catalog import load
from modevetl_spark.streaming.incremental import (
    Watermark,
    pull_newer,
    run_incremental,
)


def hierarchy_transform(edges: DataFrame) -> DataFrame:
    """Edge list (node, ancestor) -> per-ancestor descendant stats."""
    closure = transitive_closure(edges, src="node", dst="ancestor")
    return closure.groupBy("ancestor").agg(
        F.count(F.lit(1)).alias("n_descendants"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


def hierarchy_job(
    spark: SparkSession,
    sf_dir: str,
    sink_path: str,
    state_path: str,
) -> int:
    """The hierarchy ETL: partkey parent edges stand in for the bug
    ``dependson`` graph (same shape the reference pulls from ES)."""
    part = load(spark, sf_dir, "part")
    edges = part.where(F.col("p_partkey") >= 2).select(
        F.col("p_partkey").alias("node"),
        F.expr("p_partkey div 2").alias("ancestor"),
        F.col("p_partkey").alias("modified_seq"),  # stand-in modified_ts
    )

    def transform(pending: DataFrame) -> DataFrame:
        # Closure is a global property: a changed edge can alter counts for
        # ancestors far outside the pending subset, so pending only *gates*
        # the run — the recompute uses the full edge set (the reference
        # does the same: get_pending decides WHETHER to run, then the
        # hierarchy is rebuilt from all current docs). An
        # affected-subgraph-only recompute is the optimization to add when
        # the edge table outgrows full-recompute budgets.
        return hierarchy_transform(edges.select("node", "ancestor"))

    return run_incremental(
        spark,
        edges,
        ts_col="modified_seq",
        transform=transform,
        sink_path=sink_path,
        keys=["ancestor"],
        state_path=state_path,
    )


def reviews_transform(events: DataFrame) -> DataFrame:
    """Per-day, per-user purchase latency since last click (as-of) —
    the review-latency fact shape of ``reviews.py``."""
    ev = events.where(F.col("event_type").isin("purchase", "click"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    last_click = F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w)
    purchases = (
        ev.withColumn("last_click_ts", last_click)
        .where(F.col("event_type") == "purchase")
        .withColumn(
            "latency_s",
            (F.unix_micros("ts") - F.unix_micros("last_click_ts")) / 1e6,
        )
    )
    return purchases.groupBy(
        F.date_trunc("day", "ts").alias("day"), F.col("user_id")
    ).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.avg("latency_s"), 3).alias("avg_latency_s"),
    )


def reviews_job(
    spark: SparkSession, sf_dir: str, sink_path: str, state_path: str
) -> int:
    events = load(spark, sf_dir, "events")
    return run_incremental(
        spark,
        events,
        ts_col="ts",
        transform=reviews_transform,
        sink_path=sink_path,
        keys=["day", "user_id"],
        state_path=state_path,
    )


def dedup_job(
    spark: SparkSession, sf_dir: str, sink_path: str, state_path: str
) -> int:
    """Standing near-dup job as a cron tick: pull documents newer than
    the stored mark (doc_id is the fixture's arrival order), probe the
    persisted LSH index under the sink with just that delta, append the
    new candidate pairs and the batch's band rows, advance the mark.

    Each tick is O(|delta|) compute + one (band, band_key) equi-join
    against the index — the corpus is never re-read (see
    operators/dedup.run_dedup_incremental for the equivalence
    invariant). Index and pair stores live under ``sink_path`` and are
    addressed through the Hadoop-FS seam, so the job runs unmodified
    with an object-store sink."""
    import os

    from modevetl_spark.operators.dedup import run_dedup_incremental

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    wm = Watermark(state_path, spark=spark)
    # cache the delta: it feeds the count/mark stats, the signature
    # build, and the index append — uncached, each would re-scan the
    # source (3 corpus reads per tick at scale)
    pending = pull_newer(docs, "doc_id", wm.read()).cache()
    try:
        stats = pending.agg(
            F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("mark")
        ).collect()[0]
        if stats.n == 0:
            return 0
        run_dedup_incremental(
            spark,
            pending,
            os.path.join(sink_path, "lsh_index"),
            os.path.join(sink_path, "pairs"),
        )
        if stats.mark is not None:
            wm.write(stats.mark)
        return stats.n
    finally:
        pending.unpersist()


def scd2_job(
    spark: SparkSession, sf_dir: str, sink_path: str, state_path: str
) -> int:
    """Standing SCD-2 dimension maintenance as a cron tick: pull events
    newer than the stored mark (event_id — the fixture's arrival order,
    ts-monotone by construction), merge them O(delta) into the persisted
    interval store under the sink (operators/scd2.merge_scd2_state —
    only touched users' open tails rebuild), advance the mark.

    The watermark pull guarantees the merge's append-only contract
    (batch events never predate the open interval they extend), and a
    crashed tick that merged-but-didn't-advance replays only the one
    delta — merge is deterministic, so the keyed upsert rewrites the
    same rows (convergent, though the tick itself is not idempotent
    under arbitrary replays of OLDER data).

    Count and mark are observed on the delta by the merge's own action,
    so the delta is scanned once, with no cache and no aggregate of its
    own. An empty delta touches no user: the merge writes nothing and the
    mark stays. AQE then prunes the delta's empty stage and its observed
    metrics with it, so the observation is read only for a non-empty
    delta."""
    import os

    from pyspark.sql import Observation

    from modevetl_spark.operators.scd2 import merge_scd2_state

    events = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    wm = Watermark(state_path, spark=spark)
    stats = Observation()
    pending = pull_newer(events, "event_id", wm.read()).observe(
        stats, F.count(F.lit(1)).alias("n"), F.max("event_id").alias("mark")
    )
    if not merge_scd2_state(
        spark, pending, os.path.join(sink_path, "scd2_dimension")
    ):
        return 0
    n, mark = stats.get["n"], stats.get["mark"]
    if mark is not None:
        wm.write(mark)
    return n


def curate_transform(docs: DataFrame) -> DataFrame:
    """The per-batch curation columns: token count, composite quality,
    language score, content hash. Pure per-row built-ins — narrow, no
    shuffle, 100 TB embarrassingly parallel."""
    from modevetl_spark.operators.text import en_score, quality_score, tokens

    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        "text",
        F.size(toks).alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
        F.round(en_score(toks), 6).alias("lang_score"),
        F.md5(F.col("text")).alias("text_md5"),
    )


def curate_job(
    spark: SparkSession,
    sf_dir: str,
    sink_path: str,
    state_path: str,
    min_quality: float = 0.5,
    min_tokens: int = 5,
) -> int:
    """Standing corpus-curation job — the end-to-end training-data tick
    a reference user would run nightly: watermark-pull new documents,
    score them (tokens / quality / language), drop the low-quality
    tail, EXACT-dedup against everything ever curated (persisted
    content-hash store: one delta-sized anti-join — the corpus is never
    re-read), append survivors to the curated sink and their hashes to
    the seen-store, advance the mark. Returns survivors appended.

    Dedup-across-ticks invariant (pytest-gated): for an id-ordered
    arrival, ANY batch split of the corpus yields byte-identical
    curated content to one single-shot run — first occurrence wins
    within a batch (min doc_id per hash) and across batches (the
    seen-store anti-join). Convergent under a crash at EITHER window:
    a tick that wrote both stores but didn't advance the mark replays
    its delta and anti-joins to zero survivors; a tick that wrote the
    curated partition but not the seen-hashes replays the identical
    delta (same watermark, unchanged seen store) and OVERWRITES the
    same deterministic ``_batch=<max-doc-id>`` curated partition
    before appending the hashes (see :func:`curate_batch`). Assumes a
    single writer per sink, as any watermark job does.

    Scale shape per tick: one narrow scoring pass over the delta, one
    hash-keyed within-batch reduction (delta-sized exchange), one
    LEFT ANTI probe of the seen-store on the hash key — an anti join
    must build on the store side, so at corpus scale this is a shuffled
    hash-keyed join; bucket/partition the seen-store by a hash prefix
    and the probe prunes to the delta's buckets (same layout note as
    the LSH index). Two appends; everything through the Hadoop-FS seam
    / Spark writers."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    wm = Watermark(state_path, spark=spark)
    pending = pull_newer(docs, "doc_id", wm.read()).cache()
    try:
        stats = pending.agg(
            F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("mark")
        ).collect()[0]
        if stats.n == 0:
            return 0
        n_out = curate_batch(
            spark,
            pending,
            sink_path,
            min_quality,
            min_tokens,
            # deterministic for the delta (the watermark pins its lower
            # bound, this is its max id) — a crash replay of the same
            # delta overwrites the same curated partition
            batch_id=stats.mark,
        )
        if stats.mark is not None:
            wm.write(stats.mark)
        return n_out
    finally:
        pending.unpersist()


def _migrate_flat_curated(spark: SparkSession, curated: str) -> None:
    """One-time layout migration for sinks written by the
    pre-partitioned ``curate_batch``: flat parquet files at the curated
    root, with ``_batch=`` partition directories about to land beside
    them, are exactly the mixed layout parquet partition discovery
    rejects — so the first partitioned append into an old sink would
    corrupt it for every reader (round-8 advice). MOVE each flat file
    into the reserved ``_batch=legacy/`` partition directory: the
    Hive-layout convention supplies ``_batch`` from the directory name,
    and a pre-partitioned writer never stored that column in the files,
    so a renamed file reads back identically to one rewritten there.

    Loss-proof by construction (round-9 advice): the earlier
    rewrite-then-delete form could lose curated rows — a crash midway
    through the delete loop leaves survivors whose next replay
    dynamic-OVERWRITES ``_batch=legacy`` with only the surviving files'
    rows, silently discarding the already-deleted files' rows; a stale
    unpartitioned writer dropping new flat files after a completed
    migration triggers the same destructive overwrite. A per-file
    rename has no such window: each file is either still at the root
    (the next run migrates it) or already inside ``legacy/`` (done) —
    its rows always exist in exactly one readable place, any partial
    run is resumable, and late flat files APPEND to the legacy
    partition instead of replacing it."""
    from modevetl_spark.sources.fs import fs_rename_into_dir, fs_root_parquet_files

    flat = fs_root_parquet_files(spark, curated)
    if not flat:
        return
    legacy_dir = curated.rstrip("/") + "/_batch=legacy"
    for f in flat:
        fs_rename_into_dir(spark, f, legacy_dir)


def _append_seen(survivors: DataFrame, seen_path: str) -> None:
    """The seen-store append, as a seam so the crash-replay test can
    fail it deliberately (simulating a crash after the curated write
    committed but before the hashes did)."""
    survivors.select("text_md5").write.mode("append").parquet(seen_path)


def curate_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    sink_path: str,
    min_quality: float = 0.5,
    min_tokens: int = 5,
    batch_id: int | str | None = None,
) -> int:
    """One curation micro-batch over an already-delimited delta — the
    shared core of :func:`curate_job` (watermark cadence) and
    ``streaming.structured.run_streaming_curate`` (foreachBatch
    cadence). Scores, filters, exact-dedups within the batch (min
    doc_id per hash) and against the persisted seen-hash store, writes
    survivors + hashes. Returns survivors written.

    Crash atomicity (single-writer): the curated write and the
    seen-hash write cannot be one atomic rename (two directories), so
    instead the curated write is made IDEMPOTENT under replay: each
    batch lands in a deterministic ``_batch=<id>`` partition via
    dynamic partition overwrite, and the seen-hash append runs LAST.
    Replaying a tick that crashed between the two writes recomputes the
    identical survivor set (same delta — the watermark didn't advance —
    and the seen store didn't change) and OVERWRITES the same
    partition instead of appending a duplicate copy; a replay after
    both writes anti-joins to zero survivors and writes nothing. Either
    way the curated content converges to the single-shot run. ``batch_id``
    must be deterministic for the delta — :func:`curate_job` passes the
    delta's max doc_id, the streaming face passes the checkpointed
    foreachBatch epoch id. ``None`` (direct ad-hoc calls) appends into
    the reserved ``_batch=adhoc`` partition — same partitioned layout
    as id'd batches (mixing flat files and partition directories in one
    sink would break parquet partition discovery), but WITHOUT the
    replay guarantee (appends duplicate on replay)."""
    import os

    from modevetl_spark.sources.fs import fs_has_parquet_files

    scored = curate_transform(batch_docs)
    good = scored.where(
        (F.col("quality") >= min_quality) & (F.col("n_tokens") >= min_tokens)
    )
    # within-batch first occurrence per content hash
    first = good.groupBy("text_md5").agg(F.min("doc_id").alias("keep_id"))
    batch_unique = good.join(
        first,
        (good.text_md5 == first.text_md5) & (good.doc_id == first.keep_id),
    ).select(good["*"])
    seen_path = os.path.join(sink_path, "seen_hashes")
    if fs_has_parquet_files(spark, seen_path):
        seen = spark.read.parquet(seen_path)
        survivors = batch_unique.join(seen, "text_md5", "left_anti")
    else:
        survivors = batch_unique
    survivors = survivors.cache()
    try:
        n_out = survivors.count()
        if n_out:
            curated = os.path.join(sink_path, "curated")
            _migrate_flat_curated(spark, curated)
            if batch_id is None:
                (
                    survivors.withColumn("_batch", F.lit("adhoc"))
                    .write.partitionBy("_batch")
                    .mode("append")
                    .parquet(curated)
                )
            else:
                (
                    survivors.withColumn("_batch", F.lit(str(batch_id)))
                    .write.partitionBy("_batch")
                    .mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .parquet(curated)
                )
            _append_seen(survivors, seen_path)
    finally:
        survivors.unpersist()
    return n_out
