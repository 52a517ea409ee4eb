"""T1-T5: streaming-shaped operators, batch-checkable forms.

The reference is *incremental batch*: each run pulls docs newer than the
stored high-water mark, recomputes derived rows, idempotently upserts
(id-keyed ES bulk writes — ``MoDevETL/hierarchy.py``,
``env/elasticsearch.py``). These queries reproduce that contract on the
``events`` table; the true Structured Streaming wrappers (readStream,
withWatermark, dropDuplicatesWithinWatermark, foreachBatch upsert) live in
``modevetl_spark.streaming`` and are smoke-tested, not oracle-graded.

Oracle note: events.ts is ns in parquet; every oracle SQL casts to µs
TIMESTAMP to match Spark's read path.

Also here:

- ``q_session_stitch`` — cross-device identity stitching.
- ``q_dedup_latest_wins`` — latest event per user as one aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modevetl_spark.functions.compat import dsum, sql_dsum
from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()


_TUMBLING_ORACLE = f"""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value', 'total_value')}
FROM events
WHERE ts >= TIMESTAMP '1900-01-01' AND ts < TIMESTAMP '2100-01-01'
GROUP BY 1, 2
"""


@q("q_events_tumbling", oracle_sql=_TUMBLING_ORACLE)
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: tumbling window aggregation — F.window(ts, '1 hour'); in
    streaming mode the identical expression runs under a watermark.

    The valid-event-time guard (mirrored in the oracle) bounds the
    emitted window_start domain: a malformed year-0001 event otherwise
    produces a bucket that underflows python's datetime range at the
    driver's collect once a western session timezone shifts it into
    year 0 (strong-probe finding, round 12). Clean fixtures (2024) are
    untouched; streaming deployments get the same bound from their
    watermark."""
    prep(spark)
    ev = load(spark, sf_dir, "events").where(
        (F.col("ts") >= F.lit("1900-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2100-01-01").cast("timestamp"))
    )
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


_SLIDING_ORACLE = f"""
WITH slides AS (
    -- starts 45 min before the data's first event: a 1h window beginning
    -- up to 3 slides earlier still overlaps the first events, and Spark
    -- emits those windows too
    SELECT s AS window_start
    FROM generate_series(TIMESTAMP '2023-12-31 23:15:00',
                         TIMESTAMP '2024-02-01 00:00:00',
                         INTERVAL 15 MINUTE) AS t(s)
)
SELECT s.window_start,
       COUNT(e.event_id) AS n_events
FROM slides s
JOIN events e
  ON CAST(e.ts AS TIMESTAMP) >= s.window_start
 AND CAST(e.ts AS TIMESTAMP) < s.window_start + INTERVAL 1 HOUR
GROUP BY 1
"""


@q("q_events_sliding", oracle_sql=_SLIDING_ORACLE)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: sliding window — window(ts, '1 hour', '15 minutes'); each event
    lands in 4 overlapping windows (Spark expands them without a join)."""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


# Session assembly via the lag-gap-cumsum idiom so the SQL oracle can
# replicate session_window() exactly: a session breaks after >30 min of
# user inactivity; session bounds = min(ts) .. max(ts)+gap.
_SESSION_ORACLE = """
WITH marked AS (
    SELECT user_id, event_id,
           CAST(ts AS TIMESTAMP) AS ts,
           CASE WHEN CAST(ts AS TIMESTAMP)
                     - LAG(CAST(ts AS TIMESTAMP))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events
),
sessions AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
    FROM marked
)
SELECT user_id,
       CAST(session_id AS BIGINT) AS session_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
"""


@q("q_events_session", oracle_sql=_SESSION_ORACLE)
def events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: session windows (30 min gap) via lag-gap-cumsum — the
    batch-exact twin of ``session_window(ts, '30 minutes')`` (which is
    exercised in tests/test_streaming.py; its struct output and gap-merge
    rules are engine-specific, so the oracle-graded form is this idiom).
    """
    prep(spark)
    ev = load(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    gap_s = 30 * 60
    marked = ev.withColumn(
        "is_new",
        F.when(
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w_order))
            > gap_s * 1_000_000,
            1,
        ).otherwise(0),
    )
    sessions = marked.withColumn(
        "session_id", F.sum("is_new").over(w_run).cast("long")
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


_DEDUP_ORACLE = """
SELECT user_id, event_type,
       COUNT(*) AS n_unique_minutes
FROM (
    SELECT DISTINCT user_id, event_type,
           date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute
    FROM events
)
GROUP BY user_id, event_type
"""


@q("q_events_dedup", oracle_sql=_DEDUP_ORACLE)
def events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: stateful dedup — dropDuplicates on a derived identity (user,
    type, minute); the streaming form is dropDuplicatesWithinWatermark."""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    dedup = ev.select(
        "user_id",
        "event_type",
        F.date_trunc("minute", "ts").alias("minute"),
    ).dropDuplicates(["user_id", "event_type", "minute"])
    return dedup.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_unique_minutes")
    )


_SESSION_TERMINAL_ORACLE = """
WITH marked AS (
    SELECT user_id, event_id, event_type,
           CAST(ts AS TIMESTAMP) AS ts,
           CASE WHEN CAST(ts AS TIMESTAMP)
                     - LAG(CAST(ts AS TIMESTAMP))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE
                  OR LAG(event_type)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     = 'purchase'
                THEN 1 ELSE 0 END AS is_new
    FROM events
),
sessions AS (
    SELECT user_id, ts, event_type,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
    FROM marked
)
SELECT user_id,
       CAST(session_id AS BIGINT) AS session_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
FROM sessions
GROUP BY user_id, session_id
"""


@q("q_events_session_terminal", oracle_sql=_SESSION_TERMINAL_ORACLE)
def events_session_terminal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4+ batch twin of streaming/structured.stateful_sessions: sessions
    close on a 30-min gap OR a terminal 'purchase' event. The custom
    close rule is lag-gap-cumsum expressible in batch — the streaming
    form needs applyInPandasWithState (tested for parity in
    tests/test_streaming.py); this oracle-grades the shared semantics."""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = ev.withColumn(
        "is_new",
        F.when(
            (
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.lag("ts").over(w_order))
                > 30 * 60 * 1_000_000
            )
            | (F.lag("event_type").over(w_order) == "purchase"),
            1,
        ).otherwise(0),
    )
    sessions = marked.withColumn(
        "session_id", F.sum("is_new").over(w_run).cast("long")
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )


# --- Cross-device identity stitching (connected components) -------------

_STITCH_ORACLE = """
WITH RECURSIVE s AS (
    SELECT user_id, event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events WHERE event_type = 'signup'
),
fl AS (
    SELECT user_id,
           arg_min(k, event_id) AS dev_k,
           arg_max(k, event_id) AS email_k
    FROM s GROUP BY user_id
),
e AS (
    SELECT user_id AS a, 100000 + dev_k AS b FROM fl
    UNION
    SELECT user_id AS a, 200000 + email_k AS b FROM fl
),
links AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
reach AS (
    SELECT a, b FROM links
    UNION
    SELECT r.a, l.b FROM reach r JOIN links l ON l.a = r.b
),
lab AS (SELECT a AS node, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a),
users AS (SELECT node, comp FROM lab WHERE node < 100000),
sizes AS (
    SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_users FROM users GROUP BY comp
)
SELECT u.node AS user_id, u.comp AS stitched_id, z.n_users
FROM users u JOIN sizes z ON z.comp = u.comp
"""


@q("q_session_stitch", oracle_sql=_STITCH_ORACLE)
def session_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7+ [EXT]: cross-device identity stitching — resolve each user to
    a stitched identity by connecting users through shared device /
    email identifiers, the identity-resolution step upstream of any
    per-person sessionization or attribution. Fixture linkage (real
    schemas carry device ids; the fixture derives them): a user's
    "device" is the ``k`` prop of their FIRST signup event and their
    "email" the ``k`` of their LAST (min/max ``event_id`` —
    deterministic arg-extremes), giving a bipartite user↔identifier
    graph whose connected components are the stitched identities
    (stitched id = min user id in the component; identifier node ids
    are offset into disjoint ranges so the min is always a user).
    The range arithmetic is GUARDED, not assumed: every user id and
    identifier key is range-checked inline (``raise_error`` branch
    fused into the node expression, so Catalyst cannot prune it) —
    a key outside [0, 100000) would silently collide the user /
    device / email node spaces and merge unrelated identities while
    the oracle, replicating the same encoding, stayed green.

    Plan shape: edge derivation is one user-keyed aggregate of the
    signup slice (two ``min_by``/``max_by`` — no window, no sort);
    stitching reuses ``operators/components.connected_components`` —
    per-round cost one node-keyed join + hash agg, O(diameter) rounds,
    lineage checkpoint-truncated. Identifier hubs (one device shared
    by many users) are exactly the star graphs label propagation
    resolves in 2 rounds. Oracle: DuckDB recursive-CTE reachability
    closure + min-label (the q_graph_closure pattern) — a REAL
    component computation, not a closed form."""
    from modevetl_spark.operators.components import connected_components

    prep(spark)
    ev = load(spark, sf_dir, "events")
    s = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    fl = s.groupBy("user_id").agg(
        F.min_by("k", "event_id").alias("dev_k"),
        F.max_by("k", "event_id").alias("email_k"),
    )

    lim = 100000

    def _ranged(col: Column, offset: int) -> Column:
        # Range-guard fused into the node id so it survives pruning:
        # any id outside [0, lim) aborts the job instead of silently
        # colliding node spaces (user < lim <= device < 2·lim <= email).
        ok = (col >= 0) & (col < F.lit(lim))
        return F.when(ok, F.lit(offset) + col).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"session_stitch: id out of [0, {lim}): "),
                    col.cast("string"),
                )
            )
        )

    edges = fl.select(
        _ranged(F.col("user_id"), 0).alias("src"),
        _ranged(F.col("dev_k"), lim).alias("dst"),
    ).union(
        fl.select(
            _ranged(F.col("user_id"), 0).alias("src"),
            _ranged(F.col("email_k"), 2 * lim).alias("dst"),
        )
    )
    comp = connected_components(edges)
    users = comp.where(F.col("node") < 100000)
    sizes = users.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    return users.join(sizes, "component").select(
        F.col("node").alias("user_id"),
        F.col("component").alias("stitched_id"),
        "n_users",
    )


# --- Latest-version-per-key dedup, window-free --------------------------

_LATEST_WINS_ORACLE = """
SELECT user_id, CAST(ts AS TIMESTAMP) AS last_ts,
       event_id AS last_event_id, event_type AS last_event_type,
       n_versions
FROM (
    SELECT user_id, ts, event_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_versions
    FROM events
)
WHERE rn = 1
"""


@q("q_dedup_latest_wins", oracle_sql=_LATEST_WINS_ORACLE)
def dedup_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+/W3 scale path [EXT]: latest-version-per-key dedup as ONE hash
    aggregation — keep each user's most recent event (by ``(ts,
    event_id)``, the unique id breaking timestamp ties) via
    ``max(struct(ts, event_id, event_type))``: struct comparison is
    lexicographic, so the max struct IS the ``ORDER BY ts DESC, id
    DESC LIMIT 1`` row. The CDC-compaction / snapshot-dedup primitive,
    graded against the classic ``row_number() = 1`` oracle to prove
    the rewrite exact.

    Why not the window: ``row_number() OVER (PARTITION BY key ORDER BY
    ts DESC)`` shuffles EVERY version of every row, then sorts each
    partition, only to discard all but one row per key. The max-struct
    aggregate does the discard map-side: partial aggregation collapses
    each task's rows to one candidate per key before the exchange, so
    the shuffle carries |keys| rows, not |rows| — at 100 TB of
    versioned events with long histories that is orders of magnitude
    less traffic, and there is no sort at all. ``n_versions`` rides
    the same agg for free."""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type")).alias("last"),
        F.count(F.lit(1)).cast("bigint").alias("n_versions"),
    )
    return agg.select(
        "user_id",
        F.col("last.ts").alias("last_ts"),
        F.col("last.event_id").alias("last_event_id"),
        F.col("last.event_type").alias("last_event_type"),
        "n_versions",
    )
