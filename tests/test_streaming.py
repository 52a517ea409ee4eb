"""Streaming + incremental-contract tests (SURVEY.md §2.9).

The oracle-graded batch queries certify the aggregation logic; these
tests certify the streaming/incremental *plumbing*: watermark persistence,
idempotent upsert, batch/stream result parity, stateful dedup."""

from __future__ import annotations

import os
import shutil
from functools import partial

import pyspark.sql.functions as F
import pytest

from modevetl_spark.plans.jobs import hierarchy_job, reviews_job
from modevetl_spark.streaming.incremental import Watermark, upsert_parquet
from modevetl_spark.streaming.structured import (
    deduped,
    events_stream,
    run_to_sink,
    session_counts,
    tumbling_counts,
)


def test_watermark_roundtrip(tmp_path):
    wm = Watermark(str(tmp_path / "state.json"))
    assert wm.read() is None
    assert wm.read(default=0) == 0
    wm.write("2024-01-15 00:00:00")
    assert wm.read() == "2024-01-15 00:00:00"
    wm.write("2024-02-01 00:00:00")  # overwrite advances
    assert wm.read() == "2024-02-01 00:00:00"


def test_upsert_parquet_idempotent(spark, tmp_path):
    sink = str(tmp_path / "sink")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    upsert_parquet(spark, df1, sink, keys=["id"])
    df2 = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"])
    upsert_parquet(spark, df2, sink, keys=["id"])
    got = {(r.id, r.v) for r in spark.read.parquet(sink).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}  # incoming wins on key
    # replay the same batch -> unchanged (idempotent)
    upsert_parquet(spark, df2, sink, keys=["id"])
    assert {(r.id, r.v) for r in spark.read.parquet(sink).collect()} == got


def _part_files(sink: str, part: str) -> dict[str, float]:
    d = os.path.join(sink, part)
    return {
        f: os.path.getmtime(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }


def test_upsert_parquet_partition_scoped(spark, tmp_path):
    """Partitioned upsert rewrites ONLY the touched partitions: untouched
    partitions keep the exact same files (names + mtimes)."""
    sink = str(tmp_path / "psink")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 2), (4, "d", 3)], ["id", "v", "p"]
    )
    upsert_parquet(spark, base, sink, keys=["id"], partition_by=["p"])
    before_p2, before_p3 = _part_files(sink, "p=2"), _part_files(sink, "p=3")

    # update id=2 (p=1) + insert id=5 (p=1): only partition p=1 is touched
    inc = spark.createDataFrame([(2, "B", 1), (5, "e", 1)], ["id", "v", "p"])
    upsert_parquet(spark, inc, sink, keys=["id"], partition_by=["p"])

    got = {(r.id, r.v, r.p) for r in spark.read.parquet(sink).collect()}
    assert got == {(1, "a", 1), (2, "B", 1), (3, "c", 2), (4, "d", 3), (5, "e", 1)}
    assert _part_files(sink, "p=2") == before_p2  # byte-untouched
    assert _part_files(sink, "p=3") == before_p3


def test_upsert_parquet_key_moves_partition(spark, tmp_path):
    """A key that changes partition value must vanish from its old home."""
    sink = str(tmp_path / "msink")
    base = spark.createDataFrame([(1, "a", 1), (2, "b", 2)], ["id", "v", "p"])
    upsert_parquet(spark, base, sink, keys=["id"], partition_by=["p"])
    # id=2 moves from p=2 to p=3
    inc = spark.createDataFrame([(2, "B", 3)], ["id", "v", "p"])
    upsert_parquet(spark, inc, sink, keys=["id"], partition_by=["p"])
    got = {(r.id, r.v, r.p) for r in spark.read.parquet(sink).collect()}
    assert got == {(1, "a", 1), (2, "B", 3)}


def test_upsert_parquet_null_partition_key_move(spark, tmp_path):
    """Key moves out of the NULL partition (__HIVE_DEFAULT_PARTITION__):
    the emptied null-partition directory must be cleaned up too."""
    sink = str(tmp_path / "nsink")
    base = spark.createDataFrame([(1, "a", 1), (2, "b", None)], ["id", "v", "p"])
    upsert_parquet(spark, base, sink, keys=["id"], partition_by=["p"])
    inc = spark.createDataFrame([(2, "B", 3)], ["id", "v", "p"])
    upsert_parquet(spark, inc, sink, keys=["id"], partition_by=["p"])
    got = {(r.id, r.v, r.p) for r in spark.read.parquet(sink).collect()}
    assert got == {(1, "a", 1), (2, "B", 3)}


def test_hierarchy_job_incremental(spark, sf_dir, tmp_path):
    sink = str(tmp_path / "hier")
    state = str(tmp_path / "hier_state.json")
    n1 = hierarchy_job(spark, sf_dir, sink, state)
    assert n1 > 0
    out = spark.read.parquet(sink)
    # partkey tree at sf0.001: 199 edges (2..200); ancestors 1..100
    assert out.count() > 0
    root = out.where(F.col("ancestor") == 1).collect()[0]
    # every node >= 2 eventually reaches ancestor 1
    assert root.n_descendants == n1
    # second run: nothing pending -> no-op
    n2 = hierarchy_job(spark, sf_dir, sink, state)
    assert n2 == 0


def test_jobs_cli_settings_file(sf_dir, tmp_path):
    """The operational front door: ``python -m modevetl_spark.jobs all
    --settings settings.json`` runs both jobs from a JSON settings file and
    is an incremental no-op on rerun."""
    import json
    import subprocess
    import sys

    settings = {
        "source": {"sf_dir": sf_dir},
        "sink": {"dir": str(tmp_path / "sinks")},
        "state": {"dir": str(tmp_path / "state")},
        "spark": {"master": "local[4]", "shuffle_partitions": 8},
    }
    sfile = tmp_path / "settings.json"
    sfile.write_text(json.dumps(settings))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cmd = [sys.executable, "-m", "modevetl_spark.jobs", "all", "--settings", str(sfile)]
    out1 = subprocess.run(
        cmd, cwd=repo, capture_output=True, text=True, timeout=300
    )
    assert out1.returncode == 0, out1.stderr[-2000:]
    assert "job=hierarchy rows=" in out1.stdout and "rows=0" not in out1.stdout
    assert os.path.isdir(str(tmp_path / "sinks" / "hierarchy"))
    out2 = subprocess.run(
        cmd, cwd=repo, capture_output=True, text=True, timeout=300
    )
    assert out2.returncode == 0, out2.stderr[-2000:]
    assert out2.stdout.count("rows=0") == 5  # watermark advanced -> no-op


def test_reviews_job(spark, sf_dir, tmp_path):
    sink = str(tmp_path / "reviews")
    state = str(tmp_path / "reviews_state.json")
    n = reviews_job(spark, sf_dir, sink, state)
    assert n > 0
    out = spark.read.parquet(sink)
    assert out.columns == ["day", "user_id", "n_purchases", "avg_latency_s"]
    assert out.count() > 0
    assert reviews_job(spark, sf_dir, sink, state) == 0  # watermark advanced


def test_stream_batch_parity_tumbling(spark, sf_dir, tmp_path):
    """The streaming tumbling aggregation over the full (bounded) source
    must equal the batch groupBy(window(...)) — Spark's unified model."""
    from modevetl_spark.queries import all_queries

    stream = events_stream(spark, sf_dir)
    result = tumbling_counts(stream)
    sink = str(tmp_path / "tumble")
    run_to_sink(result, sink, str(tmp_path / "ckpt"), mode="append")
    got = spark.read.parquet(sink)

    batch = all_queries()["q_events_tumbling"](spark, sf_dir).select(
        "window_start", "event_type", "n_events"
    )
    # streaming-append emits nothing the watermark hasn't passed: windows
    # in the final watermark delay stay in state at end-of-stream. So the
    # stream result must be a subset of batch, and anything missing must
    # be within (delay + window) of the max event time.
    assert got.exceptAll(batch).count() == 0
    missing = batch.exceptAll(got)
    from modevetl_spark.sources.catalog import load

    hi = load(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    late_edge = F.lit(hi) - F.expr("INTERVAL 2 HOURS")
    assert missing.where(F.col("window_start") < late_edge).count() == 0


def test_stream_session_window(spark, sf_dir, tmp_path):
    stream = events_stream(spark, sf_dir)
    result = session_counts(stream)
    sink = str(tmp_path / "sess")
    run_to_sink(result, sink, str(tmp_path / "ckpt2"), mode="append")
    got = spark.read.parquet(sink)
    assert got.count() > 0
    # sessions never overlap per user
    assert (
        got.alias("a")
        .join(
            got.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.session_start") < F.col("b.session_start"))
            & (F.col("b.session_start") < F.col("a.session_end")),
        )
        .count()
        == 0
    )


def test_stream_dedup(spark, sf_dir, tmp_path):
    stream = events_stream(spark, sf_dir)
    result = deduped(stream).select("event_id")
    sink = str(tmp_path / "dedup")
    run_to_sink(result, sink, str(tmp_path / "ckpt3"), mode="append")
    got = spark.read.parquet(sink)
    assert got.count() == got.distinct().count()


def test_stateful_sessions_parity(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionizer vs an independent driver-side
    fold over the same events: every closed session must agree. Sessions
    still open at end-of-data stay in state (no timeout fires under a
    single availableNow batch) — streaming-correct behavior."""
    from modevetl_spark.streaming.structured import events_stream, stateful_sessions

    gap_min, terminal = 30, "purchase"
    sessions = stateful_sessions(
        events_stream(spark, sf_dir), gap_minutes=gap_min, terminal_type=terminal
    )
    sink = str(tmp_path / "sessions")
    (
        sessions.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .format("parquet")
        .option("path", sink)
        .start()
        .awaitTermination()
    )
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.closed_by)
        for r in spark.read.parquet(sink).collect()
    }

    # independent reference fold (driver-side, plain python)
    from modevetl_spark.sources.catalog import load

    rows = (
        load(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .orderBy("user_id", "ts")
        .collect()
    )
    gap_us = gap_min * 60 * 1_000_000
    expected = set()
    state = {}
    for r in rows:
        t = int(r.ts.timestamp() * 1_000_000)
        s = state.get(r.user_id)
        if s and t - s[1] > gap_us:
            expected.add((r.user_id, s[0], s[1], s[2], "gap"))
            s = None
        if s is None:
            s = (t, t, 0)
        s = (s[0], t, s[2] + 1)
        if r.event_type == terminal:
            expected.add((r.user_id, s[0], s[1], s[2], "terminal"))
            state.pop(r.user_id, None)
        else:
            state[r.user_id] = s
    # event-time timeouts: the final watermark (max ts - 1h delay) expires
    # open sessions whose gap deadline has passed; fresher ones stay open
    wm_us = max(int(r.ts.timestamp() * 1_000_000) for r in rows) - 3600 * 1_000_000
    for u, s in state.items():
        if s[1] + gap_us < wm_us:
            expected.add((u, s[0], s[1], s[2], "timeout"))
    import datetime

    def us2ts(us):
        return datetime.datetime.fromtimestamp(us / 1e6)

    expected_ts = {
        (u, us2ts(a), us2ts(b), n, c) for (u, a, b, n, c) in expected
    }
    assert got == expected_ts
    assert len(got) > 0


def test_foreach_batch_upsert_partitioned(spark, sf_dir, tmp_path):
    """Streaming foreachBatch upsert with a partitioned sink: the final
    sink equals the batch aggregate (id-keyed merge across micro-batches,
    partition-scoped rewrites inside each batch)."""
    from modevetl_spark.sources.catalog import load
    from modevetl_spark.streaming.structured import run_foreach_batch

    stream = events_stream(spark, sf_dir)
    result = stream.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    sink = str(tmp_path / "fbu")

    def body(batch_df, batch_id):
        upsert_parquet(
            spark, batch_df, sink, ["user_id", "event_type"], ["event_type"]
        )

    run_foreach_batch(result, str(tmp_path / "ckpt_fbu"), body)
    got = spark.read.parquet(sink).select("user_id", "event_type", "n")
    batch = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert got.exceptAll(batch).count() == 0 and batch.exceptAll(got).count() == 0


def test_upsert_bool_partition_cleanup_and_crash_recovery(spark, tmp_path):
    """Review fixes: (3) boolean partition dirs are written as 'p=true' --
    the emptied-partition cleanup must match Spark's encoding, not
    str(True); (4) a crash between the swap renames leaves only the
    backup, which the next run must restore instead of treating the sink
    as empty."""
    import shutil

    sink = str(tmp_path / "bsink")
    base = spark.createDataFrame([(1, "a", True), (2, "b", False)], ["id", "v", "p"])
    upsert_parquet(spark, base, sink, keys=["id"], partition_by=["p"])
    # id=2 moves from p=false to p=true: the false partition must vanish
    inc = spark.createDataFrame([(2, "B", True)], ["id", "v", "p"])
    upsert_parquet(spark, inc, sink, keys=["id"], partition_by=["p"])
    # partition values read back as strings (no boolean dir inference)
    got = {(r.id, r.v, str(r.p).lower()) for r in spark.read.parquet(sink).collect()}
    assert got == {(1, "a", "true"), (2, "B", "true")}
    assert not os.path.exists(os.path.join(sink, "p=false"))

    # simulate the crash window: sink renamed aside, new never landed
    sink2 = str(tmp_path / "csink")
    df1 = spark.createDataFrame([(1, "a")], ["id", "v"])
    upsert_parquet(spark, df1, sink2, keys=["id"])
    os.rename(sink2, sink2 + ".upsert_bak")  # crash left only the backup
    df2 = spark.createDataFrame([(2, "b")], ["id", "v"])
    upsert_parquet(spark, df2, sink2, keys=["id"])
    got2 = {(r.id, r.v) for r in spark.read.parquet(sink2).collect()}
    assert got2 == {(1, "a"), (2, "b")}  # prior rows recovered, not lost
    shutil.rmtree(sink2 + ".upsert_bak", ignore_errors=True)


def test_upsert_timestamp_partition_values(spark, tmp_path):
    """Review regression: Spark renders timestamp partition dirs with the
    fraction's trailing zeros trimmed ('...00%3A00%3A00.5'), while
    str(datetime) gives '.500000' — the per-partition swap used to miss
    both the staged and the live dir and silently discard the merged
    output. Also covers micros=0 (no dot) and an untrimmable fraction."""
    import datetime as dt

    sink = str(tmp_path / "tsink")
    t5 = dt.datetime(2024, 1, 1, 0, 0, 0, 500000)
    t0 = dt.datetime(2024, 1, 2, 0, 0, 0)
    t123 = dt.datetime(2024, 1, 3, 0, 0, 0, 123)
    base = spark.createDataFrame(
        [(1, "a", t5), (2, "b", t0), (3, "c", t123)], "id int, v string, ts timestamp"
    )
    upsert_parquet(spark, base, sink, keys=["id"], partition_by=["ts"])
    inc = spark.createDataFrame([(1, "UPDATED", t5)], "id int, v string, ts timestamp")
    upsert_parquet(spark, inc, sink, keys=["id"], partition_by=["ts"])
    got = {(r.id, r.v) for r in spark.read.parquet(sink).collect()}
    assert got == {(1, "UPDATED"), (2, "b"), (3, "c")}
    # key moves out of the fractional-second partition: dir must vanish
    inc2 = spark.createDataFrame([(1, "MOVED", t0)], "id int, v string, ts timestamp")
    upsert_parquet(spark, inc2, sink, keys=["id"], partition_by=["ts"])
    # partition values read back as strings (no timestamp dir inference
    # in this session) — compare on Spark's trimmed rendering
    got2 = {(r.id, r.v, str(r.ts)) for r in spark.read.parquet(sink).collect()}
    assert got2 == {
        (1, "MOVED", "2024-01-02 00:00:00"),
        (2, "b", "2024-01-02 00:00:00"),
        (3, "c", "2024-01-03 00:00:00.000123"),
    }
    assert not os.path.exists(os.path.join(sink, "ts=2024-01-01 00%3A00%3A00.5"))


def test_upsert_staging_dir_swept(spark, tmp_path):
    """A crashed run's staging dir (dead pid suffix) must be swept by the
    next run; a LIVE run's staging dir must never be touched — a shared
    fixed staging path once let an overlapping cron run delete the staged
    output mid-swap, which read as 'every partition emptied'."""
    import subprocess

    sink = str(tmp_path / "ssink")
    base = spark.createDataFrame([(1, "a", 1)], ["id", "v", "p"])
    upsert_parquet(spark, base, sink, keys=["id"], partition_by=["p"])

    proc = subprocess.Popen(["true"])  # a pid guaranteed dead after wait
    proc.wait()
    dead = f"{sink}.upsert_tmp.{proc.pid}"
    os.makedirs(os.path.join(dead, "data", "p=9"))
    live = f"{sink}.upsert_tmp.1"  # pid 1 is always alive (init)
    os.makedirs(os.path.join(live, "data", "p=8"))

    inc = spark.createDataFrame([(2, "b", 2)], ["id", "v", "p"])
    upsert_parquet(spark, inc, sink, keys=["id"], partition_by=["p"])
    assert not os.path.exists(dead)  # dead run's leftovers removed
    assert os.path.exists(live)  # concurrent run's staging untouched
    shutil.rmtree(live, ignore_errors=True)
    got = {(r.id, r.v, r.p) for r in spark.read.parquet(sink).collect()}
    assert got == {(1, "a", 1), (2, "b", 2)}


def test_hive_part_value_matches_spark_rendering(spark, tmp_path):
    """Differential gate: _hive_part_value must reproduce the directory
    names Spark's partitionBy actually writes, across the value shapes
    that diverge from plain str() — escapes, empty string, booleans,
    fractional timestamps, and Java double formatting. Any future
    divergence trips this test instead of the swap's runtime abort."""
    import datetime as dt

    from modevetl_spark.streaming.incremental import _hive_part_value

    cases = [
        ("s", "a b"), ("s", "a:b"), ("s", "a%b"), ("s", "a#b"), ("s", "a=b"),
        ("s", "a,b"), ("s", "café"), ("s", "a\tb"), ("s", "-x"), ("s", "0.5"),
        ("s", ""), ("s", None),
        ("d", -0.5), ("d", 1e-7), ("d", 600000.0), ("d", float("nan")),
        ("d", 1e20), ("d", 0.0005), ("d", 12345678.0), ("d", 0.001),
        ("t", dt.datetime(2024, 1, 1, 0, 0, 0, 500000)),
        ("t", dt.datetime(2024, 1, 1, 0, 0, 0)),
        ("b", True), ("b", False),
        ("i", -7), ("i", 0),
        ("dt", dt.date(2024, 1, 2)),
    ]
    schemas = {"s": "string", "d": "double", "t": "timestamp", "b": "boolean",
               "i": "int", "dt": "date"}
    for kind in schemas:
        vals = [v for k, v in cases if k == kind]
        if not vals:
            continue
        base = str(tmp_path / f"hp_{kind}")
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)],
            f"id int, p {schemas[kind]}",
        )
        df.write.mode("overwrite").partitionBy("p").parquet(base)
        written = {d for d in os.listdir(base) if d.startswith("p=")}
        expected = {f"p={_hive_part_value(v)}" for v in vals}
        assert written == expected, (kind, written ^ expected)


def test_upsert_null_key_replay_converges(spark, tmp_path):
    """Replay idempotence with NULL keys: a plain on=keys anti-join never
    matches NULL = NULL, so replaying a delta with a null-keyed row used
    to duplicate it per replay — breaking the crash contract's 'replay
    the same delta and converge'. Both branches must use null-safe key
    equality."""
    for partition_by, name in [(None, "nk_flat"), (["p"], "nk_part")]:
        sink = str(tmp_path / name)
        base = spark.createDataFrame(
            [(1, "a", 1), (None, "n", 2)], "id int, v string, p int"
        )
        upsert_parquet(spark, base, sink, keys=["id"], partition_by=partition_by)
        inc = spark.createDataFrame(
            [(None, "N2", 3), (1, "A", 1)], "id int, v string, p int"
        )
        for _ in range(2):  # apply, then replay the same delta
            upsert_parquet(spark, inc, sink, keys=["id"], partition_by=partition_by)
        got = {(r.id, r.v) for r in spark.read.parquet(sink).collect()}
        assert got == {(1, "A"), (None, "N2")}, name


def test_upsert_partitioned_crash_recovery(spark, tmp_path):
    """Partitioned swap crash window: a partition renamed aside into the
    backup root whose replacement never landed must be restored on the
    next run (per-partition atomicity: every partition fully old or fully
    new, never half-written or lost)."""
    sink = str(tmp_path / "pcsink")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2), (3, "c", 3)], ["id", "v", "p"]
    )
    upsert_parquet(spark, base, sink, keys=["id"], partition_by=["p"])
    assert not os.path.exists(sink + ".upsert_bak_parts")  # clean exit

    # simulate a crash mid-swap: p=2 moved aside, new dir never landed
    bakroot = sink + ".upsert_bak_parts"
    os.makedirs(bakroot)
    os.rename(os.path.join(sink, "p=2"), os.path.join(bakroot, "p=2"))

    inc = spark.createDataFrame([(1, "A", 1)], ["id", "v", "p"])
    upsert_parquet(spark, inc, sink, keys=["id"], partition_by=["p"])
    got = {(r.id, r.v, r.p) for r in spark.read.parquet(sink).collect()}
    assert got == {(1, "A", 1), (2, "b", 2), (3, "c", 3)}  # p=2 restored
    assert not os.path.exists(bakroot)


def test_run_incremental_partitioned_sink(spark, tmp_path):
    """Cron-contract loop with a partitioned sink: each tick rewrites only
    the partitions its delta touches, the watermark advances, and a rerun
    is a no-op."""
    from modevetl_spark.streaming.incremental import tick

    src1 = spark.createDataFrame(
        [(1, 10, 100, "a"), (2, 10, 200, "b"), (3, 20, 300, "c")],
        ["id", "day", "seq", "v"],
    )
    sink = str(tmp_path / "inc_sink")
    state = str(tmp_path / "inc_state.json")

    def body(delta, mark):
        upsert_parquet(
            spark, delta.select("id", "day", "v"), sink, ["id"], ["day"]
        )

    n1 = tick(spark, src1, "seq", state, body)
    assert n1 == 3
    before_d10 = _part_files(sink, "day=10")

    # second batch: new row on day 20 only -> day=10 files untouched
    src2 = src1.unionByName(
        spark.createDataFrame([(4, 20, 400, "d")], ["id", "day", "seq", "v"])
    )
    n2 = tick(spark, src2, "seq", state, body)
    assert n2 == 1  # only the new row was pending
    assert _part_files(sink, "day=10") == before_d10
    got = {(r.id, r.day, r.v) for r in spark.read.parquet(sink).collect()}
    assert got == {(1, 10, "a"), (2, 10, "b"), (3, 20, "c"), (4, 20, "d")}
    # replay with no new data -> no-op
    assert tick(spark, src2, "seq", state, body) == 0


def test_streaming_dedup_equals_full_recompute(spark, sf_dir, tmp_path):
    """The Structured Streaming dedup job (file-per-micro-batch arrivals
    through foreachBatch) must reproduce the full-corpus LSH pair set —
    the streaming twin of the batch-loop equivalence gate."""
    from modevetl_spark.plans.jobs import dedup_batch
    from modevetl_spark.sources.catalog import load
    from modevetl_spark.streaming.structured import (
        documents_stream,
        run_foreach_batch,
    )
    from tests.dedup_reference import full_minhash_candidates

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    arrivals = str(tmp_path / "arrivals")
    for m in range(3):
        docs.where(F.col("doc_id") % 3 == m).coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)

    sink = str(tmp_path / "dedup")
    pairs_path = os.path.join(sink, "pairs")
    run_foreach_batch(
        documents_stream(spark, arrivals),
        str(tmp_path / "ckpt"),
        partial(dedup_batch, sink_path=sink),
    )

    full = {(r.id_a, r.id_b) for r in full_minhash_candidates(docs).collect()}
    got = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(pairs_path).distinct().collect()
    }
    assert got == full


def test_watermark_hadoop_fs_uri(spark, tmp_path):
    """file: URI watermark routes through the Hadoop FileSystem — the
    object-store seam: os.path.exists is always False on a URI, so a
    pass here proves the state I/O never touches os.path."""
    uri = "file:" + str(tmp_path / "state.json")
    wm = Watermark(uri, spark=spark)
    assert wm.read() is None
    wm.write("2024-01-15 00:00:00")
    assert wm.read() == "2024-01-15 00:00:00"
    wm.write("2024-02-01 00:00:00")  # overwrite advances (delete+rename)
    assert wm.read() == "2024-02-01 00:00:00"
    assert not os.path.exists(uri)  # the raw URI is NOT a local path


def test_fs_exists_scheme_routing(spark, tmp_path):
    from modevetl_spark.sources.fs import fs_exists, has_scheme

    p = tmp_path / "x.parquet"
    p.write_text("stub")
    assert has_scheme("file:" + str(p))
    assert has_scheme("s3a://bucket/key")
    assert not has_scheme(str(p))
    assert not has_scheme("relative/path/data.parquet")
    assert fs_exists(spark, str(p))
    assert fs_exists(spark, "file:" + str(p))
    assert not fs_exists(spark, "file:" + str(tmp_path / "missing"))
    assert fs_exists(None, str(p))  # no-session local fallback


def test_upsert_after_total_delete(spark, tmp_path):
    """A sink whose rows were all deleted (markers left, zero data files)
    must behave as nonexistent for the next upsert instead of failing
    parquet schema inference forever."""
    (tmp_path / "sink").mkdir()
    (tmp_path / "sink" / "_SUCCESS").write_text("")
    sink = str(tmp_path / "sink")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    upsert_parquet(spark, df, sink, keys=["id"])
    got = {(r.id, r.v) for r in spark.read.parquet(sink).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_dedup_incremental_uri_paths(spark, tmp_path):
    """The standing dedup job runs against file: URIs end-to-end —
    the index-existence probe and both appends go through Hadoop FS."""
    from modevetl_spark.operators.dedup import run_dedup_incremental

    idx = "file:" + str(tmp_path / "lsh_index")
    prs = "file:" + str(tmp_path / "pairs")
    docs1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    docs2 = spark.createDataFrame(
        [(2, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    assert run_dedup_incremental(spark, docs1, idx, prs) == 0
    assert run_dedup_incremental(spark, docs2, idx, prs) == 1
    pairs = {(r.id_a, r.id_b) for r in spark.read.parquet(prs).collect()}
    assert pairs == {(1, 2)}


def test_attribution_join_stream_batch_parity(spark, sf_dir, tmp_path):
    """T10 stream-stream interval join: the streaming attribution result
    (purchase x preceding-hour clicks per user) must equal the identical
    join over the static frame."""
    from modevetl_spark.streaming.structured import attribution_join

    stream = events_stream(spark, sf_dir)
    out = attribution_join(stream)
    sink = str(tmp_path / "attr")
    run_to_sink(out, sink, str(tmp_path / "ckpt"))
    got = {
        (r.user_id, r.buy_id, r.click_id)
        for r in spark.read.parquet(sink).collect()
    }

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    b = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("buy_ts"), F.col("event_id").alias("buy_id")
    )
    want = {
        (r.user_id, r.buy_id, r.click_id)
        for r in b.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("buy_ts"))
            & (F.col("click_ts") >= F.col("buy_ts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_dedup_job_incremental(spark, sf_dir, tmp_path):
    """The standing dedup job as a cron tick: first run indexes the
    corpus; rerun is a watermark no-op; the index store exists."""
    from modevetl_spark.plans.jobs import dedup_job

    sink = str(tmp_path / "dedup")
    state = str(tmp_path / "dedup_state.json")
    n = dedup_job(spark, sf_dir, sink, state)
    assert n > 0
    assert os.path.isdir(os.path.join(sink, "lsh_index"))
    assert spark.read.parquet(os.path.join(sink, "lsh_index")).count() > 0
    assert dedup_job(spark, sf_dir, sink, state) == 0


def test_aggregate_state_merge_equals_full_recompute(spark, sf_dir, tmp_path):
    """operators/aggstate: merging three date-sliced deltas of orders
    must land exactly on the single-shot group-by of the whole table —
    counts, decimal-exact sums, min and max."""
    from modevetl_spark.operators.aggstate import merge_aggregate_state

    state = str(tmp_path / "aggstate")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    measures = {
        "n_orders": ("count", "o_orderkey"),
        "total_spend": ("sum", "o_totalprice"),
        "first_order": ("min", "o_orderdate"),
        "last_order": ("max", "o_orderdate"),
    }
    cuts = ["1997-01-01", "1999-01-01"]
    slices = [
        o.where(F.col("o_orderdate") < cuts[0]),
        o.where(
            (F.col("o_orderdate") >= cuts[0]) & (F.col("o_orderdate") < cuts[1])
        ),
        o.where(F.col("o_orderdate") >= cuts[1]),
    ]
    for s in slices:
        merge_aggregate_state(spark, s, state, ["o_custkey"], measures)

    got = spark.read.parquet(state)
    want = o.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(28,9)"))
        .cast("decimal(28,9)")
        .alias("total_spend"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )
    assert got.count() == want.count()
    assert got.exceptAll(want.select(*got.columns)).count() == 0


def test_aggregate_state_empty_delta_noop(spark, sf_dir, tmp_path):
    from modevetl_spark.operators.aggstate import merge_aggregate_state

    state = str(tmp_path / "aggstate2")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    measures = {"n_orders": ("count", "o_orderkey")}
    assert merge_aggregate_state(
        spark, o, state, ["o_custkey"], measures
    ) > 0
    before = {(r.o_custkey, r.n_orders) for r in spark.read.parquet(state).collect()}
    assert merge_aggregate_state(
        spark, o.where(F.lit(False)), state, ["o_custkey"], measures
    ) == 0
    after = {(r.o_custkey, r.n_orders) for r in spark.read.parquet(state).collect()}
    assert before == after


def test_aggregate_state_null_keys(spark, tmp_path):
    """A NULL group key's history must survive merges — the probe join
    is null-safe (a plain on=keys semi-join would drop the stored NULL
    row and silently reset its accumulators)."""
    from modevetl_spark.operators.aggstate import merge_aggregate_state

    state = str(tmp_path / "nullstate")
    m = {"n": ("count", "v"), "total": ("sum", "v")}
    d1 = spark.createDataFrame(
        [(None, 10.0), (None, 20.0), ("a", 1.0)], "k string, v double"
    )
    d2 = spark.createDataFrame([(None, 5.0)], "k string, v double")
    merge_aggregate_state(spark, d1, state, ["k"], m)
    merge_aggregate_state(spark, d2, state, ["k"], m)
    rows = {
        (r.k, r.n, float(r.total))
        for r in spark.read.parquet(state).collect()
    }
    assert rows == {(None, 3, 35.0), ("a", 1, 1.0)}


def test_aggregate_state_tick_job_count(spark, tmp_path, jobs_launched):
    """A merge tick into an existing state reads it with the partials'
    schema, so no schema-inference job runs: 10 jobs (11 before)."""
    from modevetl_spark.operators.aggstate import merge_aggregate_state

    state = str(tmp_path / "state")
    m = {"n": ("count", "v"), "total": ("sum", "v"), "last": ("max", "v")}
    schema = "k int, v double"
    first = spark.createDataFrame([(i % 7, float(i)) for i in range(40)], schema)
    second = spark.createDataFrame([(i % 5, float(i)) for i in range(40, 60)], schema)
    merge_aggregate_state(spark, first, state, ["k"], m)
    n = []
    jobs = jobs_launched(
        lambda: n.append(merge_aggregate_state(spark, second, state, ["k"], m))
    )
    assert n == [5]
    assert jobs <= 10
    rows = {(r.k, r.n) for r in spark.read.parquet(state).collect()}
    assert rows == {(k, 10) for k in range(5)} | {(5, 5), (6, 5)}


def test_fs_scheme_without_session_raises(tmp_path):
    """A scheme'd path with no session must fail loudly — a silent
    os.path fallback would recreate the always-False cold-start bug."""
    import pytest as _pytest

    from modevetl_spark.sources.fs import fs_exists, read_json_state

    with _pytest.raises(ValueError, match="scheme"):
        fs_exists(None, "s3a://bucket/state.json")
    with _pytest.raises(ValueError, match="scheme"):
        read_json_state(None, "hdfs://nn/state.json")


def test_aggregate_state_rejects_object_store_path(spark, tmp_path):
    import pytest as _pytest

    from modevetl_spark.operators.aggstate import merge_aggregate_state

    d = spark.createDataFrame([(1, 1.0)], "k long, v double")
    with _pytest.raises(NotImplementedError):
        merge_aggregate_state(
            spark, d, "s3a://bucket/state", ["k"], {"n": ("count", "v")}
        )


def test_watermark_crash_window_recovers_from_tmp(spark, tmp_path):
    """JVM-path writer crash between delete(live) and rename(tmp->live):
    the reader recovers the fully-written tmp instead of cold-starting."""
    uri = "file:" + str(tmp_path / "state.json")
    wm = Watermark(uri, spark=spark)
    wm.write("2024-01-15 00:00:00")
    # simulate the crash window: live deleted, tmp present
    import json as _json

    (tmp_path / "state.json.tmp").write_text(
        _json.dumps({"watermark": "2024-02-01 00:00:00"})
    )
    os.remove(tmp_path / "state.json")
    assert wm.read() == "2024-02-01 00:00:00"


def test_scd2_job_incremental(spark, sf_dir, tmp_path):
    """The standing SCD-2 job as a cron tick: first run builds the
    interval store, rerun is a watermark no-op, and the store equals
    the single-shot build over the same events."""
    from modevetl_spark.operators.scd2 import scd2_build
    from modevetl_spark.plans.jobs import scd2_job

    sink = str(tmp_path / "scd2")
    state = str(tmp_path / "scd2_state.json")
    n = scd2_job(spark, sf_dir, sink, state)
    assert n > 0
    assert scd2_job(spark, sf_dir, sink, state) == 0
    got = spark.read.parquet(os.path.join(sink, "scd2_dimension"))
    want = scd2_build(
        spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"),
            "user_id", "event_type",
        )
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_scd2_equals_full_build(spark, sf_dir, tmp_path):
    """The Structured Streaming SCD-2 job (one micro-batch per arriving
    time-slice file) must land exactly on the single-shot interval
    build — the streaming twin of the job-tick equivalence gate."""
    import time

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from modevetl_spark.operators.scd2 import scd2_build
    from modevetl_spark.plans.jobs import scd2_batch
    from modevetl_spark.streaming.structured import run_foreach_batch

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
        )
    )
    cuts = ["2024-01-11", "2024-01-21"]
    slices = [
        ev.where(F.col("ts") < F.lit(cuts[0]).cast("timestamp")),
        ev.where(
            (F.col("ts") >= F.lit(cuts[0]).cast("timestamp"))
            & (F.col("ts") < F.lit(cuts[1]).cast("timestamp"))
        ),
        ev.where(F.col("ts") >= F.lit(cuts[1]).cast("timestamp")),
    ]
    arrivals = str(tmp_path / "arrivals")
    for s in slices:
        s.coalesce(1).write.mode("append").parquet(arrivals)
        time.sleep(0.05)  # distinct mtimes -> oldest-first batch order

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
    )
    sink = str(tmp_path / "scd2")
    body = partial(scd2_batch, sink_path=sink)
    run_foreach_batch(stream, str(tmp_path / "ckpt"), body)
    store = os.path.join(sink, "scd2_dimension")

    got = spark.read.parquet(store)
    want = scd2_build(ev)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _one_tick_jobs(
    spark, sf_dir, tmp_path, job, jobs_launched, table="events", key="event_id"
):
    """Spark jobs of one ``job`` tick on a growing ``table``, landed the
    way perfbench's etl_ticks lands the event log: ``<table>.parquet`` is
    a directory of part files. The first 70 % of the table (``key``
    order) is loaded untimed; the rest lands as a second part file and
    one tick runs. Returns the tick's jobs, both ticks' results and the
    two parts' row counts."""
    import pyarrow.parquet as pq

    rows = pq.read_table(f"{sf_dir}/{table}.parquet").sort_by(key)
    parts = tmp_path / "sf" / f"{table}.parquet"
    parts.mkdir(parents=True)
    cut = rows.num_rows * 7 // 10
    pq.write_table(rows.slice(0, cut), parts / "part-00000.parquet")
    args = (
        spark,
        str(tmp_path / "sf"),
        str(tmp_path / "sink"),
        str(tmp_path / "state.json"),
    )
    first = job(*args)
    pq.write_table(rows.slice(cut), parts / "part-00001.parquet")
    n = []
    jobs = jobs_launched(lambda: n.append(job(*args)))
    return jobs, [first, *n], [cut, rows.num_rows - cut]


def test_scd2_tick_job_count(spark, sf_dir, tmp_path, jobs_launched):
    """One scd2_job tick pulls its delta in one checkpointed pass that
    takes count and mark, builds the touched users' tail once and reads
    its stores without schema inference: 7 jobs (24, then 9, then 6 with
    an observation that only the merge's own action filled)."""
    from modevetl_spark.plans.jobs import scd2_job

    jobs, got, delta = _one_tick_jobs(
        spark, sf_dir, tmp_path, scd2_job, jobs_launched
    )
    assert got == delta
    assert jobs <= 7


def test_reviews_tick_job_count(spark, sf_dir, tmp_path, jobs_launched):
    """One reviews_job tick takes count and mark from its checkpointed
    delta and reads its sink without schema inference: 5 jobs (9, then
    6 with a count-and-max aggregate of its own)."""
    jobs, got, delta = _one_tick_jobs(
        spark, sf_dir, tmp_path, reviews_job, jobs_launched
    )
    assert got == delta
    assert jobs <= 5


def test_etl_tick_pair_job_count(spark, sf_dir, tmp_path, jobs_launched):
    """scd2_job plus reviews_job, the pair perfbench's etl_ticks runs
    each tick: 12 jobs together."""
    from modevetl_spark.plans.jobs import scd2_job

    def pair(spark, sf, sink, state):
        return (
            scd2_job(spark, sf, f"{sink}/scd2", f"{state}.scd2"),
            reviews_job(spark, sf, f"{sink}/reviews", f"{state}.reviews"),
        )

    jobs, got, delta = _one_tick_jobs(spark, sf_dir, tmp_path, pair, jobs_launched)
    assert got == [(n, n) for n in delta]
    assert jobs <= 12


def test_dedup_tick_job_count(spark, sf_dir, tmp_path, jobs_launched):
    """One dedup_job tick: 16 jobs (18 with a cached delta and a
    count-and-max aggregate of its own)."""
    from modevetl_spark.plans.jobs import dedup_job

    jobs, got, delta = _one_tick_jobs(
        spark, sf_dir, tmp_path, dedup_job, jobs_launched, "documents", "doc_id"
    )
    assert got == delta
    assert jobs <= 16


def test_curate_tick_job_count(spark, sf_dir, tmp_path, jobs_launched):
    """One curate_job tick: 7 jobs (12 with a cached delta, a
    count-and-max aggregate of its own, a self-join for the first
    occurrence per hash and an inferred read of the seen store). It
    returns the survivors it appended."""
    from modevetl_spark.plans.jobs import curate_job

    jobs, got, delta = _one_tick_jobs(
        spark, sf_dir, tmp_path, curate_job, jobs_launched, "documents", "doc_id"
    )
    assert all(0 < g <= d for g, d in zip(got, delta))
    assert jobs <= 7


def test_hierarchy_tick_job_count(spark, sf_dir, tmp_path, jobs_launched):
    """One hierarchy_job tick: 15 jobs (16 with a count-and-max aggregate
    of its own). Parts 0 and 1 have no parent edge."""
    from modevetl_spark.plans.jobs import hierarchy_job

    jobs, got, delta = _one_tick_jobs(
        spark, sf_dir, tmp_path, hierarchy_job, jobs_launched, "part", "p_partkey"
    )
    assert got == [delta[0] - 2, delta[1]]
    assert jobs <= 15


@pytest.mark.parametrize("name", ["hierarchy", "reviews", "dedup", "scd2", "curate"])
def test_empty_tick_job_count(spark, sf_dir, tmp_path, jobs_launched, name):
    """A tick with nothing new is its one pull job: it returns 0 and
    leaves the mark file as it was."""
    from modevetl_spark.jobs import JOBS

    state = tmp_path / "state.json"
    args = (spark, sf_dir, str(tmp_path / "sink"), str(state))
    assert JOBS[name](*args) > 0
    before = (state.read_bytes(), state.stat().st_mtime_ns)
    n = []
    assert jobs_launched(lambda: n.append(JOBS[name](*args))) <= 1
    assert n == [0]
    assert (state.read_bytes(), state.stat().st_mtime_ns) == before


def _within(seconds, fn):
    """``fn()`` on a daemon thread; fails the test if it has not returned
    within ``seconds``, and the session goes on without it."""
    import threading

    out = []

    def run():
        try:
            out.append(fn())
        except Exception as e:
            out.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"still running after {seconds} s"
    if isinstance(out[0], Exception):
        raise out[0]
    return out[0]


@pytest.mark.parametrize("name", ["reviews", "curate"])
def test_tick_on_an_all_filtered_delta(spark, sf_dir, tmp_path, name):
    """A delta the body filters away entirely (only 'view' events for
    reviews_job, only below-threshold documents for curate_job) still
    advances the mark past it and leaves the sink as it was. Count and
    mark come from the pull itself: an observation read after the
    body's own action would wait forever here, as AQE prunes the
    observed stage."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from modevetl_spark.jobs import JOBS
    from modevetl_spark.plans.jobs import curate_transform
    from modevetl_spark.sources.catalog import load

    table, key, mark_col, stores = {
        "reviews": ("events", "event_id", "ts", [""]),
        "curate": ("documents", "doc_id", "doc_id", ["curated", "seen_hashes"]),
    }[name]
    rows = pq.read_table(f"{sf_dir}/{table}.parquet").sort_by(key)
    cut = rows.num_rows * 7 // 10
    tail = rows.slice(cut)
    if name == "reviews":
        tail = tail.filter(pc.equal(tail["event_type"], "view"))
    else:
        low = curate_transform(
            spark.createDataFrame(tail.select(["doc_id", "text"]).to_pylist())
        ).where((F.col("quality") < 0.5) | (F.col("n_tokens") < 5))
        ids = pa.array([r.doc_id for r in low.select("doc_id").collect()])
        tail = tail.filter(pc.is_in(tail["doc_id"], value_set=ids))
    assert tail.num_rows > 0
    parts = tmp_path / "sf" / f"{table}.parquet"
    parts.mkdir(parents=True)
    pq.write_table(rows.slice(0, cut), parts / "part-00000.parquet")
    sink, state = tmp_path / "sink", tmp_path / "state.json"
    args = (spark, str(tmp_path / "sf"), str(sink), str(state))
    assert JOBS[name](*args) > 0

    def contents():
        return [
            sorted(map(tuple, spark.read.parquet(str(sink / s)).collect()))
            for s in stores
        ]

    before = contents()
    pq.write_table(tail, parts / "part-00001.parquet")
    n = _within(60, lambda: JOBS[name](*args))
    assert n == (tail.num_rows if name == "reviews" else 0)
    want = load(spark, str(tmp_path / "sf"), table).agg(F.max(mark_col)).first()[0]
    if name == "reviews":
        want = want.isoformat(sep=" ")
    assert Watermark(str(state)).read() == want
    assert contents() == before


@pytest.mark.parametrize("partition_by", [None, ["p"]], ids=["flat", "partitioned"])
@pytest.mark.parametrize(
    "drifted",
    ["id long, w string, p int", "id long, p int"],
    ids=["renamed", "missing"],
)
def test_upsert_column_drift_raises_sink_unchanged(
    spark, tmp_path, partition_by, drifted
):
    """An upsert whose columns differ from the sink's raises before
    anything is written: the sink is read with the incoming schema, so
    the column check is all that stands between a drifted batch and a
    sink silently rewritten with NULLs."""
    from pyspark.errors import AnalysisException

    sink = str(tmp_path / "sink")
    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "id long, v string, p int"
    )
    upsert_parquet(spark, base, sink, keys=["id"], partition_by=partition_by)

    def rows():
        got = spark.read.parquet(sink).select("id", "v", "p").collect()
        return sorted(tuple(r) for r in got)

    before = rows()
    incoming = spark.createDataFrame(
        [(1, "z", 0)] if "w" in drifted else [(1, 0)], drifted
    )
    with pytest.raises((AnalysisException, ValueError)):
        upsert_parquet(spark, incoming, sink, keys=["id"], partition_by=partition_by)
    assert rows() == before == [(1, "a", 0), (2, "b", 1)]
