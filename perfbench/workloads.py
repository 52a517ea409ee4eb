"""The benchmark's workloads. Each drives the engine only through public
functions: registry queries, ``plans.jobs.scd2_job`` / ``reviews_job`` and
``spark.read.parquet`` on their sinks. Every workload is a closed loop:
one caller, one operation at a time, each waiting for its result.

A workload runs in rounds. ``warm()`` runs untimed rounds at the timed
scale factor. ``round(tracer)`` runs one timed round and returns its
ops; a query round is every key once, in an order the seed shuffles; an
ETL round is one tick (land a delta, then ``scd2_job`` + ``reviews_job``)
followed by one read over both sinks.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import time
from dataclasses import dataclass

# Key lists are short because set-up is dominated by each key's first, cold
# execution. The relational count is odd: the median op then falls among
# one key's samples, not between two keys' latencies, where it would jump
# from one to the other from run to run.
RELATIONAL_KEYS = [
    "q_flagship_revenue_cube",
    "q_tpch_local_supplier",
    "q_tpch_volume_shipping",
    "q_tpch_returned_items",
    "q_tpch_shipping_priority",
    "q_join_inner",
    "q_cube_dense",
    "q_jx_cube",
    "q_funnel_conversion",
]

OPERATOR_KEYS = [
    "q_heavy_hitters",
    "q_embedding_pca",
    "q_bpe_merges",
    "q_graph_pagerank",
]

# The one engine failure the benchmark expects: reviews_job's keyed upsert
# replaces a (day, user_id) row with the later tick's partial aggregate and
# loses the last click of an earlier tick. Its ops are counted as failed,
# with the differing row counts; any other failure makes the run incorrect.
KNOWN_DIVERGENCE = {"jobs.reviews"}


@dataclass
class Op:
    name: str
    wall_s: float
    failed: str | None = None  # why the output check failed


@dataclass
class Round:
    wall_s: float
    ops: list[Op]
    tick_s: float | None = None  # ETL only: delta landed -> both sinks committed


def _canon(v) -> str:
    """Canonical text of a value; floats at 8 dp, so a last-digit change
    from a different float summation order does not change the digest."""
    if v is None:
        return "None"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 8) + 0.0)
    if isinstance(v, (list, tuple)):
        return "(" + ",".join(_canon(x) for x in v) + ")"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    return repr(v)


def digest(columns: list[str], rows) -> dict:
    """Row count plus a digest of every column of every row, independent
    of row order."""
    lines = sorted(_canon(tuple(r)) for r in rows)
    h = hashlib.sha256(("|".join(columns) + "\n" + "\n".join(lines)).encode())
    return {"rows": len(lines), "digest": h.hexdigest()}


def run_query(spark, fn, sf_dir: str, tracer):
    """One registry query: build the DataFrame, plan it, materialize every
    column. ``collect`` rather than ``count`` so Catalyst cannot prune
    columns. Plan is its own span only when traced; untraced, ``collect``
    plans."""
    with tracer.span("queries.build"):
        df = fn(spark, sf_dir)
    if tracer.active:
        with tracer.span("queries.plan"):
            df._jdf.queryExecution().executedPlan()
    with tracer.span("queries.exec"):
        rows = df.collect()
    return df.columns, rows


class QueryWorkload:
    """A fixed list of registry keys at one scale factor. Outputs are
    checked against digests recorded in expected.json."""

    def __init__(self, spark, keys: list[str], sf_dir: str, rng, expected: dict):
        from modevetl_spark.queries import all_queries

        registry = all_queries()
        self.spark, self.sf_dir, self.rng = spark, sf_dir, rng
        self.fns = {k: registry[k] for k in keys}
        self.keys = keys
        self.expected = expected

    def warm(self, rounds: int) -> None:
        from spans import NoTrace

        for i in range(rounds):
            self.round(NoTrace(), label=f"warm{i}")

    def round(self, tracer, label: str) -> Round:
        order = list(self.keys)
        self.rng.shuffle(order)
        ops = []
        t_round = time.perf_counter()
        for key in order:
            t0 = time.perf_counter()
            with tracer.span(key, op=f"{label}/{key}"):
                columns, rows = run_query(self.spark, self.fns[key], self.sf_dir, tracer)
            wall = time.perf_counter() - t0
            out = digest(columns, rows)
            want = self.expected.get(key)
            failed = None if want == out else f"output {out} != expected {want}"
            ops.append(Op(key, wall, failed))
        return Round(time.perf_counter() - t_round, ops)

    def check(self, rounds: list[Round]) -> None:
        """Query outputs are checked as each op finishes."""

    def finish(self) -> dict:
        return {}


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
    return out


READ_SQL = """
SELECT d.state, COUNT(*) AS users,
       SUM(COALESCE(r.purchases, 0)) AS purchases,
       SUM(COALESCE(r.days, 0)) AS active_days
FROM (SELECT user_id, state FROM dim WHERE effective_to IS NULL) d
LEFT JOIN (SELECT user_id, SUM(n_purchases) AS purchases, COUNT(*) AS days
           FROM reviews GROUP BY user_id) r
  ON d.user_id = r.user_id
GROUP BY d.state
"""


class EtlWorkload:
    """Cron ticks over a growing event log: ``events.parquet`` is a
    directory of part files under a scratch sf dir. It starts with a
    seeded cut of the sf0.1 event log, in event_id order; each tick lands
    the next seeded slice, then runs scd2_job and reviews_job, then one
    fixed read over both sinks."""

    FIRST_CUT = (25_000, 30_000)  # events in the initial load
    SLICE = (4_500, 5_500)  # events per tick

    def __init__(self, spark, source: str, work_dir: str, rng):
        import pyarrow.parquet as pq

        self.spark, self.rng = spark, rng
        self.events = pq.read_table(source).sort_by("event_id")
        self.sf_dir = os.path.join(work_dir, "sf")
        self.events_dir = os.path.join(self.sf_dir, "events.parquet")
        self.scd2_sink = os.path.join(work_dir, "scd2_sink")
        self.dim_path = os.path.join(self.scd2_sink, "scd2_dimension")
        self.reviews_sink = os.path.join(work_dir, "reviews_sink")
        self.state = {j: os.path.join(work_dir, f"{j}_state.json") for j in ("jobs.scd2", "jobs.reviews")}
        os.makedirs(self.events_dir)
        self.landed = 0
        self.parts = 0
        self.diffs: dict[str, dict] = {}
        self.written = {"bytes": 0, "delta_bytes": 0}

    def _land(self, n: int) -> int:
        import pyarrow.parquet as pq

        n = min(n, self.events.num_rows - self.landed)
        if n <= 0:
            raise RuntimeError("event log exhausted; lower --seconds")
        path = os.path.join(self.events_dir, f"part-{self.parts:05d}.parquet")
        pq.write_table(self.events.slice(self.landed, n), path)
        self.landed += n
        self.parts += 1
        return os.path.getsize(path)

    def _jobs(self, tracer, label: str) -> list[Op]:
        from modevetl_spark.plans import jobs

        ops = []
        for name, job, sink in (
            ("jobs.scd2", jobs.scd2_job, self.scd2_sink),
            ("jobs.reviews", jobs.reviews_job, self.reviews_sink),
        ):
            t0 = time.perf_counter()
            with tracer.span(name, op=f"{label}/{name}"):
                job(self.spark, self.sf_dir, sink, self.state[name])
            ops.append(Op(name, time.perf_counter() - t0))
        return ops

    def _read(self, tracer, label: str) -> tuple[Op, dict]:
        t0 = time.perf_counter()
        with tracer.span("etl.read", op=f"{label}/etl.read"):
            self.spark.read.parquet(self.dim_path).createOrReplaceTempView("dim")
            self.spark.read.parquet(self.reviews_sink).createOrReplaceTempView("reviews")
            df = self.spark.sql(READ_SQL)
            rows = df.collect()
        return Op("etl.read", time.perf_counter() - t0), digest(df.columns, rows)

    def _duck_read(self) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW dim AS SELECT * FROM read_parquet('{self.dim_path}/*.parquet')")
            con.execute(f"CREATE VIEW reviews AS SELECT * FROM read_parquet('{self.reviews_sink}/*.parquet')")
            cur = con.execute(READ_SQL)
            columns = [d[0] for d in cur.description]
            rows = [tuple(int(v) if isinstance(v, (int, decimal.Decimal)) else v for v in r) for r in cur.fetchall()]
        finally:
            con.close()
        return digest(columns, rows)

    def warm(self, rounds: int) -> None:
        from spans import NoTrace

        self._land(self.rng.randint(*self.FIRST_CUT))
        self._jobs(NoTrace(), "load")
        for i in range(rounds):
            self.round(NoTrace(), label=f"warm{i}")

    def round(self, tracer, label: str) -> Round:
        before = _files(self.scd2_sink) | _files(self.reviews_sink) if tracer.active else {}
        delta_bytes = self._land(self.rng.randint(*self.SLICE))
        t0 = time.perf_counter()
        ops = self._jobs(tracer, label)
        tick = time.perf_counter() - t0
        read, got = self._read(tracer, label)
        wall = time.perf_counter() - t0
        want = self._duck_read()
        if got != want:
            read.failed = f"read {got} != duckdb over the same sink files {want}"
        ops.append(read)
        if tracer.active:
            after = _files(self.scd2_sink) | _files(self.reviews_sink)
            self.written["bytes"] += sum(s for p, s in after.items() if p not in before)
            self.written["delta_bytes"] += delta_bytes
        return Round(wall, ops, tick_s=tick)

    def check(self, rounds: list[Round]) -> None:
        """After the pass, compare both sinks with the batch transforms over
        every event landed. A sink is the joint product of all its job's
        runs, so a differing sink fails every timed run of that job."""
        self.diffs = self.sink_diffs()
        for op in (op for r in rounds for op in r.ops):
            diff = self.diffs.get(op.name)
            if diff and diff["differ"]:
                op.failed = f"sink differs from the batch result: {json.dumps(diff)}"

    def sink_diffs(self) -> dict[str, dict]:
        from pyspark.sql import functions as F

        from modevetl_spark.operators.scd2 import scd2_build
        from modevetl_spark.plans.jobs import reviews_transform
        from modevetl_spark.sources.catalog import load

        events = load(self.spark, self.sf_dir, "events")
        got = self.spark.read.parquet(self.dim_path)
        want = scd2_build(events.select("event_id", "ts", "user_id", "event_type")).select(*got.columns)
        extra, missing = got.exceptAll(want).count(), want.exceptAll(got).count()
        scd2 = {"rows": got.count(), "extra": extra, "missing": missing, "differ": extra + missing}

        g = self.spark.read.parquet(self.reviews_sink).alias("g")
        w = reviews_transform(events).alias("w")
        j = w.join(g, (F.col("w.day") == F.col("g.day")) & (F.col("w.user_id") == F.col("g.user_id")), "full_outer")
        both = F.col("w.day").isNotNull() & F.col("g.day").isNotNull()
        purchases_wrong = both & (F.col("w.n_purchases") != F.col("g.n_purchases"))
        latency_wrong = both & ~F.col("w.avg_latency_s").eqNullSafe(F.col("g.avg_latency_s"))

        def n(cond):
            return F.sum(F.when(cond, 1).otherwise(0))

        reviews = j.agg(
            n(F.col("w.day").isNotNull()).alias("rows"),
            n(F.col("g.day").isNull()).alias("missing"),
            n(F.col("w.day").isNull()).alias("extra"),
            n(purchases_wrong).alias("n_purchases_wrong"),
            n(latency_wrong).alias("avg_latency_wrong"),
            n(F.col("g.day").isNull() | F.col("w.day").isNull() | purchases_wrong | latency_wrong).alias("differ"),
        ).collect()[0].asDict()
        return {"jobs.scd2": scd2, "jobs.reviews": reviews}

    def finish(self) -> dict:
        files = _files(self.scd2_sink) | _files(self.reviews_sink)
        return {
            "sink.files": len(files),
            "sink.bytes": sum(files.values()),
            "sink.bytes_written": self.written["bytes"],
            "sink.write_amplification": (
                self.written["bytes"] / self.written["delta_bytes"] if self.written["delta_bytes"] else 0
            ),
            "events_landed": self.landed,
            "sink_diffs": self.diffs,
        }
