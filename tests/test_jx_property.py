"""Property-based differential test (SURVEY.md §5.3): jx filter trees
evaluated by Spark must agree with a naive pure-Python evaluator over the
same documents — echoing the reference's in-memory list evaluator, used
here as a test oracle."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from modevetl_spark.plans.jx import to_boolean

FIELDS = ["a", "b", "s"]


def leaf():
    return st.one_of(
        st.builds(lambda f, v: {"eq": {f: v}}, st.sampled_from(["a", "b"]),
                  st.integers(-3, 3)),
        st.builds(lambda f, v: {"gt": {f: v}}, st.sampled_from(["a", "b"]),
                  st.integers(-3, 3)),
        st.builds(lambda f, v: {"lte": {f: v}}, st.sampled_from(["a", "b"]),
                  st.integers(-3, 3)),
        st.builds(lambda v: {"in": {"s": v}},
                  st.lists(st.sampled_from(["x", "y", "z"]), min_size=1,
                           max_size=3)),
        st.builds(lambda: {"missing": "s"}),
        st.builds(lambda: {"exists": "a"}),
        st.builds(lambda p: {"prefix": {"s": p}}, st.sampled_from(["x", "y"])),
    )


def tree(depth=2):
    if depth == 0:
        return leaf()
    sub = tree(depth - 1)
    return st.one_of(
        leaf(),
        st.builds(lambda xs: {"and": xs}, st.lists(sub, min_size=1, max_size=3)),
        st.builds(lambda xs: {"or": xs}, st.lists(sub, min_size=1, max_size=3)),
        st.builds(lambda x: {"not": x}, sub),
    )


def py_eval(e, doc) -> bool:
    """Naive evaluator with the reference's semantics: comparisons against
    missing values are False (never errors)."""
    op, arg = next(iter(e.items()))
    if op == "and":
        return all(py_eval(x, doc) for x in arg)
    if op == "or":
        return any(py_eval(x, doc) for x in arg)
    if op == "not":
        return not py_eval(arg, doc)
    if op == "eq":
        return all(doc.get(f) is not None and doc.get(f) == v for f, v in arg.items())
    if op == "gt":
        return all(doc.get(f) is not None and doc.get(f) > v for f, v in arg.items())
    if op == "lte":
        return all(doc.get(f) is not None and doc.get(f) <= v for f, v in arg.items())
    if op == "in":
        (f, vs), = arg.items()
        return doc.get(f) in vs
    if op == "missing":
        return doc.get(arg) is None
    if op == "exists":
        return doc.get(arg) is not None
    if op == "prefix":
        (f, p), = arg.items()
        return doc.get(f) is not None and doc[f].startswith(p)
    raise AssertionError(op)


DOCS = [
    {"a": a, "b": b, "s": s}
    for a in [None, -2, 0, 1, 3]
    for b in [None, -1, 2]
    for s in [None, "x", "xy", "z"]
]


@pytest.fixture(scope="module")
def docs_df(spark):
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("a", IntegerType()),
            StructField("b", IntegerType()),
            StructField("s", StringType()),
        ]
    )
    return spark.createDataFrame([tuple(d.values()) for d in DOCS], schema).cache()


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(expr=tree())
def test_filter_matches_python(docs_df, expr):
    spark_ids = sorted(
        ((r.a, r.b, r.s) for r in docs_df.where(to_boolean(expr)).collect()),
        key=repr,
    )
    py_ids = sorted(
        ((d["a"], d["b"], d["s"]) for d in DOCS if py_eval(expr, d)), key=repr
    )
    assert spark_ids == py_ids, expr


# ---------------------------------------------------------- string scalars

STR_VALUES = [None, "", "x", "xy", "xyx", "abc-def", "aa--bb--cc", "-lead", "trail-"]


def str_scalar():
    """Expressions over field 't' using the long-tail string ops."""
    subs = st.sampled_from(["x", "-", "--", "z", ""])
    return st.one_of(
        st.builds(lambda sub: {"find": ["t", {"literal": sub}]}, subs),
        st.builds(
            lambda sub, k: {"find": ["t", {"literal": sub}, k]},
            subs,
            st.integers(0, 4),
        ),
        st.builds(
            lambda p, sfx: {
                "between": {
                    "value": "t",
                    "prefix": {"literal": p} if p is not None else None,
                    "suffix": {"literal": sfx} if sfx is not None else None,
                }
            },
            st.sampled_from([None, "x", "-", "a"]),
            st.sampled_from([None, "x", "-", "c"]),
        ),
        st.builds(
            lambda n, f: {"left_pad": ["t", n, f]},
            st.integers(0, 8),
            st.sampled_from(["0", "*"]),
        ),
        st.builds(
            lambda n, f: {"right_pad": ["t", n, f]},
            st.integers(0, 8),
            st.sampled_from(["0", "*"]),
        ),
    )


def py_eval_str(e, t):
    """Python twin of the string scalar ops (missing -> None throughout)."""
    op, arg = next(iter(e.items()))
    if t is None:
        return None
    if op == "find":
        sub = arg[1]["literal"]
        start = arg[2] if len(arg) > 2 else 0
        idx = t.find(sub, start)
        return None if idx < 0 else idx
    if op == "between":
        p, sfx = arg["prefix"], arg["suffix"]
        if p is None:
            start = 0
        else:
            i = t.find(p["literal"])
            if i < 0:
                return None
            start = i + len(p["literal"])
        if sfx is None:
            return t[start:]
        j = t.find(sfx["literal"], start)
        return None if j < 0 else t[start:j]
    if op == "left_pad":
        n, f = arg[1], arg[2]
        return t[:n] if len(t) >= n else f * (n - len(t)) + t
    if op == "right_pad":
        n, f = arg[1], arg[2]
        return t[:n] if len(t) >= n else t + f * (n - len(t))
    raise AssertionError(op)


@pytest.fixture(scope="module")
def str_df(spark):
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField("t", StringType())])
    return spark.createDataFrame([(v,) for v in STR_VALUES], schema).cache()


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(expr=str_scalar())
def test_string_scalars_match_python(str_df, expr):
    from modevetl_spark.plans.jx import to_col

    got = [r.out for r in str_df.select(to_col(expr).alias("out")).collect()]
    want = [py_eval_str(expr, t) for t in STR_VALUES]
    assert got == want, (expr, got, want)


# ---- aggregate-state maintenance property (operators/aggstate.py) ----

rows_strategy = st.lists(
    st.tuples(
        st.one_of(st.none(), st.sampled_from(["k1", "k2", "k3"])),
        st.integers(-1000, 1000),
    ),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=rows_strategy, n_ticks=st.integers(1, 4), data=st.data())
def test_aggstate_any_split_equals_full(spark, tmp_path_factory, rows, n_ticks, data):
    """Any split of any row set into 1-4 ticks merges to exactly the
    single-shot group-by — counts, exact integer-valued sums, min/max —
    including NULL group keys."""
    from pyspark.sql import functions as F

    from modevetl_spark.operators.aggstate import merge_aggregate_state

    tick_of = [
        data.draw(st.integers(0, n_ticks - 1), label=f"tick_{i}")
        for i in range(len(rows))
    ]
    state = str(tmp_path_factory.mktemp("aggstate") / "state")
    df = spark.createDataFrame(
        [(k, float(v)) for k, v in rows], "k string, v double"
    )
    measures = {
        "n": ("count", "v"),
        "total": ("sum", "v"),
        "lo": ("min", "v"),
        "hi": ("max", "v"),
    }
    for t in range(n_ticks):
        idx = [i for i, tk in enumerate(tick_of) if tk == t]
        delta = spark.createDataFrame(
            [(rows[i][0], float(rows[i][1])) for i in idx] or [],
            "k string, v double",
        )
        merge_aggregate_state(spark, delta, state, ["k"], measures)
    got = {
        (r.k, r.n, float(r.total), r.lo, r.hi)
        for r in spark.read.parquet(state).collect()
    }
    want = {
        (r.k, r.n, float(r.total), r.lo, r.hi)
        for r in df.groupBy("k")
        .agg(
            F.count("v").alias("n"),
            F.sum(F.col("v").cast("decimal(28,9)"))
            .cast("decimal(28,9)")
            .alias("total"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=3),
        min_size=1,
        max_size=60,
    ),
    parts=st.integers(min_value=1, max_value=9),
)
def test_global_rank_any_data_any_width(spark, keys, parts):
    """global_rank must reproduce enumerate(sorted(...)) for arbitrary
    key multisets (duplicates included) at any partition count — the
    range-exchange + offset reconciliation can never skip or repeat a
    rank."""
    from modevetl_spark.operators.dedup import global_rank

    rows = [(i, k) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, ["id", "k"])
    got = {
        r["id"]: r["rn"]
        for r in global_rank(df, ["k", "id"], partitions=parts).collect()
    }
    want = {
        i: rank + 1
        for rank, (k, i) in enumerate(sorted((k, i) for i, k in rows))
    }
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000),
        min_size=1,
        max_size=60,
    ),
    parts=st.integers(min_value=1, max_value=9),
)
def test_global_running_any_data_any_width(spark, vals, parts):
    """global_running must reproduce itertools.accumulate over the
    sorted order for arbitrary value multisets at any partition count —
    the per-partition window + broadcast offset reconciliation can
    never drop, repeat, or misplace a prefix contribution."""
    from itertools import accumulate

    from modevetl_spark.operators.ranking import global_running

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["id", "v"])
    got = {
        r["id"]: (r["cum"], r["rn"])
        for r in global_running(
            df, ["v", "id"], {"cum": "v"}, partitions=parts, rank_col="rn"
        ).collect()
    }
    srt = sorted((v, i) for i, v in rows)
    cums = list(accumulate(v for v, _ in srt))
    want = {i: (c, rank + 1) for rank, ((v, i), c) in enumerate(zip(srt, cums))}
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    log=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),    # user
            st.integers(min_value=0, max_value=999),  # seconds offset
            st.sampled_from(["a", "b", "c"]),         # state
        ),
        min_size=1,
        max_size=40,
    )
)
def test_scd2_invariants_on_random_logs(spark, log):
    """SCD-2 interval build on arbitrary change logs: intervals tile,
    consecutive states differ, exactly one open interval per user, and
    the first interval starts at the user's first event."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    rows = [
        (eid, base + dt.timedelta(seconds=off), uid, state)
        for eid, (uid, off, state) in enumerate(log)
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"]
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    st_df = ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev"),
    )
    ch = st_df.where(F.col("prev").isNull() | (F.col("prev") != F.col("state")))
    out = ch.select(
        "user_id",
        "state",
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
        F.row_number().over(w).cast("long").alias("version"),
    ).collect()

    per_user: dict = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r)
    firsts = {}
    for eid, (uid, off, state) in enumerate(log):
        t = base + dt.timedelta(seconds=off)
        if uid not in firsts or (t, eid) < firsts[uid]:
            firsts[uid] = (t, eid)
    for uid, rows_u in per_user.items():
        rows_u.sort(key=lambda r: r["version"])
        assert [r["version"] for r in rows_u] == list(
            range(1, len(rows_u) + 1)
        )
        assert rows_u[0]["effective_from"] == firsts[uid][0]
        opens = [r for r in rows_u if r["effective_to"] is None]
        assert len(opens) == 1 and opens[0] is rows_u[-1]
        for a, b in zip(rows_u, rows_u[1:]):
            assert a["effective_to"] == b["effective_from"]
            assert a["state"] != b["state"]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    log=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),    # user
            st.integers(min_value=0, max_value=99),   # seconds offset
            st.sampled_from(["a", "b", "c"]),         # state
        ),
        min_size=1,
        max_size=30,
    ),
    n_ticks=st.integers(min_value=1, max_value=4),
    data=st.data(),
)
def test_scd2_incremental_any_time_split_equals_full(
    spark, tmp_path_factory, log, n_ticks, data
):
    """Any WATERMARK-ORDERED split of a change log into 1-4 ticks merges
    to exactly the single-shot SCD-2 build (the aggstate equivalence
    contract, for interval state). Cuts are drawn on the event-id order
    of the time-sorted log so ticks respect the append-only contract."""
    import datetime as dt

    from modevetl_spark.operators.scd2 import merge_scd2_state, scd2_build

    base = dt.datetime(2024, 1, 1)
    rows = sorted(
        (
            (base + dt.timedelta(seconds=off), eid, uid, state)
            for eid, (uid, off, state) in enumerate(log)
        )
    )
    cuts = sorted(
        data.draw(st.integers(0, len(rows)), label=f"cut_{i}")
        for i in range(n_ticks - 1)
    )
    bounds = [0, *cuts, len(rows)]
    schema = "ts timestamp, event_id long, user_id long, event_type string"
    state = str(tmp_path_factory.mktemp("scd2") / "state")
    for t in range(len(bounds) - 1):
        tick = rows[bounds[t] : bounds[t + 1]]
        merge_scd2_state(spark, spark.createDataFrame(tick or [], schema), state)
    full = scd2_build(spark.createDataFrame(rows, schema))
    got = {
        (r.user_id, r.state, r.effective_from, r.effective_to, r.version)
        for r in spark.read.parquet(state).collect()
    }
    want = {
        (r.user_id, r.state, r.effective_from, r.effective_to, r.version)
        for r in full.collect()
    }
    assert got == want


@pytest.mark.parametrize(
    "late",
    [(5, "a"), (None, "b")],
    ids=["older-same-state", "null-ts-other-state"],
)
def test_scd2_late_event_leaves_closed_rows(spark, tmp_path, late):
    """An event that sorts before the open interval (older ts, or NULL
    ts, which sorts first) breaks the append-only precondition, but the
    merge must still only rewrite the open tail: every closed interval
    stays as it was. With the seed's own state, the change filter drops
    the seed row, and its version offset must survive that."""
    import datetime as dt

    from modevetl_spark.operators.scd2 import merge_scd2_state

    def at(s):
        return None if s is None else dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)

    schema = "ts timestamp, event_id long, user_id long, event_type string"
    state = str(tmp_path / "state")
    merge_scd2_state(
        spark,
        spark.createDataFrame(
            [(at(0), 0, 1, "a"), (at(10), 1, 1, "b"), (at(20), 2, 1, "a")], schema
        ),
        state,
    )
    def rows():
        return {tuple(r) for r in spark.read.parquet(state).collect()}

    closed = {r for r in rows() if r[3] is not None}
    assert len(closed) == 2
    merge_scd2_state(
        spark,
        spark.createDataFrame([(at(late[0]), 3, 1, late[1]), (at(30), 4, 1, "b")], schema),
        state,
    )
    after = rows()
    assert closed <= after
    assert sorted(r[4] for r in after) == list(range(1, len(after) + 1))


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    weights=st.lists(
        st.integers(min_value=1, max_value=5000), min_size=5, max_size=40
    ),
    parts=st.integers(min_value=1, max_value=8),
    k=st.integers(min_value=1, max_value=10),
)
def test_sequential_poisson_priority_is_layout_invariant(
    spark, weights, parts, k
):
    """The u/w priority and the bottom-k selection are pure functions of
    (id, weight): any repartitioning yields the identical sample, and
    the priorities match an exact python replay of the integer
    arithmetic."""
    import hashlib

    from pyspark.sql import functions as F

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, ["id", "w"])
    u32 = F.conv(
        F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    sel = (
        df.repartition(parts)
        .select("id", "w", (u32 * F.lit(1000000)).alias("_n"))
        .select("id", "w", F.expr("_n div w").alias("priority"))
        .orderBy("priority", "id")
        .limit(k)
    )
    got = [(r["id"], r["priority"]) for r in sel.collect()]
    want = sorted(
        (
            (
                int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
                * 1000000
            )
            // w,
            i,
        )
        for i, w in rows
    )[:k]
    assert got == [(i, p) for p, i in want]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    series=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),   # day offset
            st.integers(min_value=-50, max_value=50), # value
        ),
        min_size=2,
        max_size=15,
        unique_by=lambda t: t[0],
    )
)
def test_gapfill_interp_linearity_on_random_series(spark, series):
    """Interpolated days must sit exactly on the line between their
    neighboring observed days — replay the windowed build on arbitrary
    integer series and check every gap against a python interpolation."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = dt.date(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(days=d), float(v)) for d, v in sorted(series)
    ]
    daily = spark.createDataFrame(rows, "user_id long, day date, v double")
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    grid = span.select("user_id", F.explode(F.sequence("lo", "hi")).alias("day"))
    g = grid.join(daily, ["user_id", "day"], "left")
    wp = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        0, Window.unboundedFollowing
    )
    od = F.when(F.col("v").isNotNull(), F.col("day"))
    f = g.select(
        "day",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(od, ignorenulls=True).over(wp).alias("pd"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(od, ignorenulls=True).over(wn).alias("nd"),
    )
    filled = {
        r["day"]: (
            r["v"]
            if r["v"] is not None
            else r["pv"]
            + (r["nv"] - r["pv"])
            * ((r["day"] - r["pd"]).days / (r["nd"] - r["pd"]).days)
        )
        for r in f.collect()
    }
    obs = {base + dt.timedelta(days=d): float(v) for d, v in sorted(series)}
    days = sorted(obs)
    for lo, hi in zip(days, days[1:]):
        for step in range(1, (hi - lo).days):
            d = lo + dt.timedelta(days=step)
            frac = step / (hi - lo).days
            want = obs[lo] + (obs[hi] - obs[lo]) * frac
            assert abs(filled[d] - want) < 1e-9, d
    for d, v in obs.items():
        assert filled[d] == v
