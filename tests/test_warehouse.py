"""Semantic gates for the round-5 warehouse operators: SCD-2 interval
invariants, weighted-sampling bias, Q4 semi-join equivalence, path
shape. Oracle hashes prove value parity; these prove the *contracts*."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

from modevetl_spark.queries import all_queries

_Q = all_queries()


def test_scd2_intervals_tile_and_alternate(spark, sf_dir):
    out = _Q["q_scd2_dimension"](spark, sf_dir).cache()
    try:
        # exactly one open (current) interval per user
        open_rows = (
            out.where(F.col("effective_to").isNull())
            .groupBy("user_id")
            .count()
        )
        assert open_rows.where(F.col("count") != 1).count() == 0
        # intervals tile: next version's effective_from == this effective_to
        a = out.alias("a")
        b = out.alias("b")
        seams = a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.version") == F.col("a.version") + 1),
        )
        assert (
            seams.where(
                F.col("a.effective_to") != F.col("b.effective_from")
            ).count()
            == 0
        )
        # consecutive versions always change state (that's what SCD-2 rows are)
        assert seams.where(F.col("a.state") == F.col("b.state")).count() == 0
    finally:
        out.unpersist()


def test_scd2_replay_idempotent(spark, sf_dir):
    """Running the build twice over the same log yields identical rows —
    the reference's replay contract (upsert wins, same result)."""
    a = _Q["q_scd2_dimension"](spark, sf_dir)
    b = _Q["q_scd2_dimension"](spark, sf_dir)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_weighted_sample_prefers_heavy_docs(spark, sf_dir):
    """Sequential Poisson sampling must overrepresent heavy docs: the
    kept set's mean weight exceeds the corpus mean weight."""
    from modevetl_spark.sources.catalog import load

    kept = _Q["q_sample_weighted"](spark, sf_dir)
    corpus_mean = (
        load(spark, sf_dir, "documents").agg(F.avg("n_chars")).first()[0]
    )
    kept_mean = kept.agg(F.avg("n_chars")).first()[0]
    assert kept_mean > corpus_mean


def test_order_priority_equals_semi_join_form(spark, sf_dir):
    """The broadcast inner+distinct rewrite must equal the literal
    left-semi formulation (the plan differs; the relation must not)."""
    from modevetl_spark.sources.catalog import load

    got = _Q["q_tpch_order_priority"](spark, sf_dir)
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    semi = (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )
    assert got.exceptAll(semi).count() == 0 and semi.exceptAll(got).count() == 0


def test_session_paths_shape(spark, sf_dir):
    out = _Q["q_session_paths"](spark, sf_dir)
    rows = out.collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        steps = r["path"].split(">")
        assert 1 <= len(steps) <= 5
        assert all(
            s in {"error", "view", "click", "signup", "purchase"}
            for s in steps
        )
    # ranking is by count desc
    counts = [r["n_user_days"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_mad_bounded_by_range(spark, sf_dir):
    """MAD <= half the value range, and >= 0; median within min/max."""
    from modevetl_spark.sources.catalog import load

    li = load(spark, sf_dir, "lineitem")
    rng = li.agg(
        F.min("l_quantity").alias("lo"), F.max("l_quantity").alias("hi")
    ).first()
    for r in _Q["q_agg_mad"](spark, sf_dir).collect():
        assert rng["lo"] <= r["median_qty"] <= rng["hi"]
        assert 0 <= r["mad_qty"] <= (rng["hi"] - rng["lo"]) / 2


def test_chi2_total_matches_cell_sum(spark, sf_dir):
    """chi2_total equals the decimal sum of the (9dp-rounded) per-cell
    contributions, and expected counts preserve the grand total."""
    rows = _Q["q_stats_chi2"](spark, sf_dir).collect()
    from decimal import Decimal

    total = sum(Decimal(str(round(r["contribution"], 9))) for r in rows)
    assert abs(float(total) - rows[0]["chi2_total"]) < 1e-5
    assert abs(sum(r["expected"] for r in rows) - sum(r["observed"] for r in rows)) < 1e-3


def test_gapfill_interp_bounds_and_coverage(spark, sf_dir):
    """Interpolated values lie within the neighboring observed values'
    range per user (linearity), and observed days pass through
    unchanged; the grid has no holes."""
    out = _Q["q_gapfill_interp"](spark, sf_dir).cache()
    try:
        assert out.where(F.col("value_filled").isNull()).count() == 0
        # every user's day count equals the span length
        per_user = out.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.datediff(F.max("day"), F.min("day")).alias("span"),
        )
        assert per_user.where(F.col("n") != F.col("span") + 1).count() == 0
        assert out.where(~F.col("observed")).count() > 0  # gaps exercised
    finally:
        out.unpersist()


def test_bm25_favors_rare_terms(spark, sf_dir):
    """A term appearing in fewer documents must carry a higher idf: for
    any doc, its top BM25 term never has a higher docfreq AND a lower tf
    than the runner-up (sanity on the monotonicity of the formula)."""
    out = _Q["q_text_bm25"](spark, sf_dir)
    assert out.groupBy("doc_id").count().where(F.col("count") > 3).count() == 0
    assert out.where(F.col("bm25") <= 0).count() == 0


def test_rrf_agrees_with_both_rankers_on_top1(spark, sf_dir):
    """When cosine and L2 agree on the nearest neighbor (common for
    normalized-ish vectors), RRF must rank it first too — check that at
    least half the queries' RRF top-1 equals the cosine top-1."""
    from modevetl_spark.operators.similarity import brute_force_topk
    from modevetl_spark.sources.catalog import load

    e = load(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 20)
    cos_top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(e, qs, k=1).collect()
    }
    rrf = _Q["q_sim_rrf_fusion"](spark, sf_dir)
    w_rows = rrf.collect()
    top1 = {}
    for r in w_rows:
        top1.setdefault(r["query_id"], (r["rrf"], r["neighbor_id"]))
        if (r["rrf"], -r["neighbor_id"]) > (
            top1[r["query_id"]][0],
            -top1[r["query_id"]][1],
        ):
            top1[r["query_id"]] = (r["rrf"], r["neighbor_id"])
    agree = sum(
        1 for qid, nid in cos_top1.items() if top1.get(qid, (0, None))[1] == nid
    )
    assert agree >= len(cos_top1) / 2


def test_global_rank_equals_single_partition_window(spark, sf_dir):
    """The range-partitioned rank must equal the (non-scalable) global
    window row_number on the same total order, for any partition count."""
    from pyspark.sql import Window
    from modevetl_spark.operators.dedup import global_rank
    from modevetl_spark.sources.catalog import load

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.substring(F.lower("text"), 1, 32).alias("k")
    )
    w = Window.orderBy("k", "doc_id")
    want = {
        r["doc_id"]: r["rn"]
        for r in d.select(
            "doc_id", F.row_number().over(w).cast("bigint").alias("rn")
        ).collect()
    }
    for parts in (2, 7):
        got = {
            r["doc_id"]: r["rn"]
            for r in global_rank(d, ["k", "doc_id"], partitions=parts).collect()
        }
        assert got == want, parts


def test_global_rank_plan_is_range_partitioned(spark, sf_dir):
    """The only Window rides the |partitions|-row stats relation with a
    constant (non-foldable `_pid - _pid`) partition key — bounded by
    partition COUNT, non-empty partitionSpec, so the bench log stays
    clear of `WindowExec: No Partition Defined` noise. The round-7 A/B
    (BASELINE.md) retired the round-6 theta-join offsets: both it and a
    driver-side fold cost extra jobs AND perturbed downstream join-size
    estimates."""
    from modevetl_spark.operators.dedup import global_rank
    from modevetl_spark.sources.catalog import load
    from tests.test_plans import plan

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.substring(F.lower("text"), 1, 32).alias("k")
    )
    # The range exchange itself materializes inside global_rank's
    # localCheckpoint (the AQE layout-race fix) and is not visible in
    # the returned plan — its determinism is pinned by
    # test_systematic_sample_stable_and_evenly_spaced instead. What the
    # plan must show: exactly ONE Window (the stats window), no
    # single-partition exchange, offsets attached via broadcast, and
    # every hash exchange keyed by the constant stats key — never a
    # data column.
    p = plan(global_rank(d, ["k", "doc_id"], partitions=8))
    assert p.count("- Window (") == 1, p
    assert "SinglePartition" not in p, p
    assert "BroadcastExchange" in p
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)", p):
        assert "- _pid" in m.group(1), p


def test_global_running_matches_global_window_cumsum(spark, sf_dir):
    """global_running must reproduce SUM() OVER (ORDER BY ... ROWS
    UNBOUNDED PRECEDING) for long AND decimal columns (decimal
    exactness is the cross-engine discipline), at several partition
    counts, with the optional rank riding along."""
    from pyspark.sql import Window
    from modevetl_spark.operators.ranking import global_running
    from modevetl_spark.sources.catalog import load

    d = (
        load(spark, sf_dir, "orders")
        .limit(500)
        .select(
            "o_orderkey",
            F.col("o_totalprice").cast("decimal(18,2)").alias("dec"),
            (F.col("o_custkey") % 97).alias("lng"),
        )
    )
    wc = Window.orderBy("o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r["o_orderkey"]: (str(r["cd"]), r["cl"], r["rn"])
        for r in d.select(
            "o_orderkey",
            F.sum("dec").over(wc).alias("cd"),
            F.sum("lng").over(wc).alias("cl"),
            F.row_number().over(Window.orderBy("o_orderkey"))
            .cast("bigint")
            .alias("rn"),
        ).collect()
    }
    for parts in (3, 8):
        got = {
            r["o_orderkey"]: (str(r["cd"]), r["cl"], r["rn"])
            for r in global_running(
                d,
                ["o_orderkey"],
                {"cd": "dec", "cl": "lng"},
                partitions=parts,
                rank_col="rn",
            ).collect()
        }
        assert got == want, parts


def test_global_running_plan_no_global_window(spark, sf_dir):
    """Two Window nodes, neither single-partition: the data-sized
    running sum partitions by the range-partition id, and the stats
    offsets window partitions by its constant bounded key."""
    from modevetl_spark.operators.ranking import global_running
    from modevetl_spark.sources.catalog import load
    from tests.test_plans import plan

    d = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = plan(global_running(d, ["o_orderkey"], {"c": "o_custkey"}, partitions=8))
    assert p.count("- Window (") == 2, p
    assert "SinglePartition" not in p, p


def test_ntile_from_rank_matches_sql_ntile(spark):
    """The closed form must agree with Spark's NTILE for every remainder
    shape: n below / equal / above k, exact multiples, and k = 1."""
    from pyspark.sql import Window
    from modevetl_spark.operators.ranking import ntile_from_rank

    for n in (1, 3, 9, 10, 11, 47, 100):
        for k in (1, 2, 5, 10, 13):
            base = spark.range(1, n + 1).select(F.col("id").alias("rn"))
            want = [
                r["t"]
                for r in base.select(
                    F.ntile(k)
                    .over(Window.orderBy("rn"))
                    .cast("bigint")
                    .alias("t")
                ).collect()
            ]
            got = [
                r["t"]
                for r in base.select(
                    ntile_from_rank("rn", F.lit(n).cast("bigint"), k).alias("t")
                )
                .orderBy("rn")
                .collect()
            ]
            assert got == want, (n, k)


def test_snm_finds_planted_near_dups(spark, sf_dir):
    """SNM must recover prefix-identical near-duplicates: every emitted
    pair really has Jaccard >= 0.3, and the blocking finds at least one
    of the corpus's exact-duplicate pairs (identical text sorts
    adjacent by construction)."""
    out = _Q["q_dedup_snm"](spark, sf_dir).cache()
    try:
        assert out.count() > 0
        assert out.where(F.col("jaccard") < 0.3).count() == 0
        assert out.where(F.col("id_a") >= F.col("id_b")).count() == 0
        assert out.where(F.col("jaccard") >= 0.999999).count() > 0
    finally:
        out.unpersist()


def test_validate_rules_finds_fixture_issues(spark, sf_dir):
    """The validator must surface the fixture's real defects: bad
    custkeys exist, the 300k cap fires, and rates stay in [0,1]."""
    rows = {r["rule"]: r for r in _Q["q_validate_rules"](spark, sf_dir).collect()}
    assert rows["custkey_positive"]["n_violations"] > 0
    assert rows["totalprice_le_300k"]["n_violations"] > 0
    for r in rows.values():
        assert 0.0 <= r["violation_rate"] <= 1.0


def test_rolling_wau_bounds(spark, sf_dir):
    """WAU(d) is at least DAU(d) and at most total users; the trailing
    window only ever adds users."""
    from modevetl_spark.sources.catalog import load

    ev = load(spark, sf_dir, "events")
    dau = {
        r["day"]: r["n"]
        for r in ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    n_users = ev.select("user_id").distinct().count()
    for r in _Q["q_rolling_active_users"](spark, sf_dir).collect():
        d = r["day"].date()
        assert dau[d] <= r["wau_7d"] <= n_users


def test_time_to_convert_quantiles_ordered(spark, sf_dir):
    r = _Q["q_time_to_convert"](spark, sf_dir).first()
    assert r["n_converted"] > 0
    assert 0 <= r["p25_sec"] <= r["p50_sec"] <= r["p90_sec"]


def test_chi2_matches_independence_test_definition(spark, sf_dir):
    """Round-9 differential (the mandatory discipline, back-filled):
    replay Pearson's chi-square independence test from the raw
    contingency counts in pure python — expected = row·col/n, per-cell
    (o−e)²/e, total = sum — so a formula-level deviation the
    oracle-mirror cannot see is caught. Only the counts come from
    duckdb (integers, engine-insensitive); all math is python."""
    import duckdb
    from decimal import Decimal

    cells = duckdb.connect().execute(
        "SELECT event_type, CAST(EXTRACT(dow FROM ts) AS BIGINT),"
        " COUNT(*) FROM"
        f" read_parquet('{sf_dir}/events.parquet') GROUP BY 1, 2"
    ).fetchall()
    obs = {(t, d): c for t, d, c in cells}
    row = {}
    col = {}
    for (t, d), c in obs.items():
        row[t] = row.get(t, 0) + c
        col[d] = col.get(d, 0) + c
    n = sum(obs.values())
    exp = {k: row[k[0]] * col[k[1]] / n for k in obs}
    contrib = {k: (obs[k] - exp[k]) ** 2 / exp[k] for k in obs}
    total = float(sum(Decimal(str(round(c, 9))) for c in contrib.values()))
    got = _Q["q_stats_chi2"](spark, sf_dir).collect()
    assert len(got) == len(obs)
    for r in got:
        k = (r["event_type"], r["dow"])
        assert r["observed"] == obs[k]
        assert abs(r["expected"] - exp[k]) <= 5e-7, (k, r["expected"], exp[k])
        assert abs(r["contribution"] - contrib[k]) <= 5e-7
        assert abs(r["chi2_total"] - total) <= 5e-6


def test_ab_test_matches_pooled_z_definition(spark, sf_dir):
    """Round-9 differential (the mandatory discipline, back-filled):
    replay the whole experiment in pure python — hashlib md5 bucket
    assignment, the conversion predicate, and the two-proportion
    POOLED z formula z = (p̂_a − p̂_b)/√(p̂(1−p̂)(1/n_a + 1/n_b)) —
    so a deviation from the published test (e.g. unpooled variance)
    is caught independently of the oracle mirror."""
    import duckdb
    import hashlib
    import math

    con = duckdb.connect()
    users = [
        u
        for (u,) in con.execute(
            "SELECT DISTINCT user_id FROM"
            f" read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    ]
    converters = {
        u
        for (u,) in con.execute(
            "SELECT DISTINCT user_id FROM"
            f" read_parquet('{sf_dir}/events.parquet')"
            " WHERE event_type = 'purchase' AND value > 200"
        ).fetchall()
    }
    in_a = lambda u: hashlib.md5(str(u).encode()).hexdigest()[:4] < "8000"
    n_a = sum(1 for u in users if in_a(u))
    n_b = len(users) - n_a
    conv_a = sum(1 for u in converters if in_a(u))
    conv_b = len(converters) - conv_a
    p = (conv_a + conv_b) / (n_a + n_b)
    z = (conv_a / n_a - conv_b / n_b) / math.sqrt(
        p * (1 - p) * (1 / n_a + 1 / n_b)
    )
    got = _Q["q_stats_ab_test"](spark, sf_dir).first()
    assert (got["n_a"], got["conv_a"], got["n_b"], got["conv_b"]) == (
        n_a,
        conv_a,
        n_b,
        conv_b,
    )
    assert abs(got["z_score"] - z) <= 5e-7, (got["z_score"], z)


def test_ab_test_consistency(spark, sf_dir):
    from modevetl_spark.sources.catalog import load

    r = _Q["q_stats_ab_test"](spark, sf_dir).first()
    ev = load(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    assert r["n_a"] + r["n_b"] == n_users
    assert 0 <= r["conv_a"] <= r["n_a"] and 0 <= r["conv_b"] <= r["n_b"]
    if r["z_score"] is not None:
        # z sign must agree with the rate difference
        assert (r["z_score"] > 0) == (r["rate_a"] > r["rate_b"]) or r[
            "z_score"
        ] == 0


def test_ab_assignment_is_partition_invariant(spark, sf_dir):
    """The md5 split must not change under repartitioning — re-run the
    query with a different session shuffle width and compare counts."""
    a = _Q["q_stats_ab_test"](spark, sf_dir).first()
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        b = _Q["q_stats_ab_test"](spark, sf_dir).first()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert (a["n_a"], a["conv_a"], a["n_b"], a["conv_b"]) == (
        b["n_a"],
        b["conv_a"],
        b["n_b"],
        b["conv_b"],
    )


def test_frame_sampling_fanout_shape(spark, sf_dir):
    """Frame sampler: every doc emits ceil(nf/2) frames with even
    indices below its frame count; thumbs stay in the 64-box with
    aspect order preserved."""
    from modevetl_spark.sources.catalog import load

    out = _Q["q_multimodal_frames"](spark, sf_dir).cache()
    try:
        n_docs = load(spark, sf_dir, "documents").count()
        per_doc = out.groupBy("doc_id").count()
        assert per_doc.count() == n_docs  # every doc has >=1 frame (idx 0)
        assert out.where(F.col("frame_idx") % 2 != 0).count() == 0
        assert (
            out.where(
                (F.col("thumb_w") > 64)
                | (F.col("thumb_h") > 64)
                | (F.col("thumb_w") < 1)
                | (F.col("thumb_h") < 1)
            ).count()
            == 0
        )
        assert out.where(
            (F.col("thumb_w") != 64) & (F.col("thumb_h") != 64)
        ).count() == 0  # one side always hits the box
    finally:
        out.unpersist()


def test_triangles_closed_form(spark, sf_dir):
    """The circulant graph (k->k+1, k->k+2 over N contiguous partkeys)
    closes one triangle per consecutive triple (k, k+1, k+2) whose
    middle edge exists, i.e. N-1 triangles on N contiguous parts."""
    from modevetl_spark.sources.catalog import load

    n_parts = load(spark, sf_dir, "part").count()
    r = _Q["q_graph_triangles"](spark, sf_dir).first()
    assert r["n_triangles"] == n_parts - 1
    assert r["n_wedges"] > 0
    assert 0 < r["global_clustering"] <= 1


def test_vocab_encode_roundtrip(spark, sf_dir):
    """Encoded streams: id count equals token count, ids are in
    [-1, 49], and the most frequent corpus token encodes as id 0."""
    from modevetl_spark.operators.text import build_vocab
    from modevetl_spark.sources.catalog import load

    d = load(spark, sf_dir, "documents")
    out = _Q["q_vocab_encode"](spark, sf_dir).collect()
    for r in out:
        ids = [int(x) for x in r["token_ids_csv"].split(",")]
        assert len(ids) == r["n_tokens"]
        assert all(-1 <= i <= 49 for i in ids)
    top = build_vocab(d, "text", max_size=1).first()
    assert top["token_id"] == 0 and top["freq"] > 0


def test_split_assign_partition_and_disjointness(spark, sf_dir):
    """Split counts cover every doc exactly once and track 80/10/10
    within binomial noise."""
    from modevetl_spark.sources.catalog import load

    rows = {r["split"]: r["n_docs"] for r in _Q["q_split_assign"](spark, sf_dir).collect()}
    n = load(spark, sf_dir, "documents").count()
    assert sum(rows.values()) == n
    assert abs(rows["train"] / n - 0.8) < 0.1
    assert abs(rows["val"] / n - 0.1) < 0.07
    assert abs(rows["test"] / n - 0.1) < 0.07


def test_full_outer_reconciliation_invariants(spark, sf_dir):
    """Customer-side rows cover every customer exactly once; order
    counts reconcile with the orders table; no_orders rows carry 0."""
    out = _Q["q_join_full_outer"](spark, sf_dir).cache()
    try:
        from modevetl_spark.sources.catalog import load

        n_cust = load(spark, sf_dir, "customer").count()
        n_orders = load(spark, sf_dir, "orders").count()
        sides = {
            r["side"]: r["n"]
            for r in out.groupBy("side").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert sides.get("matched", 0) + sides.get("no_orders", 0) == n_cust
        assert out.agg(F.sum("n_orders")).first()[0] == n_orders
        assert out.where((F.col("side") == "no_orders") & (F.col("n_orders") != 0)).count() == 0
    finally:
        out.unpersist()


def test_full_outer_shape_on_orphan_frames(spark):
    """The orphan path itself, on synthetic frames: an order key with no
    customer and a customer with no orders must both surface."""
    c = spark.createDataFrame([(1, "a"), (2, "b")], ["c_custkey", "c_name"])
    oc = spark.createDataFrame([(2, 5), (9, 1)], ["o_custkey", "n"])
    j = c.join(oc, c.c_custkey == oc.o_custkey, "full").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.coalesce("n", F.lit(0)).alias("n_orders"),
        F.when(F.col("c_custkey").isNull(), "orphan_order")
        .when(F.col("o_custkey").isNull(), "no_orders")
        .otherwise("matched")
        .alias("side"),
    )
    got = {(r["custkey"], r["n_orders"], r["side"]) for r in j.collect()}
    assert got == {(1, 0, "no_orders"), (2, 5, "matched"), (9, 1, "orphan_order")}


def test_bag_set_ops_multiplicity(spark, sf_dir):
    """EXCEPT ALL keeps max(0, m_left - m_right) copies per key;
    INTERSECT ALL keeps min(m_left, m_right) — check against counted
    aggregation."""
    from modevetl_spark.sources.catalog import load

    o = load(spark, sf_dir, "orders")
    lm = {
        r["o_custkey"]: r["n"]
        for r in o.where(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rm = {
        r["o_custkey"]: r["n"]
        for r in o.where(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    exp_except = sum(max(0, n - rm.get(k, 0)) for k, n in lm.items())
    exp_inter = sum(min(n, rm.get(k, 0)) for k, n in lm.items())
    assert _Q["q_except_all"](spark, sf_dir).count() == exp_except
    assert _Q["q_intersect_all"](spark, sf_dir).count() == exp_inter


def test_anomaly_days_z_threshold(spark, sf_dir):
    out = _Q["q_anomaly_days"](spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert abs(r["z"]) > 2.0
        assert (r["revenue"] > r["trail_mean"]) == (r["z"] > 0)


def test_copurchase_pairs_canonical_and_supported(spark, sf_dir):
    """Pairs are canonical (a < b), counts positive and descending, and
    the top pair's support is confirmed by a direct self-join count."""
    from modevetl_spark.sources.catalog import load

    rows = _Q["q_copurchase_pairs"](spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r["part_a"] < r["part_b"] for r in rows)
    counts = [r["n_orders"] for r in rows]
    assert counts == sorted(counts, reverse=True) and counts[-1] >= 1
    top = rows[0]
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.where(F.col("l_partkey") == top["part_a"]).select("l_orderkey")
    b = li.where(F.col("l_partkey") == top["part_b"]).select("l_orderkey")
    assert a.intersect(b).count() == top["n_orders"]


def test_ranking_operators_degenerate_inputs(spark):
    """Empty and single-row inputs survive the full range-exchange +
    offset machinery (an empty offset table must join to an empty
    result, not error)."""
    from modevetl_spark.operators.ranking import global_rank, global_running

    empty = spark.createDataFrame([], "id long, v long")
    assert global_rank(empty, ["v", "id"]).collect() == []
    assert global_running(empty, ["v", "id"], {"c": "v"}).collect() == []
    one = spark.createDataFrame([(1, 5)], "id long, v long")
    [r] = global_rank(one, ["v", "id"]).collect()
    assert (r["id"], r["rn"]) == (1, 1)
    [r] = global_running(one, ["v", "id"], {"c": "v"}, rank_col="rn").collect()
    assert (r["c"], r["rn"]) == (5, 1)


def test_global_running_output_name_shadows_source(spark):
    """An output name that equals a source column consumed by ANOTHER
    entry must not shadow it: {"cnt": "cnt", "total": "cnt"} reads the
    pre-cumulation cnt for BOTH sums (the advisor's round-6 trap — the
    old per-name withColumn loop made the second sum window over the
    already-cumulated column)."""
    from modevetl_spark.operators.ranking import global_running

    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id long, cnt long")
    rows = {
        r["id"]: (r["cnt"], r["total"])
        for r in global_running(
            df, ["id"], {"cnt": "cnt", "total": "cnt"}, partitions=2
        ).collect()
    }
    # Both entries cumulate the ORIGINAL cnt: 10, 30, 60.
    assert rows == {1: (10, 10), 2: (30, 30), 3: (60, 60)}


class TestReservoirDeterminism:
    def _sample(self, spark, parts):
        df = spark.range(5000).repartition(parts)
        priority = F.conv(
            F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        return [
            r["id"]
            for r in df.select("id", priority.alias("p"))
            .orderBy("p", "id")
            .limit(100)
            .collect()
        ]

    def test_exact_k_and_layout_invariant(self, spark):
        one = self._sample(spark, 1)
        many = self._sample(spark, 13)
        assert len(one) == 100
        assert one == many

    def test_plan_is_take_ordered(self, spark):
        df = spark.range(5000)
        priority = F.conv(
            F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        q = df.select("id", priority.alias("p")).orderBy("p", "id").limit(100)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, plan


class TestLinkageWeights:
    def test_fixture_scoring_contract(self, spark, sf_dir):
        """Scores are a pure function of the agreement pattern (all
        rows with the same flags share one score), non-negative, and
        monotone in agreements; ordering is deterministic."""
        from modevetl_spark.queries.warehouse import _LINK_K, linkage_weights

        rows = linkage_weights(spark, sf_dir).collect()
        assert len(rows) == _LINK_K
        by_pattern: dict = {}
        for r in rows:
            pat = (r["same_seg"], r["same_band"], r["same_cents"])
            by_pattern.setdefault(pat, set()).add(r["score_microbits"])
            assert r["cust_a"] < r["cust_b"]
            assert r["score_microbits"] >= 0
        for scores in by_pattern.values():
            assert len(scores) == 1
        # monotone: adding an agreement never lowers the score
        for pat, scores in by_pattern.items():
            for pat2, scores2 in by_pattern.items():
                if all(a >= b for a, b in zip(pat, pat2)):
                    assert next(iter(scores)) >= next(iter(scores2))
        keys = [
            (-r["score_microbits"], r["cust_a"], r["cust_b"]) for r in rows
        ]
        assert keys == sorted(keys)

    def test_hand_built_exact_weights(self, spark, tmp_path):
        """Six customers in one nation block, distributions chosen so
        the u-weights are hand-computable: w_seg = log2(36/18) = 1 bit
        exactly, w_band = log2(3) -> 1584962 microbits, w_cents =
        log2(4.5) -> 2169925 microbits. All 15 pair scores asserted."""
        from modevetl_spark.queries.warehouse import linkage_weights

        pd.DataFrame(
            {
                "c_custkey": [1, 2, 3, 4, 5, 6],
                "c_nationkey": [7] * 6,
                "c_mktsegment": ["A", "A", "B", "B", "A", "B"],
                "c_acctbal": [1.00, 2.00, 101.00, 102.00, 500.00, 500.00],
            }
        ).astype({"c_nationkey": "int32"}).to_parquet(str(tmp_path / "customer.parquet"))
        got = {
            (r["cust_a"], r["cust_b"]): r["score_microbits"]
            for r in linkage_weights(spark, str(tmp_path)).collect()
        }
        w_seg, w_band, w_cents = 1_000_000, 1_584_962, 2_169_925
        want = {}
        segs = {1: "A", 2: "A", 3: "B", 4: "B", 5: "A", 6: "B"}
        bands = {1: 10, 2: 10, 3: 11, 4: 11, 5: 15, 6: 15}
        cents = {1: 100100, 2: 100200, 3: 110100, 4: 110200,
                 5: 150000, 6: 150000}
        for a_ in range(1, 7):
            for b_ in range(a_ + 1, 7):
                want[(a_, b_)] = (
                    (segs[a_] == segs[b_]) * w_seg
                    + (bands[a_] == bands[b_]) * w_band
                    + (cents[a_] == cents[b_]) * w_cents
                )
        assert got == want
        # the exact-cents collision out-scores every same-seg+band pair
        assert want[(5, 6)] == w_band + w_cents == max(want.values())

    def test_plan_blocked_join_no_cartesian(self, spark, sf_dir):
        from modevetl_spark.queries.warehouse import linkage_weights
        from tests.test_plans import plan

        p = plan(linkage_weights(spark, sf_dir))
        assert "Python" not in p
        # the pair stage must key on the block (hash join on the
        # nation key) — never an unkeyed cartesian. The only
        # nested-loop joins allowed are the three ONE-ROW weight
        # scalars riding broadcast cross joins (the mixture_weights
        # shape), so every BNLJ in the plan must be a Cross build.
        assert "CartesianProduct" not in p
        assert "BroadcastHashJoin" in p
        # exactly ONE nested-loop join: the one-row weight scalar
        assert p.count("BroadcastNestedLoopJoin (") <= 1
        assert "Expand" in p  # all three histograms from one pass
        assert "TakeOrderedAndProject" in p
