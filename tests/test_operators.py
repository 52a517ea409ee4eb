"""Operator unit tests — the forms the driver's SQL oracle can't grade:
native array/map outputs, approximate aggregates, strategy equivalences,
expression-vs-row-form equivalences, multimodal plumbing."""

from __future__ import annotations

import pyspark.sql.functions as F

from modevetl_spark.operators.closure import transitive_closure
from modevetl_spark.operators.dedup import dedup_corpus, simhash_candidates
from modevetl_spark.operators.multimodal import extract_features, with_binary_payload
from modevetl_spark.operators.similarity import brute_force_topk, ivf_topk, lsh_topk
from modevetl_spark.operators.text import tokens, word_shingles
from modevetl_spark.functions.compat import round_sig
from modevetl_spark.sources.catalog import load


def test_collect_set_array_form(spark, sf_dir):
    """A8 union aggregate, genuine ArrayType output."""
    o = load(spark, sf_dir, "orders")
    out = o.groupBy("o_orderstatus").agg(
        F.array_sort(F.collect_set("o_orderpriority")).alias("ps")
    )
    rows = {r.o_orderstatus: r.ps for r in out.collect()}
    assert all(isinstance(v, list) and v == sorted(set(v)) for v in rows.values())


def test_multiset_map_form(spark, sf_dir):
    """F8 multiset as genuine MapType value->count."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").count()
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "count")))
        ).alias("bag")
    )
    row = m.orderBy("user_id").first()
    assert isinstance(row.bag, dict) and sum(row.bag.values()) > 0


def test_percentile_approx_close_to_exact(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    r = li.agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "approx"
        ),
    ).collect()[0]
    assert abs(r.exact - r.approx) / r.exact < 0.01


def test_closure_strategies_agree(spark):
    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 2), (5, 2), (6, 3), (7, 3), (8, 4), (9, 4), (10, 5)],
        ["src", "dst"],
    )
    a = {
        (r.src, r.dst)
        for r in transitive_closure(edges, strategy="doubling").collect()
    }
    b = {
        (r.src, r.dst)
        for r in transitive_closure(edges, strategy="seminaive").collect()
    }
    assert a == b
    assert (8, 1) in a and (10, 1) in a and (9, 2) in a


def test_closure_handles_cycles(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    got = {
        (r.src, r.dst)
        for r in transitive_closure(edges, strategy="seminaive").collect()
    }
    assert got == {(a, b) for a in (1, 2, 3) for b in (1, 2, 3)}
    got2 = {
        (r.src, r.dst)
        for r in transitive_closure(edges, strategy="doubling").collect()
    }
    assert got2 == got


def test_simhash_self_similarity(spark, sf_dir):
    """A doc duplicated under two ids must surface as a 0-hamming pair."""
    d = load(spark, sf_dir, "documents").limit(20).select("doc_id", "text")
    dup = d.where(F.col("doc_id") == d.first().doc_id).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    cands = simhash_candidates(d.unionByName(dup))
    pair = cands.where(F.col("hamming") == 0).count()
    assert pair >= 1


def test_lsh_recall_reasonable(spark, sf_dir):
    """LSH top-k must recover a decent share of true top-1 neighbors
    (sanity bound; exact recall depends on bits)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 30)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(e, q, k=1).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(e, q, k=1, n_bits=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"recall {recall}"


def test_ivf_recall_reasonable(spark, sf_dir):
    """IVF top-k with a generous nprobe/nlist ratio must recover most
    true top-1 neighbors; also pins determinism across two runs."""
    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 30)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(e, q, k=1).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(e, q, k=1, nlist=8, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall {recall}"
    again = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(e, q, k=1, nlist=8, nprobe=4).collect()
    }
    assert approx == again


def test_multimodal_plumbing_schema(spark, sf_dir):
    d = load(spark, sf_dir, "documents").limit(10)
    out = extract_features(with_binary_payload(d), "doc_id", "payload")
    rows = out.collect()
    assert [f.name for f in out.schema.fields] == [
        "doc_id",
        "payload_bytes",
        "fake_width",
        "fake_height",
        "fake_n_frames",
    ]
    assert all(r.payload_bytes > 0 and 1 <= r.fake_n_frames <= 7 for r in rows)


def test_round_sig(spark):
    df = spark.range(1).select(
        round_sig(F.lit(123456.789), 3).alias("a"),
        round_sig(F.lit(0.00123456), 3).alias("b"),
        round_sig(F.lit(0.0), 3).alias("c"),
        round_sig(F.lit(-987.654), 2).alias("d"),
    )
    r = df.collect()[0]
    assert r.a == 123000.0
    assert abs(r.b - 0.00123) < 1e-12
    assert r.c == 0.0
    assert r.d == -990.0


def test_word_shingles_edges(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",), ("solo",)], ["text"]
    )
    out = df.select(word_shingles(tokens("text"), 3).alias("sh")).collect()
    assert [r.sh for r in out] == [["a b c", "b c d"], [], [], []]


def test_approx_sketches_accuracy(spark, sf_dir):
    """HLL cardinality within 5%, approx median within 1% of exact."""
    li = load(spark, sf_dir, "lineitem")
    r = li.agg(
        F.countDistinct("l_partkey").alias("exact_card"),
        F.approx_count_distinct("l_partkey").alias("approx_card"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact_med"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000)).alias(
            "approx_med"
        ),
    ).collect()[0]
    assert abs(r.approx_card - r.exact_card) / r.exact_card < 0.05
    assert abs(r.approx_med - r.exact_med) / r.exact_med < 0.01


def test_salted_join_equals_plain(spark, sf_dir):
    from modevetl_spark.operators.skew import salted_join

    ev = load(spark, sf_dir, "events").select("user_id", "event_id")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    plain = ev.join(dim, "user_id")
    salted = salted_join(ev, dim, on="user_id", big_unique_col="event_id", n_salts=4)
    assert (
        salted.exceptAll(plain.select(salted.columns)).count() == 0
        and plain.count() == salted.count()
    )


def test_chunk_spans_edges(spark):
    import pytest as _pytest

    from modevetl_spark.operators.text import chunk_spans

    df = spark.createDataFrame(
        [(i, list("abcdefghij"[:n])) for i, n in enumerate([0, 3, 5, 7, 10])],
        ["id", "toks"],
    )
    out = {
        r.id: [(c.chunk_id, c.start, c.len) for c in r.spans]
        for r in df.select(
            "id", chunk_spans(F.col("toks"), 5, 2).alias("spans")
        ).collect()
    }
    assert out[0] == []  # empty doc -> no chunks
    assert out[1] == [(0, 0, 3)]  # shorter than one chunk
    assert out[2] == [(0, 0, 5)]  # exactly one chunk
    assert out[3] == [(0, 0, 5), (1, 3, 4)]  # stride 3, short tail
    assert out[4] == [(0, 0, 5), (1, 3, 5), (2, 6, 4)]
    # every token is covered and consecutive chunks overlap by `overlap`
    for spans in out.values():
        for (c0, s0, l0), (c1, s1, l1) in zip(spans, spans[1:]):
            assert s1 == s0 + 3 and c1 == c0 + 1
    with _pytest.raises(ValueError):
        chunk_spans(F.col("toks"), 5, 5)


def test_closure_hub_salting_spreads_reducer_load(spark):
    """Adversarial-skew gate for the closure's salted frontier-edge join
    (SCALING.md's power-law claim, now measured): on a graph where one hub
    ancestor dominates the frontier, the unsalted join funnels every hub
    row through one reducer, while salt_hot_hubs spreads them across salt
    replicas. Gated on max rows per reducer partition — the deterministic
    task-input metric — because wall-time on this box swings 2-3x with
    neighbor load. AQE is off, as it is inside the closure loop, so the
    post-shuffle partition ids are the real reducer assignment."""
    from modevetl_spark.operators.closure import _frontier_edge_join

    # power-law frontier: 1.5M rows point at hub ancestor 0, 0.5M at a
    # uniform tail of 1000 mids; edge set has one parent per mid
    n_hub, n_tail, mids = 1_500_000, 500_000, 1_000
    frontier = spark.range(n_hub + n_tail).select(
        F.col("id").alias("node"),
        F.when(F.col("id") < n_hub, F.lit(0))
        .otherwise(F.col("id") % mids + 1)
        .alias("__mid"),
    )
    edges = spark.range(mids + 1).select(
        F.col("id").alias("__mid"), (F.col("id") + 10_000_000).alias("dst")
    )

    # force the shuffle join the closure faces at 100 TB (a real edge set
    # is far past broadcast size; here it's 1001 rows and would broadcast,
    # which has no skew problem to measure) — explicit broadcast hints
    # inside adaptive_salted_join's hot-map lookup still apply
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:

        def max_reducer_rows(df):
            return (
                df.withColumn("__pid", F.spark_partition_id())
                .groupBy("__pid")
                .count()
                .agg(F.max("count"))
                .collect()[0][0]
            )

        plain = _frontier_edge_join(
            frontier, edges, False, "node", 25_000, 64
        )
        salted = _frontier_edge_join(
            frontier, edges, True, "node", 25_000, 64
        )
        assert plain.count() == salted.count() == n_hub + n_tail
        plain_max = max_reducer_rows(plain)
        salted_max = max_reducer_rows(salted)
        # unsalted: the whole 1.5M-row hub lands on one reducer
        assert plain_max >= n_hub
        # salted: the hub spreads over ~60 salt keys of ~25k rows each;
        # multiple salt keys still hash into the same reducer (the test
        # session runs 8 shuffle partitions), so the gate is the collapse
        # of the hottest task's input relative to the unsalted funnel,
        # not the per-salt ideal. Deterministic: fixed hash, fixed
        # partition count, no sampling.
        assert salted_max <= n_hub // 3
        assert salted_max * 3 < plain_max
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def test_salted_join_rejects_outer_hows(spark, sf_dir):
    """Unmatched dim rows would be emitted once per salt replica under
    right/full joins — the operator must refuse rather than multiply rows."""
    import pytest as _pytest

    from modevetl_spark.operators.skew import adaptive_salted_join, salted_join

    ev = load(spark, sf_dir, "events").select("user_id", "event_id").limit(10)
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    for how in ("right", "right_outer", "full", "outer", "full_outer"):
        with _pytest.raises(ValueError, match="salted join supports"):
            salted_join(ev, dim, on="user_id", big_unique_col="event_id", how=how)
        with _pytest.raises(ValueError, match="salted join supports"):
            adaptive_salted_join(
                ev, dim, on="user_id", big_unique_col="event_id", how=how
            )


def test_adaptive_salted_join_equals_plain_and_salts_only_hot(spark, sf_dir):
    from modevetl_spark.operators.skew import adaptive_salted_join, key_histogram

    ev = load(spark, sf_dir, "events").select("user_id", "event_id")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    plain = ev.join(dim, "user_id")
    target = 50
    salted = adaptive_salted_join(
        ev, dim, on="user_id", big_unique_col="event_id",
        target_rows_per_salt=target, max_salts=8,
    )
    assert (
        salted.exceptAll(plain.select(salted.columns)).count() == 0
        and plain.count() == salted.count()
    )
    # some keys must actually be hot at this target, else the test is vacuous
    hist = key_histogram(ev, "user_id")
    assert hist.where(F.col("cnt") > target).count() > 0
    # cold keys contribute exactly one dim replica: total dim-side rows
    # after salting = n_cold + sum(min(ceil(cnt/target), 8)) over hot
    from pyspark.sql import functions as _F
    expected = (
        hist.select(
            _F.sum(
                _F.when(
                    _F.col("cnt") > target,
                    _F.least(_F.ceil(_F.col("cnt") / target), _F.lit(8)),
                ).otherwise(_F.lit(1))
            ).alias("s")
        ).collect()[0].s
    )
    hot = (
        hist.where(_F.col("cnt") > target)
        .select(
            "user_id",
            _F.least(_F.ceil(_F.col("cnt") / target), _F.lit(8)).cast("int").alias("__n_salts"),
        )
    )
    replicated = (
        dim.join(_F.broadcast(hot), "user_id", "left")
        .withColumn("__salt", _F.explode(_F.sequence(_F.lit(0), _F.coalesce(_F.col("__n_salts"), _F.lit(1)) - 1)))
        .count()
    )
    assert replicated == expected


def test_dedup_corpus_transitive_clusters(spark):
    """A~B and B~C collapse to one survivor (min id) even though A and C
    were never directly paired; untouched docs all survive."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], ["id_a", "id_b"]
    )
    got = sorted(r.doc_id for r in dedup_corpus(docs, pairs).collect())
    assert got == [1, 2, 4, 7]


def test_ivf_neardup_finds_planted_duplicate(spark, sf_dir):
    """An exactly-duplicated vector (new id) must pair with its source at
    cos=1.0 — same best cell by construction."""
    from modevetl_spark.operators.similarity import ivf_neardup_pairs

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = e.where(F.col("vec_id") == 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    pairs = ivf_neardup_pairs(e.unionByName(dup), threshold=0.999, nlist=8)
    hit = pairs.where(
        (F.col("id_a") == 3) & (F.col("id_b") == 1_000_003)
    ).collect()
    assert len(hit) == 1 and hit[0].cos_sim >= 0.999


def test_hash_sample_partition_invariant(spark, sf_dir):
    """Hash sampling keeps the same ROWS regardless of physical layout —
    the property RNG sample() lacks and retries/AQE need."""
    from modevetl_spark.operators.sampling import hash_sample

    o = load(spark, sf_dir, "orders").select("o_orderkey")
    a = {r.o_orderkey for r in hash_sample(o, "o_orderkey", 0.2).collect()}
    b = {
        r.o_orderkey
        for r in hash_sample(o.repartition(17), "o_orderkey", 0.2).collect()
    }
    assert a == b and 0 < len(a) < o.count()


def test_stratified_sample_full_keep_stratum(spark, sf_dir):
    """fraction=1.0 must keep the stratum WHOLE (regression: a '10000'
    hex threshold string-compares below '2000'-'ffff')."""
    from modevetl_spark.operators.sampling import stratified_hash_sample

    o = load(spark, sf_dir, "orders")
    kept = stratified_hash_sample(
        o, "o_orderkey", "o_orderstatus", {"P": 1.0}
    )
    assert kept.count() == o.where(F.col("o_orderstatus") == "P").count()


def test_pack_by_budget_invariants(spark, sf_dir):
    """Every doc assigned exactly once; no bin exceeds the budget unless
    it holds a single over-budget doc."""
    from modevetl_spark.operators.sampling import pack_by_budget
    from modevetl_spark.operators.text import tokens

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("long").alias("w")
    )
    packed = pack_by_budget(d, "w", budget=500, n_partitions=4)
    assert packed.count() == d.count()
    assert packed.select("doc_id").distinct().count() == d.count()
    bins = packed.groupBy("bin_id").agg(
        F.sum("w").alias("total"), F.count(F.lit(1)).alias("n")
    )
    bad = bins.where((F.col("total") > 500) & (F.col("n") > 1)).count()
    assert bad == 0


def test_snapshot_diff_null_safety(spark):
    """null -> value and value -> null are CHANGED; null -> null is
    unchanged (eqNullSafe, not =); adds/removes classified by presence."""
    from modevetl_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, "b"), (3, "c"), (4, None)], ["id", "v"]
    )
    new = spark.createDataFrame(
        [(1, "x"), (2, None), (4, None), (5, "e")], ["id", "v"]
    )
    got = {(r.id, r.change_type, r.v) for r in snapshot_diff(old, new, ["id"]).collect()}
    assert got == {
        (1, "changed", "x"),
        (2, "changed", None),
        (3, "removed", "c"),
        (5, "added", "e"),
    }


def test_closure_hub_salting_matches_plain(spark):
    """Hub-salted semi-naive closure must equal the plain closure on a
    skewed graph (a celebrity hub with many children feeding a chain), with
    a salt target small enough that the hub really is salted."""
    import pytest as _pytest

    from modevetl_spark.operators.closure import transitive_closure

    # 200 leaves -> hub 1000; chain 1000 -> 1001 -> 1002
    edges = [(i, 1000) for i in range(200)] + [(1000, 1001), (1001, 1002)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    plain = transitive_closure(df, "src", "dst")
    salted = transitive_closure(
        df, "src", "dst", strategy="seminaive",
        salt_hot_hubs=True, target_rows_per_salt=20, max_salts=8,
    )
    a = {(r.src, r.dst) for r in plain.collect()}
    b = {(r.src, r.dst) for r in salted.collect()}
    assert a == b and len(a) == 200 * 3 + 2 + 1
    with _pytest.raises(ValueError, match="seminaive"):
        transitive_closure(df, "src", "dst", salt_hot_hubs=True)


def test_vocab_encode_roundtrip(spark):
    """Vocabulary ids are frequency-ranked and encoding preserves token
    order; OOV tokens map to the sentinel."""
    from modevetl_spark.operators.text import build_vocab, encode_tokens

    docs = spark.createDataFrame(
        [(1, "b a a c a b"), (2, "a b zzz")], ["doc_id", "text"]
    )
    vocab = build_vocab(docs, "text")
    v = {r.token: (r.token_id, r.freq) for r in vocab.collect()}
    assert v["a"] == (0, 4) and v["b"] == (1, 3) and v["c"][0] == 2
    enc = encode_tokens(
        docs, "doc_id", "text", vocab.where(F.col("token") != "zzz")
    )
    got = {r.doc_id: (r.token_ids, r.n_tokens) for r in enc.collect()}
    assert got[1] == ([1, 0, 0, 2, 0, 1], 6)
    assert got[2] == ([0, 1, -1], 3)  # zzz out-of-vocab -> -1


def test_hash_split_disjoint_exhaustive_deterministic(spark, sf_dir):
    from modevetl_spark.operators.sampling import hash_split

    d = load(spark, sf_dir, "documents").select("doc_id")
    splits = hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    sets = {k: {r.doc_id for r in v.collect()} for k, v in splits.items()}
    n = d.count()
    assert sum(len(s) for s in sets.values()) == n  # exhaustive
    assert not (sets["train"] & sets["val"]) and not (sets["val"] & sets["test"])
    assert not (sets["train"] & sets["test"])  # pairwise disjoint
    # deterministic under repartitioning
    again = hash_split(d.repartition(7), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert {r.doc_id for r in again["val"].collect()} == sets["val"]
    # roughly proportional
    assert abs(len(sets["train"]) / n - 0.8) < 0.1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="> 1"):
        hash_split(d, "doc_id", {"a": 0.9, "b": 0.2})


def test_review_fix_regressions(spark, sf_dir):
    """Pin the fixes from the round-2 adversarial review."""
    from modevetl_spark.operators.sampling import hash_split
    from modevetl_spark.operators.text import build_vocab, encode_tokens

    # (1) sorted-order float accumulation (.11+.34+.55 drifts past 1.0)
    d = load(spark, sf_dir, "documents").select("doc_id")
    splits = hash_split(d, "doc_id", {"a": 0.55, "b": 0.34, "c": 0.11})
    assert sum(v.count() for v in splits.values()) == d.count()

    # (8) zero-token docs survive encoding as ([], 0)
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "   "), (3, "")], ["doc_id", "text"]
    )
    vocab = build_vocab(docs, "text")
    got = {
        r.doc_id: (r.token_ids, r.n_tokens)
        for r in encode_tokens(docs, "doc_id", "text", vocab).collect()
    }
    assert got[1] == ([0, 1], 2) and got[2] == ([], 0) and got[3] == ([], 0)

    # (9) vocabulary cap truncates by rank, ids stay dense 0..max_size-1
    capped = build_vocab(docs, "text", max_size=1)
    rows = capped.collect()
    assert len(rows) == 1 and rows[0].token == "a" and rows[0].token_id == 0


def test_review2_fix_regressions(spark, sf_dir):
    """Second-review fixes: negative split fractions rejected; Spark's
    alias join-type spellings pass the salted-join guard."""
    import pytest as _pytest

    from modevetl_spark.operators.sampling import hash_split
    from modevetl_spark.operators.skew import salted_join

    d = load(spark, sf_dir, "documents").select("doc_id")
    with _pytest.raises(ValueError, match="negative"):
        hash_split(d, "doc_id", {"a": 0.5, "b": -0.2, "c": 0.5})

    ev = load(spark, sf_dir, "events").select("user_id", "event_id").limit(50)
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    plain = ev.join(dim, "user_id", "leftsemi").count()
    for how in ("leftsemi", "semi", "LEFT_SEMI"):
        assert (
            salted_join(
                ev, dim, on="user_id", big_unique_col="event_id", how=how
            ).count()
            == plain
        )


def test_incremental_minhash_equals_full_recompute(spark, sf_dir):
    """The persisted-index incremental path must emit EXACTLY the pairs a
    full-corpus LSH run emits, restricted to pairs touching the batch —
    banding is a pure function of the text, so there is no approximation
    gap between the daily-delta pattern and the recompute."""
    from modevetl_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_candidates,
    )
    from modevetl_spark.sources.catalog import load
    from tests.dedup_reference import full_minhash_candidates

    docs = load(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)

    index = build_minhash_index(corpus)
    inc_pairs, new_rows = incremental_minhash_candidates(batch, index)

    full = full_minhash_candidates(docs)
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    expected = {
        (r.id_a, r.id_b)
        for r in full.collect()
        if r.id_a in batch_ids or r.id_b in batch_ids
    }
    got = {(r.id_a, r.id_b) for r in inc_pairs.collect()}
    assert got == expected

    # the batch's index rows carry the same schema as the stored index,
    # so survivors append without reshaping
    assert new_rows.columns == index.columns

    # and the index probe must stay an equi-join — no nested-loop blowup
    from tests.test_plans import plan

    p = plan(inc_pairs)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_incremental_index_bucketed_probe_no_index_exchange(spark, sf_dir):
    """The persisted LSH index, stored bucketed on band_hash, must be
    probe-able without re-shuffling the index side — at 100 TB the index
    is corpus-sized and an Exchange over it per batch would dominate the
    run. The delta-sized batch side is the only thing that moves."""
    from modevetl_spark.operators.dedup import build_minhash_index
    from modevetl_spark.sources.catalog import load
    from tests.test_plans import plan

    docs = load(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    build_minhash_index(corpus).write.mode("overwrite").bucketBy(
        4, "band_hash"
    ).sortBy("band_hash").saveAsTable("lsh_index_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = build_minhash_index(batch).withColumnRenamed(
            "doc_id", "new_id"
        )
        joined = spark.table("lsh_index_b").join(
            probe, on=["band_hash"]
        )
        p = plan(joined)
        assert "SortMergeJoin" in p
        tree = p.split("(1) Scan")[0]
        # the index branch (SortMergeJoin -> ... -> bucketed scan) must be
        # Exchange-free; the delta-sized batch side is allowed to shuffle
        assert "lsh_index_b" in tree
        index_branch = tree[tree.index("SortMergeJoin") : tree.index("lsh_index_b")]
        assert "Exchange" not in index_branch, tree
        assert joined.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS lsh_index_b")


def test_token_entropy_closed_forms(spark):
    """Entropy sanity against closed forms: all-identical tokens -> 0;
    n distinct uniform tokens -> log2(n)."""
    from modevetl_spark.queries.analytics import token_entropy

    rows = [
        (1, "aa aa aa aa"),          # H = 0
        (2, "a b c d"),              # H = log2(4) = 2
        (3, "x x y y"),              # H = 1
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, "doc_id long, text string").write.mode(
            "overwrite"
        ).parquet(f"{d}/documents.parquet")
        out = {
            r.doc_id: r.entropy
            for r in token_entropy(spark, d).collect()
        }
    assert out[1] == 0.0
    assert abs(out[2] - 2.0) < 1e-6
    assert abs(out[3] - 1.0) < 1e-6


def test_embedding_cohesion_closed_forms(spark):
    """Identical unit vectors in a label -> centroid norm 1, cosine 1;
    two opposite vectors -> centroid is the zero-ish vector."""
    import tempfile

    from modevetl_spark.queries.analytics import embedding_cohesion

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [1.0, 0.0, 0.0, 0.0], 0),
        (3, [0.0, 1.0, 0.0, 0.0], 1),
        (4, [0.0, -1.0, 0.0, 0.0], 1),
        (5, [0.0, 0.6, 0.8, 0.0], 2),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        out = {r.label: r for r in embedding_cohesion(spark, d).collect()}
    assert out[0].centroid_norm == 1.0 and out[0].mean_cos == 1.0
    # degenerate (zero-norm centroid) cluster: flagged, cosine undefined
    assert out[1].centroid_norm == 0.0 and out[1].mean_cos is None
    assert out[2].centroid_norm == 1.0 and out[2].n_vecs == 1


def test_run_dedup_incremental_batches_equal_full(spark, sf_dir, tmp_path):
    """Feeding the corpus through the standing incremental job in three
    arrival batches must reproduce the full-corpus LSH pair set exactly —
    each pair surfaces on the run where its later doc arrives."""
    from modevetl_spark.operators.dedup import run_dedup_incremental
    from modevetl_spark.sources.catalog import load
    from tests.dedup_reference import full_minhash_candidates

    docs = load(spark, sf_dir, "documents")
    index_path = str(tmp_path / "lsh_index")
    pairs_path = str(tmp_path / "dup_pairs")
    total = 0
    for m in range(3):
        batch = docs.where(F.col("doc_id") % 3 == m)
        total += run_dedup_incremental(
            spark, batch, index_path, pairs_path
        )
    full = {(r.id_a, r.id_b) for r in full_minhash_candidates(docs).collect()}
    got = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(pairs_path).distinct().collect()
    }
    assert got == full
    assert total == len(got)


def test_davg_all_null_group_is_null(spark):
    """compat.davg must yield NULL (not an ANSI DIVIDE_BY_ZERO error) for
    a group whose every value is NULL — DuckDB's SUM/COUNT twin quietly
    returns NULL there, and the engines must agree."""
    from modevetl_spark.functions.compat import davg

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", None)], "g string, v double"
    )
    out = {r.g: r.avg for r in df.groupBy("g").agg(davg("v").alias("avg")).collect()}
    assert out["a"] == 2.0
    assert out["b"] is None


def test_pagerank_closed_forms(spark):
    """PageRank sanity against closed forms: a 2-cycle splits rank
    evenly; ranks always sum to 1; a hub pointed at by everyone
    dominates; dangling mass is redistributed (no rank leaks)."""
    from modevetl_spark.operators.graph import pagerank

    # two-node cycle: symmetric -> 0.5 / 0.5 exactly at any damping
    cyc = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    r = {x.node: x.rank for x in pagerank(cyc).collect()}
    assert abs(r[1] - 0.5) < 1e-9 and abs(r[2] - 0.5) < 1e-9

    # star with dangling center: 1..4 -> 0; 0 has no out-links
    star = spark.createDataFrame([(i, 0) for i in range(1, 5)], ["src", "dst"])
    rs = {x.node: x.rank for x in pagerank(star, iterations=30).collect()}
    assert abs(sum(rs.values()) - 1.0) < 1e-6  # probability distribution
    assert rs[0] > max(rs[i] for i in range(1, 5))  # hub dominates
    leaves = [rs[i] for i in range(1, 5)]
    assert max(leaves) - min(leaves) < 1e-9  # symmetric leaves tie


def test_pagerank_unquantized_mode(spark):
    """quantize_dp=None: no rounding floor (the web-scale path) — the
    2-cycle still splits rank evenly and conserves total mass."""
    from modevetl_spark.operators.graph import pagerank

    cyc = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    r = {x.node: x.rank for x in pagerank(cyc, quantize_dp=None).collect()}
    assert abs(r[1] - 0.5) < 1e-12 and abs(r[2] - 0.5) < 1e-12
