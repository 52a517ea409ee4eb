"""Dirty-input robustness contracts (round-10 hardening sweep).

The grading fixtures are clean (NOT NULL keys, non-empty strings,
uniform-dimension embeddings), so none of these cases can surface in
CORRECTNESS grading — but at 100 TB a single dirty row MUST NOT kill a
1000-executor job. Spark's ANSI mode turns degenerate arithmetic into
job aborts (DIVIDE_BY_ZERO, CAST_INVALID_INPUT, INVALID_INDEX_OF_ZERO),
and pandas UDFs abort on int(NaN); a registry-wide engine-vs-oracle
sweep over adversarial fixtures (every column NULLed one at a time, an
all-NULL row, empty strings, empty lists, and — since round 11 — an
all-zero vector per float-list column; see ``tests/dirty_fixtures``)
found 13 keys that crashed outright (the round-10 pin set was 14: these
13 plus q_sketch_hll, whose fix was oracle-only, not a crash). This
file pins the crash fixes:

- crash class 1, ANSI DIVIDE_BY_ZERO: q_agg_moments (n=1 group),
  q_dedup_substring_runs / q_join_containment (zero-token docs),
  q_sim_range_search (zero-norm vectors) — fixed with try_divide /
  CASE n>1, matching DuckDB's NULL-on-zero-denominator convention;
- crash class 2, ANSI CAST_INVALID_INPUT: q_sample_reservoir_weighted
  (malformed priority digit) — fixed with try_cast + COALESCE on both
  engines;
- crash class 3, INVALID_INDEX_OF_ZERO: q_embedding_quantize —
  sequence(0, size-1) on an empty array is the DESCENDING [0, -1];
  fixed with Spark's indexed transform;
- crash class 4, pandas int(NaN): q_multimodal_features/_frames,
  q_pack_budget, q_udaf_grouped — NULL keys now dropped JVM-side
  before the UDF (or emitted as the SQL NULL group);
- crash class 5, driver-side ragged numpy: ivf_train's calibration
  collect (q_sim_topk_ivf, q_sim_topk_ivf_sq, q_dedup_embedding_ivf)
  — NULL/empty vectors excluded before np.asarray.

For 11 of the 13 keys the fix extends to FULL engine-vs-oracle parity
on the dirty fixtures (both halves implement the same NULL contract —
q_embedding_quantize via a ROW-LOCAL oracle that has no GROUP BY to
make ill-posed); the 2 exceptions (q_dedup_substring_runs,
q_join_containment) run crash-free on the duplicate-PK twin, where
per-row vs per-key grouping is genuinely ill-posed, and hold full
parity on the UNIQUE-KEY twin — so their divergence is fixture
ill-posedness, not a NULL-contract gap.
"""

from __future__ import annotations

import pytest

from tests.dirty_fixtures import build_dirty
from tests.oracle import compare, duck_con

# keys whose engine AND oracle implement the same dirty-input contract
PARITY_KEYS = [
    "q_agg_moments",
    "q_dedup_embedding_ivf",
    # row-local oracle (indexed list_transform against the calibration
    # arrays): parity holds even under duplicate vec_ids and NULL ids —
    # there is no GROUP BY/join to make ill-posed
    "q_embedding_quantize",
    "q_multimodal_features",
    "q_multimodal_frames",
    "q_pack_budget",
    "q_sample_reservoir_weighted",
    "q_sim_range_search",
    "q_sim_topk_ivf",
    "q_sim_topk_ivf_sq",
    "q_udaf_grouped",
    # round 11: the rest of the cosine family adopted the shared
    # well_formed/CLEAN_EMB_SQL degenerate-vector contract (NULL/empty/
    # zero-norm excluded engine- AND oracle-side), so these hold full
    # parity on the dirty twin too
    "q_dedup_embedding",
    "q_mine_hard_negatives",
    "q_sim_mmr_rerank",
    "q_sim_rrf_fusion",
    "q_sim_topk",
    "q_sim_topk_lsh",
]
# keys fixed to run crash-free on the duplicate-PK twin, where their
# per-key-grouping oracles are ill-posed (documented in the module
# docstring); on the UNIQUE-KEY twin they hold full parity — asserted
# separately below
RUN_ONLY_KEYS = [
    "q_dedup_substring_runs",
    "q_join_containment",
    # round 11: both adopted the degenerate-vector contract, but their
    # oracles GROUP BY vec_id (quantized reconstruction list / ideal-DCG
    # histogram), which a duplicated vec_id makes ill-posed (e.g. a
    # 128-long reconstructed list from two 64-dim rows)
    "q_eval_ndcg",
    "q_sim_topk_quantized",
]
# family representatives that ALREADY held full engine-vs-oracle parity
# on the adversarial fixtures in the round-10 sweep (188/274 did) —
# pinned so a future edit can't silently regress a family's NULL
# contract; chosen for structural (not value-coincidental) parity:
# aggregation/join/sketch/dedup/text families, not ordering-sensitive
# window shapes
FAMILY_PARITY_KEYS = [
    "q_agg_median",
    "q_agg_geomean",
    "q_cube_dense",
    "q_join_asof",
    "q_join_full_outer",
    "q_graph_pagerank",
    "q_sketch_countmin",
    "q_sketch_distinct_kmv",
    "q_heavy_hitters",
    "q_dedup_exact",
    "q_text_tfidf",
    "q_tpch_order_priority",
    "q_mixture_weights",
    "q_events_dedup",
]


@pytest.fixture(scope="module")
def dirty_dir(sf_dir, tmp_path_factory) -> str:
    """A dirty twin of the sf fixture dir: same rows plus, per table,
    one row per column with JUST that column NULL (others copied from
    row 0), one all-NULL row, an empty-string row per string column, an
    empty-list row per list column and an all-zero-vector row per
    float-list column. Schema preserved exactly via pyarrow (no pandas
    int→float traps). Built by the SHARED builder in
    tests/dirty_fixtures (also used by scripts/dirty_sweep.py), so the
    regression fixture and the maintenance sweep cannot diverge."""
    return build_dirty(
        sf_dir, tmp_path_factory.mktemp("dirty_sf"), unique_keys=False
    )


@pytest.fixture(scope="module")
def dirty_unique_dir(sf_dir, tmp_path_factory) -> str:
    """The same adversarial twin with identifier columns remapped to
    fresh values (max + j) in every filler row, so no primary key is
    duplicated: what remains is PURE NULL/empty-value behavior."""
    return build_dirty(
        sf_dir, tmp_path_factory.mktemp("dirty_uk"), unique_keys=True
    )


def _registry():
    from modevetl_spark.queries import all_oracle, all_queries

    return all_queries(), all_oracle()


@pytest.mark.parametrize("key", PARITY_KEYS + FAMILY_PARITY_KEYS)
def test_dirty_parity(spark, dirty_dir, key):
    """Engine and oracle agree on the SAME adversarial fixtures — the
    full row/schema/value check the driver would run."""
    queries, oracles = _registry()
    df = queries[key](spark, dirty_dir)
    con = duck_con(dirty_dir)
    try:
        compare(df, con, oracles[key])
    finally:
        con.close()


@pytest.mark.parametrize("key", RUN_ONLY_KEYS)
def test_dirty_runs(spark, dirty_dir, key):
    """One dirty row must never abort the job (the ANSI crash classes
    in the module docstring); result content is oracle-graded on the
    clean fixtures instead.

    toPandas, NOT count — .count() lets Catalyst prune unconsumed
    projections and aggregate value expressions, so the poisoned fold
    under test may never evaluate (the round-12 census lesson)."""
    queries, _ = _registry()
    queries[key](spark, dirty_dir).toPandas()


@pytest.mark.parametrize("key", RUN_ONLY_KEYS)
def test_dirty_unique_key_parity(spark, dirty_unique_dir, key):
    """With primary keys de-duplicated, the run-only keys hold FULL
    engine-vs-oracle parity: their duplicate-PK divergence is fixture
    ill-posedness, not a NULL-contract gap."""
    queries, oracles = _registry()
    df = queries[key](spark, dirty_unique_dir)
    con = duck_con(dirty_unique_dir)
    try:
        compare(df, con, oracles[key])
    finally:
        con.close()


# the round-11 cosine contract (r10 ADVICE, medium): operators/
# similarity.cosine_pre() is F.try_divide and every cos-EMITTING family key
# routes through the shared well_formed/CLEAN_EMB_SQL exclusion, so an
# ALL-ZERO embedding vector (len > 0 but norm 0 — in the dirty twin
# since round 11) can neither abort a job NOR reach a scored set where
# the engines' degenerate conventions differ (Spark try_divide → NULL,
# DuckDB list_cosine_similarity → pinned -1.0). The whole family is
# therefore graded by the PARITY/RUN tiers above; this run-contract
# keeps the one cosine consumer whose key is NOT embedding-based
# (q_dedup_corpus is MinHash-over-documents; its dedup-family twin
# divergence is the documented duplicate-PK artifact class) crash-free.
COSINE_FAMILY_KEYS = [
    "q_dedup_corpus",
]


@pytest.mark.parametrize("key", COSINE_FAMILY_KEYS)
def test_zero_norm_vector_never_aborts(spark, dirty_dir, key):
    """A single all-zero embedding row must not kill the job under ANSI
    DIVIDE_BY_ZERO anywhere in the cosine family. toPandas, not count —
    the round-12 pruning lesson."""
    queries, _ = _registry()
    queries[key](spark, dirty_dir).toPandas()


def test_well_formed_matches_clean_emb_sql(spark, tmp_path):
    """The degenerate-vector contract's two halves — the engine's
    well_formed() and the oracle's CLEAN_EMB_SQL — must admit exactly
    the same rows, pinned directly on the four degenerate shapes (NULL,
    empty, all-zero, healthy) rather than left to per-key parity."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from modevetl_spark.operators.similarity import (
        CLEAN_EMB_SQL,
        well_formed,
    )

    tab = pa.table(
        {
            "vec_id": pa.array([1, 2, 3, 4], type=pa.int64()),
            "embedding": pa.array(
                [None, [], [0.0, 0.0, 0.0], [0.5, -1.5, 2.0]],
                type=pa.list_(pa.float32()),
            ),
        }
    )
    path = str(tmp_path / "emb.parquet")
    pq.write_table(tab, path)
    got = sorted(
        r.vec_id
        for r in well_formed(spark.read.parquet(path)).select("vec_id").collect()
    )
    con = duckdb.connect()
    try:
        want = sorted(
            v
            for (v,) in con.execute(
                f"SELECT vec_id FROM read_parquet('{path}') AS embeddings"
                f" WHERE {CLEAN_EMB_SQL}"
            ).fetchall()
        )
    finally:
        con.close()
    assert got == want == [4]


def test_promoted_twin_builders_preserve_schema(tmp_path):
    """The unicode and extreme-timestamp twins (session-local scripts in
    r11, promoted into tests/dirty_fixtures in r12) must preserve each
    table's arrow schema EXACTLY and only append rows — schema drift in
    a twin would make every sweep result incomparable to the clean
    fixture's."""
    import pyarrow.parquet as pq

    from tests.dirty_fixtures import (
        _tables,
        build_hostile_timestamp,
        build_unicode,
    )

    src = "/root/testdata/sf0.001"
    for builder, name in (
        (build_unicode, "uni"),
        (build_hostile_timestamp, "ts"),
    ):
        dst = builder(src, tmp_path / name)
        for t in _tables():
            clean = pq.read_table(f"{src}/{t}.parquet")
            twin = pq.read_table(f"{dst}/{t}.parquet")
            assert twin.schema.equals(clean.schema), (name, t)
            assert twin.num_rows > clean.num_rows, (name, t)


def test_cosine_pre_bit_identical_to_cosine(spark, tmp_path):
    """The round-12 hot-loop refactor contract: cosine_pre() over
    per-row precomputed norms (nrm()) must be BIT-identical to folding
    both norms inside the pair loop — sqrt(fold(a))·sqrt(fold(b)) is the
    same IEEE tree whether the sqrt runs before or after the join —
    including the degenerate rows (zero-norm → NULL under try_divide on
    both forms). Pinned on adversarial shapes: subnormals, huge
    components, zero vectors, negative-heavy vectors."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from modevetl_spark.operators.similarity import cosine_pre, dot, nrm

    def pair_loop_cosine(a, b):
        def fold_norm(v):
            return F.sqrt(
                F.aggregate(
                    v,
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"),
                )
            )

        return F.try_divide(dot(a, b), fold_norm(a) * fold_norm(b))

    vecs = [
        [0.5, -1.5, 2.0],
        [5e-324, 1e-300, 0.0],
        [1e150, -1e150, 1e-10],
        [0.0, 0.0, 0.0],
        [-1.0, -2.0, -3.0],
        [0.1, 0.2, 0.3],
    ]
    tab = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), type=pa.int64()),
            "embedding": pa.array(vecs, type=pa.list_(pa.float64())),
        }
    )
    path = str(tmp_path / "emb.parquet")
    pq.write_table(tab, path)
    e = spark.read.parquet(path)
    a = e.select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("va"),
        nrm("embedding").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("vb"),
        nrm("embedding").alias("nb"),
    )
    both = (
        a.crossJoin(b)
        .select(
            "ia",
            "ib",
            pair_loop_cosine(F.col("va"), F.col("vb")).alias("ref"),
            cosine_pre(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("pre"),
        )
        .collect()
    )
    assert len(both) == len(vecs) ** 2
    for r in both:
        # bit-identity, not tolerance: NULL together or equal doubles
        assert (r.ref is None) == (r.pre is None), (r.ia, r.ib)
        if r.ref is not None:
            assert r.ref == r.pre, (r.ia, r.ib, r.ref, r.pre)


# --- round-12 extreme-timestamp census pins ------------------------------

def test_event_time_guards_bound_hostile_timestamps(spark, sf_dir, tmp_path):
    """The two event-time-guarded keys survive year-0001/9999 rows, with
    the JVM-side noop-write probe (pandas datetime64[ns] spans only
    1677..2262, so even the RAW timestamp twin is un-collectable —
    collect-ability is the wrong crash bar on this twin; the noop write
    is the 100 TB sink path and defeats .count()'s column pruning).

    q_gapfill_interp's guard is also a DoS defense: ONE year-9999 event
    otherwise explodes that user's day grid to ~2.9M rows. With the
    [1900, 2100) bound the grid row count stays fixture-sized."""
    from modevetl_spark.queries import all_queries

    from tests.dirty_fixtures import build_hostile_timestamp

    twin = build_hostile_timestamp(sf_dir, tmp_path / "hostile_ts")
    queries = all_queries()
    for key in (
        "q_events_tumbling",
        "q_gapfill_interp",
        # the span-grid audit (second pass): calendar spine, per-user
        # month-bucket self-join, per-user median-fill day grid
        "q_date_spine_coverage",
        "q_join_interval_overlap",
        "q_gapfill_percentile",
    ):
        queries[key](spark, twin).write.mode("overwrite").format(
            "noop"
        ).save()
    # the interp grid must not have been inflated by the two in-window
    # hostile rows (1901, 1970): each is a single-day span for its own
    # fresh user, so the twin grid is at most |users_twin| rows larger
    # than the clean grid plus those singletons
    clean_n = queries["q_gapfill_interp"](spark, sf_dir).count()
    twin_n = queries["q_gapfill_interp"](spark, twin).count()
    assert twin_n - clean_n < 100_000, (
        f"grid exploded: clean={clean_n} twin={twin_n}"
    )


# --- the empty-input tier (round-13 census fixes) ------------------------


@pytest.fixture(scope="module")
def empty_dir(sf_dir, tmp_path_factory) -> str:
    """The EMPTY twin: every table keeps its exact schema with zero rows
    — the operational shape of an empty daily partition. Shared builder
    with scripts/dirty_sweep.py --empty."""
    from tests.dirty_fixtures import build_empty

    return build_empty(sf_dir, tmp_path_factory.mktemp("empty_twin"))


@pytest.mark.parametrize(
    "key",
    [
        # the four keys the round-13 empty census caught aborting on
        # zero-row input: two ANSI 0/0 divisions, two standing-job
        # state stores left unreadable by all-empty first ticks
        "q_dedup_eval_pr",
        "q_sketch_distinct_kmv",
        "q_agg_incremental_state",
        "q_scd2_incremental",
    ],
)
def test_empty_input_never_aborts(spark, empty_dir, key):
    """An empty partition / filter-matched-nothing input must complete
    (empty or NULL-aggregate output), never abort the job — at 100 TB a
    standing pipeline hits a zero-row batch routinely. toPandas, not
    count: the strong-probe rule (Catalyst prunes unconsumed folds
    under count)."""
    q = _registry()[0][key]
    q(spark, empty_dir).toPandas()  # must not raise


def test_empty_first_ticks_leave_readable_stores(spark, tmp_path):
    """A state store that has only ever seen EMPTY batches must still be
    a readable parquet dataset with the declared schema: the standing
    job's consumer reads the store unconditionally, and a zero-file dir
    fails parquet schema inference (the round-13 empty-census class)."""
    from modevetl_spark.operators.aggstate import merge_aggregate_state
    from modevetl_spark.operators.scd2 import merge_scd2_state

    empty_orders = spark.createDataFrame(
        [], "o_custkey bigint, o_orderkey bigint, o_totalprice double"
    )
    agg_store = str(tmp_path / "agg_state")
    n = merge_aggregate_state(
        spark,
        empty_orders,
        agg_store,
        ["o_custkey"],
        {"n_orders": ("count", "o_orderkey"), "spend": ("sum", "o_totalprice")},
    )
    assert n == 0
    back = spark.read.parquet(agg_store)
    assert back.count() == 0
    assert set(back.columns) == {"o_custkey", "n_orders", "spend"}

    empty_events = spark.createDataFrame(
        [], "user_id bigint, event_type string, ts timestamp, event_id bigint"
    )
    scd2_store = str(tmp_path / "scd2_state")
    n = merge_scd2_state(spark, empty_events, scd2_store)
    assert n == 0
    back = spark.read.parquet(scd2_store)
    assert back.count() == 0
    assert set(back.columns) == {
        "user_id", "state", "effective_from", "effective_to", "version"
    }

    # and a later REAL batch upserts over the empty init normally
    batch = spark.createDataFrame(
        [(1, 100, 10.0), (1, 101, 5.0)],
        "o_custkey bigint, o_orderkey bigint, o_totalprice double",
    )
    n = merge_aggregate_state(
        spark,
        batch,
        agg_store,
        ["o_custkey"],
        {"n_orders": ("count", "o_orderkey"), "spend": ("sum", "o_totalprice")},
    )
    assert n == 1
    row = spark.read.parquet(agg_store).collect()[0]
    assert row.n_orders == 2 and float(row.spend) == 15.0
