"""Remaining SURVEY §2 coverage: CUBE subtotals (A13), significant-digit
rounding (F4 — the reference's distinctive ``Math.round(value, digits)``),
approximate-sketch aggregates (the 100 TB path of A5/A7), and skew-safe
rewrites (§4) graded against the plain-shape oracle to prove the rewrite
is semantics-preserving.

Also here:

- ``q_graph_adamic_adar`` — Adamic-Adar link prediction on the order-part graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modevetl_spark.functions.compat import dsum, round_sig, sql_dsum
from modevetl_spark.operators.skew import adaptive_salted_join, salted_agg, salted_join
from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()


_CUBE_SUBTOTALS_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 'total_value')}
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@q("q_cube_subtotals", oracle_sql=_CUBE_SUBTOTALS_ORACLE)
def cube_subtotals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 [EXT]: SQL CUBE — all 2^n grouping sets with subtotal rows."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_value"),
    )


_SIG_ROUND_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_totalprice = 0 THEN 0.0
            ELSE round(o_totalprice
                       / pow(10, floor(log10(abs(o_totalprice))) - 2))
                 * pow(10, floor(log10(abs(o_totalprice))) - 2)
       END AS price_3sig
FROM orders
WHERE o_orderkey <= 2000
"""


@q("q_math_sig_round", oracle_sql=_SIG_ROUND_ORACLE)
def math_sig_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: significant-digit rounding — the reference's Math.round rounds
    to significant figures, not decimal places (``maths/__init__.py``)."""
    prep(spark)
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    return o.select(
        "o_orderkey", round_sig("o_totalprice", 3).alias("price_3sig")
    )


_SKETCH_BOUNDS_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS hll_ok,
       TRUE AS med_rank_ok
FROM lineitem
GROUP BY l_returnflag
"""


@q("q_agg_approx_sketches", oracle_sql=_SKETCH_BOUNDS_ORACLE)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A7 scale path: mergeable sketches (HLL cardinality, KLL-style
    quantiles) — single-pass, bounded memory, shuffle-partial-friendly.

    BOUNDS-ORACLE (upgraded from rows-only in r5): the sketch internals
    are engine-specific, so instead of hashing the estimates the query
    asserts them against its own exact computation and outputs the
    verdicts — `hll_ok` is |approx − exact| ≤ 3·rsd·exact (default
    rsd 0.05 → 15%, a 3σ bound; measured error at sf0.01 is 2.7%), and
    `med_rank_ok` checks the approx median's rank is within the
    ε = 1/accuracy = 0.001 GK guarantee: count(≤ v) ≥ (0.5−ε)n − 1 and
    count(< v) ≤ (0.5+ε)n + 1 (tie-robust; the ±1 covers the sketch's
    floor/ceil target-rank definition, which at small n can sit one row
    outside the bare ε·n band — measured exactly that at sf0.001). The
    oracle recomputes the exact
    distinct counts (hash-graded numbers, not a tautology) and TRUE
    literals — any sketch outside its bound breaks the hash.
    """
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    eps = 1.0 / 1000
    agg1 = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000)).alias(
            "amed"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    # rank-check pass: the 3-row sketch result broadcasts back onto the
    # fact scan, so verification adds one bounded-key agg, no extra sort
    ranks = (
        li.select("l_returnflag", "l_extendedprice")
        .join(F.broadcast(agg1.select("l_returnflag", "amed")), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(F.col("l_extendedprice") <= F.col("amed"), 1)).alias(
                "cnt_le"
            ),
            F.count(F.when(F.col("l_extendedprice") < F.col("amed"), 1)).alias(
                "cnt_lt"
            ),
        )
    )
    return agg1.join(ranks, "l_returnflag").select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.15 * F.col("exact_parts")
        ).alias("hll_ok"),
        (
            (F.col("cnt_le") >= (0.5 - eps) * F.col("n") - 1)
            & (F.col("cnt_lt") <= (0.5 + eps) * F.col("n") + 1)
        ).alias("med_rank_ok"),
    )


_SALTED_AGG_ORACLE = f"""
SELECT user_id,
       COUNT(*) AS n_events,
       {sql_dsum('value', 'total_value')}
FROM events
GROUP BY user_id
"""


@q("q_skew_salted_agg", oracle_sql=_SALTED_AGG_ORACLE)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4 skew: two-phase salted aggregation over the low-cardinality
    user_id key — graded against the plain GROUP BY oracle, proving the
    rewrite is exact. (Decimal partials keep the float sum associative.)"""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    out = salted_agg(
        ev.withColumn("vdec", F.col("value").try_cast("decimal(18,6)")),
        keys=["user_id"],
        unique_col="event_id",
        aggs={
            "n_events": ("count", "event_id"),
            "total_value": ("sum", "vdec"),
        },
        n_salts=8,
    )
    return out.select(
        "user_id",
        "n_events",
        F.round(F.col("total_value").cast("double"), 2).alias("total_value"),
    )


_SALTED_JOIN_ORACLE = """
SELECT e.user_id, d.n_users_events, COUNT(*) AS n
FROM events e
JOIN (SELECT user_id, COUNT(*) AS n_users_events FROM events GROUP BY 1) d
  ON e.user_id = d.user_id
GROUP BY 1, 2
"""


@q("q_skew_salted_join", oracle_sql=_SALTED_JOIN_ORACLE)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4 skew: replicate-dim salted join on the hot user_id key — graded
    against the plain join oracle."""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_users_events"))
    joined = salted_join(
        ev.select("user_id", "event_id"),
        dim,
        on="user_id",
        big_unique_col="event_id",
        n_salts=8,
    )
    return joined.groupBy("user_id", "n_users_events").agg(
        F.count(F.lit(1)).alias("n")
    )


_COMPONENTS_ORACLE = """
SELECT c_custkey AS node,
       c_custkey - c_custkey % 50 AS component
FROM customer
WHERE c_custkey % 50 <> 0
UNION ALL
SELECT c_custkey - c_custkey % 50 AS node,
       c_custkey - c_custkey % 50 AS component
FROM customer
WHERE c_custkey % 50 <> 0
GROUP BY 1, 2
"""


@q("q_graph_components", oracle_sql=_COMPONENTS_ORACLE)
def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] connected components by label propagation over synthetic
    star edges (custkey -> its group anchor custkey - custkey%50), so the
    oracle has the closed form component = anchor id."""
    from modevetl_spark.operators.components import connected_components

    prep(spark)
    c = load(spark, sf_dir, "customer")
    edges = c.where(F.col("c_custkey") % 50 != 0).select(
        F.col("c_custkey").alias("src"),
        (F.col("c_custkey") - F.col("c_custkey") % 50).alias("dst"),
    )
    return connected_components(edges)


_ADAPTIVE_JOIN_ORACLE = """
SELECT e.user_id, d.n_users_events, COUNT(*) AS n
FROM events e
JOIN (SELECT user_id, COUNT(*) AS n_users_events FROM events GROUP BY 1) d
  ON e.user_id = d.user_id
GROUP BY 1, 2
"""


@q("q_skew_adaptive_join", oracle_sql=_ADAPTIVE_JOIN_ORACLE)
def skew_adaptive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4 skew: histogram-tuned salted join — only keys measured hot get
    salted (per-key salt counts), cold keys add zero dim replication.
    Graded against the plain join oracle to prove the rewrite is
    semantics-preserving."""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_users_events"))
    joined = adaptive_salted_join(
        ev.select("user_id", "event_id"),
        dim,
        on="user_id",
        big_unique_col="event_id",
        target_rows_per_salt=50,
        max_salts=8,
    )
    return joined.groupBy("user_id", "n_users_events").agg(
        F.count(F.lit(1)).alias("n")
    )


def _pagerank_oracle_sql(iterations: int = 10) -> str:
    """Unrolls operators/graph.pagerank's recurrence into chained CTEs —
    one per iteration, fixed count, so no recursive-CTE feature risk.

    Bit-for-bit replay relies on the operator's float discipline: every
    order-sensitive sum is round-to-9dp + DECIMAL(18,9) (exact), every
    scalar expression is the same left-associated IEEE double tree in
    both engines (`1.0 - 0.85` is written as arithmetic, never the
    literal `0.15`, because 1.0-0.85 is 0.15000000000000002 in binary).
    """
    sql = ["""WITH edges AS (
    SELECT DISTINCT p_partkey AS src, p_partkey // 2 AS dst
    FROM part WHERE p_partkey >= 2
),
outd AS MATERIALIZED (SELECT src AS s, COUNT(*) AS out_deg FROM edges GROUP BY src),
verts AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
nv AS (SELECT COUNT(*) AS cnt FROM verts),
r0 AS MATERIALIZED (
    SELECT v.node, ROUND(CAST(1.0 AS DOUBLE) / nv.cnt, 9) AS rank
    FROM verts v CROSS JOIN nv
)"""]
    step = """r{k} AS MATERIALIZED (
    SELECT v.node,
           ROUND((CAST(1.0 AS DOUBLE) - 0.85e0) / nv.cnt
                 + 0.85e0 * COALESCE(c.s_in, 0.0e0)
                 + 0.85e0 * d.dm / nv.cnt, 9) AS rank
    FROM verts v
    CROSS JOIN nv
    CROSS JOIN (
        SELECT COALESCE(CAST(SUM(CAST(r.rank AS DECIMAL(18,9))) AS DOUBLE),
                        0.0e0) AS dm
        FROM r{p} r
        WHERE NOT EXISTS (SELECT 1 FROM outd o WHERE o.s = r.node)
    ) d
    LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM(CAST(ROUND(r.rank / o.out_deg, 9) AS DECIMAL(18,9)))
                    AS DOUBLE) AS s_in
        FROM edges e
        JOIN r{p} r ON r.node = e.src
        JOIN outd o ON o.s = e.src
        GROUP BY e.dst
    ) c ON c.node = v.node
)"""
    for k in range(1, iterations + 1):
        sql.append(step.format(k=k, p=k - 1))
    return ",\n".join(sql) + f"""
SELECT node, ROUND(rank, 8) AS rank
FROM r{iterations}
ORDER BY rank DESC, node
LIMIT 50"""


@q("q_graph_pagerank", oracle_sql=_pagerank_oracle_sql(iterations=10))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/L2+: PageRank centrality over the binary-tree partkey graph
    (same deterministic edge list as q_graph_closure) — the crawl-seed /
    URL-prioritization ranking of a web-scale data pipeline. Returns the
    top 50 nodes by rank with ranks rounded for stability.

    Oracle-gated since r5: the operator's 9dp-decimal sum discipline
    makes the fixed-10-iteration run a deterministic recurrence, which
    `_pagerank_oracle_sql` unrolls CTE-per-iteration in DuckDB; the
    closed-form unit tests (2-cycle symmetry, rank conservation, hub
    dominance) still pin the math independently.

    Plan shape (r13 optimization, guide §8 "decide with small rows"):
    THIS query's edge list is the heap-shaped partkey tree, where every
    node's out-degree is exactly 1 (the parent edge), the root is the
    single dangling node, and — because a heap subtree's shape is
    determined by its size — ``rank_k(v)`` is a function of
    ``subtree_size(v)`` alone. The O(log M) size classes and their
    contiguous node-id segments come from
    :mod:`modevetl_spark.operators.heaptree`; one guard aggregate
    proves the partkeys contiguous, and the 10 iterations replay on the
    driver over the bounded class state (``_pagerank_heap_replay``),
    mirroring the operator's round/cast/decimal-sum semantics step for
    step — the same bounded-replay class as q_graph_hits' residue
    collapse. The former form paid ~28 scheduler round-trips (a
    join + contribution agg + eager checkpoint per iteration) on a rank
    vector that only LOOKED data-sized. Non-contiguous (hostile-twin)
    inputs fail the guard and take the unchanged generic operator.

    Generic-operator scale shape per iteration (the fallback): one
    src-keyed join (co-partitioned when the edge list is pre-partitioned
    on src), one dst-keyed contribution agg with map-side combine;
    dangling mass rides each iteration's checkpoint as an observed
    metric (no driver collect)."""
    from modevetl_spark.operators.graph import pagerank, partkey_tree_edges
    from modevetl_spark.operators.heaptree import (
        contiguous_partkey_max,
        size_segments,
    )

    prep(spark)
    part = load(spark, sf_dir, "part")
    m = contiguous_partkey_max(part)
    if m is not None:
        r_by_size = _pagerank_heap_replay(m, iterations=10)
        # final contract: ROUND(rank, 8), top 50 by (rank DESC, node ASC).
        # Select on the ROUNDED key (8dp ties can straddle distinct 9dp
        # ranks), emitting ascending node ids inside each tied group.
        from modevetl_spark.functions.jvmnum import round_repr

        segs = sorted(
            size_segments(m),
            key=lambda s: (-round_repr(r_by_size[s[2]], 8), s[0]),
        )
        rows: list[tuple[int, float]] = []
        i = 0
        while len(rows) < 50 and i < len(segs):
            r8 = round_repr(r_by_size[segs[i][2]], 8)
            tied = [s for s in segs if round_repr(r_by_size[s[2]], 8) == r8]
            ids = sorted(
                v for lo, hi, _sz in tied for v in range(lo, hi + 1)
            )
            rows.extend((v, r8) for v in ids[: 50 - len(rows)])
            i += len(tied)
        return spark.createDataFrame(rows, "node long, rank double").orderBy(
            F.col("rank").desc(), "node"
        )
    ranks = pagerank(partkey_tree_edges(part), iterations=10)
    return (
        ranks.select("node", F.round("rank", 8).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(50)
    )


def _pagerank_heap_replay(
    m: int, iterations: int = 10, damping: float = 0.85
) -> dict[int, float]:
    """Driver-side replay of :func:`modevetl_spark.operators.graph.
    pagerank` over the heap tree's subtree-size classes — bit-identical
    to the in-DAG form on contiguous partkeys ``1..m``: out-degree is 1
    everywhere (``round_repr(rank / 1, 9) = rank``, already 9dp), the per-node
    contribution sum has ≤ 2 terms (the children), accumulated as exact
    DECIMAL(18,9) (``dec9`` = the double→decimal cast, shortest-repr
    HALF_UP) and re-entered as a correctly-rounded double; the dangling
    mass is the root's rank (the only node without an out-edge); the
    rank update mirrors the operator's left-associated IEEE tree
    ``(teleport + damping·s_in) + (damping·dm)/n`` with the same
    9dp ``round_repr`` quantization. Returns the final rank per subtree size.
    State is O(log m) floats — bounded by the tree DEPTH, not the data.
    """
    from modevetl_spark.functions.jvmnum import dec9, round_repr
    from modevetl_spark.operators.heaptree import child_sizes

    n = m
    teleport = (1.0 - damping) / n
    sizes: set[int] = set()
    stack = [m]
    while stack:
        s = stack.pop()
        if s <= 0 or s in sizes:
            continue
        sizes.add(s)
        left, right = child_sizes(s)
        stack.extend((left, right))
    r = {s: round_repr(1.0 / n, 9) for s in sizes}
    dm = float(dec9(r[m]))
    for _ in range(iterations):
        nxt: dict[int, float] = {}
        for s in sizes:
            left, right = child_sizes(s)
            if left or right:
                acc = dec9(r[left]) if left else 0
                if right:
                    acc += dec9(r[right])
                s_in = float(acc)
            else:
                s_in = 0.0  # leaf: left-join NULL → COALESCE(0.0)
            nxt[s] = round_repr((teleport + damping * s_in) + (damping * dm) / n, 9)
        r = nxt
        dm = float(dec9(r[m]))
    return r


_DEGREES_ORACLE = """
WITH edges AS (
    SELECT p_partkey AS src,
           (p_partkey * p_partkey) % 97 AS dst
    FROM part WHERE p_partkey >= 2
),
deg AS (
    SELECT dst AS node, COUNT(*) AS in_degree
    FROM edges GROUP BY dst
)
SELECT in_degree, COUNT(*) AS n_nodes
FROM deg
GROUP BY in_degree
"""


@q("q_graph_degrees", oracle_sql=_DEGREES_ORACLE)
def graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9+: in-degree distribution — the skew histogram a user runs on
    an edge list BEFORE choosing a closure/pagerank salting strategy.
    This query demonstrates it on a deliberately hub-skewed
    quadratic-residue graph (~97 hubs absorbing all edges), NOT the
    uniform binary tree q_graph_closure/q_graph_pagerank traverse —
    on that tree the same histogram shows in-degree <= 2 and salting
    off is the right call.

    Scale shape: two bounded hash aggs (node, then degree), both with
    map-side combine; no joins, no windows."""
    prep(spark)
    part = load(spark, sf_dir, "part")
    edges = part.where(F.col("p_partkey") >= 2).select(
        F.col("p_partkey").alias("src"),
        ((F.col("p_partkey") * F.col("p_partkey")) % 97).alias("dst"),
    )
    deg = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return deg.groupBy("in_degree").agg(F.count(F.lit(1)).alias("n_nodes"))


_AGG_STATE_ORACLE = """
SELECT o_custkey,
       COUNT(o_orderkey) AS n_orders,
       ROUND(CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(28,9))) AS DOUBLE), 2)
           AS total_spend,
       MIN(o_orderdate) AS first_order,
       MAX(o_orderdate) AS last_order
FROM orders
GROUP BY o_custkey
"""


@q("q_agg_incremental_state", oracle_sql=_AGG_STATE_ORACLE)
def agg_incremental_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4 rewrite-proof: incremental aggregate-state maintenance
    (operators/aggstate.py) graded against the plain single-shot GROUP BY
    oracle. The query slices orders into three date batches, merges each
    into a fresh on-disk state store tick by tick (partial-agg -> touched
    -key semi-probe -> merge -> partition-scoped upsert), then returns
    the final state — which must hash-equal recomputing the aggregate
    over all of history in one pass. This is the materialized-view
    maintenance pattern that keeps a daily 100 TB rollup O(delta)."""
    import tempfile

    from modevetl_spark.operators.aggstate import merge_aggregate_state

    prep(spark)
    o = load(spark, sf_dir, "orders")
    state = tempfile.mkdtemp(prefix="modevetl_aggstate_")
    # mkdtemp creates the dir; the merge path treats an empty dir as a
    # fresh store via the has-parquet-files guard
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
    return got.select(
        "o_custkey",
        "n_orders",
        F.round(F.col("total_spend").cast("double"), 2).alias("total_spend"),
        "first_order",
        "last_order",
    )


# --- Adamic-Adar link prediction over the order-part bipartite graph -----

_AA_TOPK = 25

_AA_ORACLE = f"""
WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
sz AS (SELECT ok, CAST(COUNT(*) AS BIGINT) AS s FROM b GROUP BY 1),
w AS (
    SELECT ok,
           CAST(ROUND(CAST(1 AS DOUBLE) / log2(CAST(s AS DOUBLE)), 9)
                AS DECIMAL(18,9)) AS w9
    FROM sz WHERE s >= 2
),
pairs AS (
    SELECT a.ok, a.pk AS pa, c.pk AS pb
    FROM b a JOIN b c ON c.ok = a.ok AND a.pk < c.pk
),
agg AS (
    SELECT p.pa, p.pb,
           CAST(COUNT(*) AS BIGINT) AS common_orders,
           SUM(w.w9) AS s9
    FROM pairs p JOIN w ON w.ok = p.ok
    GROUP BY 1, 2
),
deg AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS dg FROM b GROUP BY 1)
SELECT g.pa AS part_a, g.pb AS part_b, g.common_orders,
       da.dg AS deg_a, db.dg AS deg_b,
       CAST(g.common_orders AS DOUBLE)
           / (da.dg + db.dg - g.common_orders) AS jaccard,
       CAST(FLOOR(CAST(g.s9 AS DECIMAL(26,12)) * 1000000) AS BIGINT)
           AS aa_micro
FROM agg g
JOIN deg da ON da.pk = g.pa
JOIN deg db ON db.pk = g.pb
QUALIFY ROW_NUMBER() OVER (ORDER BY aa_micro DESC, part_a, part_b)
    <= {_AA_TOPK}
"""


@q("q_graph_adamic_adar", oracle_sql=_AA_ORACLE)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9+++ graph family [EXT]: Adamic-Adar link prediction (Adamic &
    Adar 2003) over the order-part bipartite graph — the standard
    related-items score that discounts each shared neighbor by its
    popularity: AA(a,b) = sum over shared orders o of 1/log2(|basket
    o|), alongside the raw common-neighbor count and the neighborhood
    Jaccard. The log2-denominated variant keeps every term a ratio of
    an exact double and an INTEGER-argument log2 (engine-identical,
    unlike log2 on rationals); terms are rounded to 9dp and accumulated
    in DECIMAL (the q_token_entropy fold), and the score is emitted as
    exact BIGINT micro-units — no order-sensitive float sum, no
    decimal-to-double cast at a ROUND boundary.

    Plan shape: baskets dedup once; pair generation is a self
    equi-join on the order key (fan-out bounded by basket size squared
    — the fixture maxes at 13; a production guard caps baskets before
    pairing, the standard market-basket discipline); the per-order
    weight joins on the same key so all three legs share the exchange;
    part degrees (|parts| rows, dimension-sized) broadcast into the
    scoring join; top-k is TakeOrdered on the exact integer score,
    never a global window. At 100 TB: cost scales with sum of squared
    basket sizes, not pairs of parts — the co-occurrence shape that
    makes basket link prediction tractable at all."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    sz = b.groupBy("ok").agg(F.count(F.lit(1)).cast("bigint").alias("s"))
    w = sz.where(F.col("s") >= 2).select(
        "ok",
        F.round(F.lit(1.0) / F.log2(F.col("s").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("w9"),
    )
    pa = b.select(F.col("ok").alias("oka"), F.col("pk").alias("pa"))
    pb = b.select(F.col("ok").alias("okb"), F.col("pk").alias("pb"))
    pairs = (
        pa.join(pb, F.col("oka") == F.col("okb"))
        .where(F.col("pa") < F.col("pb"))
        .join(w, F.col("oka") == F.col("ok"))
    )
    agg = pairs.groupBy("pa", "pb").agg(
        F.count(F.lit(1)).cast("bigint").alias("common_orders"),
        F.sum("w9").alias("s9"),
    )
    deg = b.groupBy("pk").agg(F.count(F.lit(1)).cast("bigint").alias("dg"))
    da = deg.select(F.col("pk").alias("dka"), F.col("dg").alias("deg_a"))
    db = deg.select(F.col("pk").alias("dkb"), F.col("dg").alias("deg_b"))
    return (
        agg.join(F.broadcast(da), F.col("pa") == F.col("dka"))
        .join(F.broadcast(db), F.col("pb") == F.col("dkb"))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            "common_orders",
            "deg_a",
            "deg_b",
            (
                F.col("common_orders").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common_orders"))
            ).alias("jaccard"),
            F.floor(F.col("s9").cast("decimal(26,12)") * F.lit(1000000))
            .cast("bigint")
            .alias("aa_micro"),
        )
        .orderBy(F.col("aa_micro").desc(), "part_a", "part_b")
        .limit(_AA_TOPK)
    )
