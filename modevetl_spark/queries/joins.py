"""J1-J8: the join matrix.

Qb has no general join operator — joins appear as library idioms
(``Q.unique_index`` hash lookup, ``Q.index`` multimap, frontier set
membership in ``MoDevETL/hierarchy.py``). We implement the idioms and the
full standard matrix.

Scale notes: dimension joins (nation/region/customer-at-small-sf) are
explicitly ``F.broadcast``; fact-fact joins shuffle on the key and AQE
handles skew. Semi/anti joins never materialize the probe side's payload.
The closure query uses semi-naive iteration with lineage checkpoints
(operators/closure.py).

Also here:

- ``q_join_containment`` — exact directed containment join (prefix filter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modevetl_spark.functions.compat import dsum, sql_dsum
from modevetl_spark.operators.closure import transitive_closure
from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()


_INNER_ORACLE = f"""
SELECT n_name,
       COUNT(*) AS n_customers,
       {sql_dsum('c_acctbal', 'total_acctbal')}
FROM customer
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@q("q_join_inner", oracle_sql=_INNER_ORACLE)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: Q.unique_index hash-lookup ≡ broadcast-hash inner equi-join."""
    prep(spark)
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("total_acctbal"),
        )
    )


_MULTI_ORACLE = """
SELECT s_name, p_brand, COUNT(*) AS n_lineitems
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN part ON l_partkey = p_partkey
WHERE p_size > 40
GROUP BY s_name, p_brand
"""


@q("q_join_multi", oracle_sql=_MULTI_ORACLE)
def join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: Q.index multimap (1:N expansion) ≡ plain shuffled equi-join."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    p = load(spark, sf_dir, "part").where(F.col("p_size") > 40)
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("s_name", "p_brand")
        .agg(F.count(F.lit(1)).alias("n_lineitems"))
    )


_LEFT_ORACLE = """
SELECT c_custkey,
       c_name,
       COALESCE(o.n_orders, 0) AS n_orders
FROM customer
LEFT JOIN (
    SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
) o ON c_custkey = o.o_custkey
"""


@q("q_join_left", oracle_sql=_LEFT_ORACLE)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: left lookup with default — missing key -> default 0
    (``MoDevETL/reviews.py`` idiom)."""
    prep(spark)
    c = load(spark, sf_dir, "customer")
    o = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
    )


_SEMI_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_custkey IN (
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
)
"""


@q("q_join_semi", oracle_sql=_SEMI_ORACLE)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: existence test (frontier membership) ≡ left-semi join."""
    prep(spark)
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return c.join(
        big, c.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


_ANTI_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


@q("q_join_anti", oracle_sql=_ANTI_ORACLE)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: exclusion ≡ left-anti join (customers with no orders)."""
    prep(spark)
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# Synthetic hierarchy: binary-tree parent edges over partkeys (child k ->
# parent k div 2). Deterministic, present at every sf, depth ~log2(n) — a
# faithful stand-in for the bug dependency DAG of hierarchy.py.
_CLOSURE_ORACLE = """
WITH RECURSIVE anc AS (
    SELECT p_partkey AS node, p_partkey // 2 AS ancestor
    FROM part WHERE p_partkey >= 2
    UNION
    SELECT node, ancestor // 2 FROM anc WHERE ancestor >= 2
)
SELECT ancestor, COUNT(*) AS n_descendants
FROM anc
GROUP BY ancestor
"""


@q("q_graph_closure", oracle_sql=_CLOSURE_ORACLE)
def graph_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: transitive closure fixpoint (``hierarchy.py``), semi-naive
    iteration; oracle via DuckDB WITH RECURSIVE.

    Plan shape (r13 optimization, guide §8): THIS query's edge list is
    the heap-shaped partkey tree (child k → k div 2), where
    ``n_descendants(a)`` is the ancestor's subtree size − 1 — a closed
    form over O(log M) contiguous node-id segments
    (:mod:`modevetl_spark.operators.heaptree`). When one guard
    aggregate proves the partkeys contiguous (the declared fixture
    shape), the whole path-doubling fixpoint (4 rounds × self-join +
    union + distinct, ~13 Spark jobs at sf0.1) is replaced by
    ``spark.range(1, M div 2 + 1)`` broadcast-range-joined to the ≤
    3·log₂M-row segment table — one parallel generate, zero iterative
    shuffles, and at 100 TB the guard pass is the only data-sized work.
    Non-contiguous (hostile-twin) inputs fail the guard and take the
    unchanged semi-naive operator path."""
    prep(spark)
    from modevetl_spark.operators.graph import partkey_tree_edges
    from modevetl_spark.operators.heaptree import (
        contiguous_partkey_max,
        size_segments,
    )

    part = load(spark, sf_dir, "part")
    m = contiguous_partkey_max(part)
    if m is not None:
        segs = [
            (lo, min(hi, m // 2), size - 1)
            for lo, hi, size in size_segments(m)
            if lo <= m // 2 and size > 1
        ]
        seg_df = spark.createDataFrame(
            segs, "lo long, hi long, n_descendants long"
        )
        return (
            spark.range(1, m // 2 + 1)
            .join(
                F.broadcast(seg_df),
                (F.col("id") >= F.col("lo")) & (F.col("id") <= F.col("hi")),
            )
            .select(F.col("id").alias("ancestor"), "n_descendants")
        )
    edges = partkey_tree_edges(part).select(
        F.col("src").alias("node"), F.col("dst").alias("ancestor")
    )
    closure = transitive_closure(edges, src="node", dst="ancestor")
    return closure.groupBy("ancestor").agg(
        F.count(F.lit(1)).alias("n_descendants")
    )


_RANGE_ORACLE = """
WITH periods AS (
    SELECT unnest(['w1', 'w2', 'w3', 'w4']) AS period,
           unnest([TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-08',
                   TIMESTAMP '2024-01-15', TIMESTAMP '2024-01-22']) AS lo,
           unnest([TIMESTAMP '2024-01-08', TIMESTAMP '2024-01-15',
                   TIMESTAMP '2024-01-22', TIMESTAMP '2024-01-29']) AS hi
)
SELECT p.period, e.event_type, COUNT(*) AS n_events
FROM events e
JOIN periods p ON CAST(e.ts AS TIMESTAMP) >= p.lo AND CAST(e.ts AS TIMESTAMP) < p.hi
GROUP BY p.period, e.event_type
"""


@q("q_join_range", oracle_sql=_RANGE_ORACLE)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 [EXT]: interval/range join — events into named time periods.

    The period table is tiny -> broadcast nested-loop join, which is
    exactly the right physical strategy at any scale (the alternative, a
    shuffle on a range key, needs binning; see q_events_tumbling for the
    binned form).
    """
    prep(spark)
    ev = load(spark, sf_dir, "events")
    rows = []
    starts = ["2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22", "2024-01-29"]
    for i in range(4):
        rows.append((f"w{i + 1}", starts[i], starts[i + 1]))
    periods = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(p).alias("period"),
                            F.to_timestamp(F.lit(lo)).alias("lo"),
                            F.to_timestamp(F.lit(hi)).alias("hi"),
                        )
                        for p, lo, hi in rows
                    ]
                )
            ).alias("x")
        )
        .select("x.*")
    )
    return (
        ev.join(
            F.broadcast(periods),
            (ev.ts >= periods.lo) & (ev.ts < periods.hi),
        )
        .groupBy("period", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_ASOF_ORACLE = """
SELECT p.event_id,
       CAST(p.ts AS TIMESTAMP) AS ts,
       p.user_id,
       (SELECT CAST(max(c.ts) AS TIMESTAMP) FROM events c
        WHERE c.user_id = p.user_id
          AND c.event_type = 'click'
          AND c.ts <= p.ts) AS last_click_ts
FROM events p
WHERE p.event_type = 'purchase'
"""


@q("q_join_asof", oracle_sql=_ASOF_ORACLE)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 [EXT]: as-of join — latest prior click per purchase, via the
    union + running-max window idiom (single shuffle on user_id; no
    row-at-a-time probing). RANGE frame so equal timestamps match the
    oracle's <= semantics."""
    prep(spark)
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("last_click_ts", last_click)
        .where(F.col("event_type") == "purchase")
        .select("event_id", "ts", "user_id", "last_click_ts")
    )


_THETA_ORACLE = """
SELECT a.r_name AS region_a, b.r_name AS region_b
FROM region a
JOIN region b ON a.r_regionkey < b.r_regionkey
"""


@q("q_join_theta", oracle_sql=_THETA_ORACLE)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 [EXT]: theta join (cross join + inequality predicate)."""
    prep(spark)
    r = load(spark, sf_dir, "region")
    a = r.select(F.col("r_regionkey").alias("ka"), F.col("r_name").alias("region_a"))
    b = r.select(F.col("r_regionkey").alias("kb"), F.col("r_name").alias("region_b"))
    return a.crossJoin(b).where(F.col("ka") < F.col("kb")).select(
        "region_a", "region_b"
    )


# --- Exact containment join via lossless prefix filter ------------------

_T_CONTAIN = 0.6

_CONTAIN_JOIN_ORACLE = rf"""
WITH w AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '') AS w
    FROM documents
),
toks AS (
    SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tok
        FROM w, UNNEST(range(1, GREATEST(len(w) - 1, 1))) AS t(i)
        WHERE i + 2 <= len(w)
    )
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1),
inter AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS shared
    FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
)
SELECT i.a_id, i.b_id, i.shared,
       ROUND(CAST(i.shared AS DOUBLE) / sa.n, 6) AS containment
FROM inter i JOIN sizes sa ON sa.doc_id = i.a_id
WHERE CAST(i.shared AS DOUBLE) / sa.n >= CAST({_T_CONTAIN} AS DOUBLE)
"""


@q("q_join_containment", oracle_sql=_CONTAIN_JOIN_ORACLE)
def join_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7+/L1+ [EXT]: exact DIRECTED containment join — every ordered
    pair (A, B) with trigram-shingle-set containment |A∩B|/|A| ≥ t={T},
    via the LOSSLESS prefix filter. ``q_text_containment`` is the
    heuristic sibling (df-banded shingles — the band is part of its
    semantics and pairs witnessed only by df=1 or boilerplate shingles
    are invisible to it); this is the exact algorithmic one: if
    C(A→B) ≥ t then fewer than |A| − ⌈t·|A|⌉ + 1 of A's shingles miss
    B, so A's prefix of that length (shingles ordered rarest-global-df
    first) provably shares a shingle with B — candidates from
    (A-prefix ⋈ B-full) lose nothing, and the oracle stays plain
    all-pairs SQL. Shingle (not single-word) sets are the semantics:
    word sets over a shared vocabulary make near-universal containment
    (measured: 201k of 250k ordered pairs at t=0.6 on this fixture),
    while 3-shingles are near-unique so containment means quotation.

    Asymmetry matters: the probe side prefixes, the indexed side keeps
    FULL postings (containment can't truncate B losslessly). The
    df-first token order makes prefixes the RAREST tokens of each set,
    so hot-token postings only join against the few probes whose whole
    set is hot — the expected-cost argument of All-Pairs/PPJoin.
    Containment divides two integers — one exact IEEE op,
    engine-identical (and t·|A| is one double multiply both engines
    evaluate identically).

    Plan shape: one explode → token-keyed df agg; prefix rank is a
    doc-partitioned window (balanced); candidate generation is a
    token-keyed equi-join probe-prefix × full-postings; verification
    joins the ≤|cand| pairs back to the per-doc token arrays by id and
    intersects in-task. At 100 TB postings would be bucketed by token
    (``DataFrameWriter.bucketBy``) making the candidate join
    co-located."""
    from modevetl_spark.operators._util import spread
    from modevetl_spark.operators.text import tokens, word_shingles

    prep(spark)
    d = spread(load(spark, sf_dir, "documents"))
    docs = d.select(
        "doc_id",
        F.array_distinct(word_shingles(tokens("text"), 3)).alias("toks"),
    ).withColumn("n", F.size("toks"))
    sets = docs.select("doc_id", "n", F.explode("toks").alias("tok"))
    docfreq = sets.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = sets.join(docfreq, "tok").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("tok"))
        ),
    )
    prefix_len = F.col("n") - F.ceil(F.lit(_T_CONTAIN) * F.col("n")) + 1
    prefix = ranked.where(F.col("rn") <= prefix_len).select("doc_id", "tok")
    a = prefix.select(F.col("doc_id").alias("a_id"), "tok")
    b = sets.select(F.col("doc_id").alias("b_id"), "tok")
    cand = (
        a.join(b, on="tok")
        .where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    ta = docs.select(
        F.col("doc_id").alias("a_id"),
        F.col("toks").alias("ta"),
        F.col("n").alias("n_a"),
    )
    tb = docs.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("tb"))
    shared = F.size(F.array_intersect("ta", "tb")).cast("bigint")
    # try_divide: a zero-token a-side (dirty data — empty text under a
    # duplicated doc_id) yields NULL instead of an ANSI DIVIDE_BY_ZERO
    # job abort; NULL >= threshold is NULL, so the pair drops on both
    # engines (DuckDB's / is NULL on zero denominators too).
    containment = F.try_divide(shared.cast("double"), F.col("n_a"))
    return (
        cand.join(ta, "a_id")
        .join(tb, "b_id")
        .where(containment >= F.lit(_T_CONTAIN))
        .select(
            "a_id",
            "b_id",
            shared.alias("shared"),
            F.round(containment, 6).alias("containment"),
        )
    )


join_containment.__doc__ = join_containment.__doc__.format(T=_T_CONTAIN)
