"""Round-5 breadth, part 4: corpus-curation ML shapes — deterministic
Lloyd k-means over the embedding table (full external replay, the
pagerank discipline applied to an iterative ML loop), cosine range
search (all pairs above a similarity threshold under metadata blocking),
C4-style paragraph-level exact dedup (segment hashing with global
first-occurrence survivorship), and the batch twin of the stream-stream
attribution interval join.

Reference parity: the upstream engine has no ML surface — these are the
[EXT] training-data-pipeline operators the task brief makes first-class
(dedup families, similarity search, text curation) extended to the
clustering / threshold-search / attribution shapes a 100 TB corpus run
needs.

Float discipline: distance and dot-product terms are rounded to 12dp
into DECIMAL(38,12) and folded in ARRAY ORDER — deterministic but NOT
an exact sum (the r13 finding: every fold step is HALF_UP-rounded at
11dp by the precision-loss retype; see clustering.dec_fold_sum), and
the oracles replay the fold STEPWISE (``_STEPWISE_FOLD``). Means and
final scores divide/round the decimal total exactly like `davg`;
cosine's sqrt/divide are single correctly-rounded IEEE ops over
bit-identical operands. See `operators/clustering.py` for the replay
argument.

Also here:

- ``q_embedding_pca`` — top principal component by power iteration.
- ``q_model_calibration`` — reliability diagram and expected calibration error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modevetl_spark.functions.jvmnum import round_repr
from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()

_DEC = "decimal(38,12)"

# The engine's dec_fold_sum is NOT an exact sum (r13 finding): every
# fold step's DECIMAL(38,12)+DECIMAL(38,12) add is re-typed (38,11) by
# Spark's precision-loss rule, HALF_UP-rounding the running sum at 11dp
# per element. The r13 oracles wrote SUM(CAST(...)) and matched only
# because the graded surfaces' output rounding hid the
# ~5e-12-per-element drift — r14 replays the fold STEPWISE
# (list_reduce with ROUND(acc+x, 11); DuckDB's decimal ROUND is
# half-away-from-zero = Java HALF_UP, and its (38,12) add is exact, so
# each step is bit-equal), closing the latent boundary fragility pinned
# by tests/test_ml.py::test_range_search_oracle_replays_stepwise_fold.
_STEPWISE_FOLD = (
    "list_reduce(list_prepend(CAST(0 AS DECIMAL(38,12)), {terms}), "
    "(acc, x) -> CAST(ROUND(acc + x, 11) AS DECIMAL(38,12)))"
)


# --- deterministic Lloyd k-means (full external replay) -----------------


def _kmeans_oracle_sql(k: int = 4, iterations: int = 2, dims: int = 64) -> str:
    """Unrolls operators/clustering.kmeans_lloyd CTE-per-iteration (the
    pagerank oracle pattern): assignment = STEPWISE-folded decimal
    squared distances (r14 — the engine's dec_fold_sum HALF_UP-rounds
    the running sum at 11dp per element, so the oracle replays the fold
    with list_reduce + ROUND(acc+x, 11) instead of the r13 SUM whose
    ~5e-12/element drift could flip an argmin whose two distances tie
    within it; see ml._STEPWISE_FOLD) + ROW_NUMBER argmin with
    cluster-id tie-break; update = decimal-exact per-dim mean rounded
    to 9dp (the engine's posexplode+SUM update IS an exact sum — only
    the distance fold is stepwise)."""
    idx = "t.i+1"  # cstep's per-dim mean still joins the dim table
    dist_terms = (
        "list_transform(range(1, greatest(len(e.v), len(c.v)) + 1), "
        "i -> CAST(ROUND((e.v[i]-c.v[i])*(e.v[i]-c.v[i]), 12)"
        " AS DECIMAL(38,12)))"
    )
    dist = (
        "CASE WHEN e.v IS NULL OR c.v IS NULL THEN NULL ELSE "
        + _STEPWISE_FOLD.format(terms=dist_terms)
        + " END"
    )
    sql = [
        f"""WITH emb AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
dim AS (SELECT UNNEST(range({dims})) AS i),
c0 AS MATERIALIZED (
    SELECT CAST(vec_id AS INTEGER) AS cluster, v FROM emb WHERE vec_id < {k}
)"""
    ]
    astep = """a{n} AS MATERIALIZED (
    SELECT vec_id, cluster, d FROM (
        SELECT vec_id, cluster, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM (
            SELECT e.vec_id, c.cluster, {dist} AS d
            FROM emb e CROSS JOIN c{p} c
        )
    ) WHERE rn = 1
)"""
    cstep = """c{n} AS MATERIALIZED (
    SELECT cluster, list(m ORDER BY dm) AS v FROM (
        SELECT a.cluster, t.i AS dm,
               ROUND(CAST(SUM(CAST(ROUND(e.v[{idx}], 12) AS DECIMAL(38,12)))
                          AS DOUBLE) / COUNT(*), 9) AS m
        FROM a{n} a JOIN emb e USING (vec_id) CROSS JOIN dim t
        GROUP BY 1, 2
    ) GROUP BY cluster
)"""
    for n in range(1, iterations + 1):
        sql.append(astep.format(n=n, p=n - 1, dist=dist))
        sql.append(cstep.format(n=n, idx=idx))
    sql.append(astep.format(n=iterations + 1, p=iterations, dist=dist))
    # the graded surface is the ASSIGNMENT (decided by exact decimal
    # compares — engine-portable); the squared distance itself is
    # operator-internal because its decimal→double cast can land on an
    # exact .5 rounding boundary where the engines' casts disagree by
    # 1 ulp (observed once in 500 rows at 8dp)
    return (
        ",\n".join(sql)
        + f"""
SELECT vec_id, cluster
FROM a{iterations + 1}"""
    )


@q("q_kmeans_clusters", oracle_sql=_kmeans_oracle_sql())
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+ [EXT]: 2 Lloyd iterations of k-means (k=4) over the corpus
    embeddings, seeded from the first k vectors — the topic-bucketing /
    domain-balancing step of a curation pipeline, run as a fixed
    deterministic recurrence the DuckDB oracle replays CTE-per-iteration
    (see operators/clustering.py for the exactness argument and the
    per-iteration shuffle shape)."""
    prep(spark)
    from modevetl_spark.operators.clustering import kmeans_lloyd

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    out = kmeans_lloyd(emb, id_col="vec_id", vec_col="v", k=4, iterations=2)
    return out.select("vec_id", "cluster")


# --- cosine range search under metadata blocking ------------------------

_RANGE_TAU = 0.25

_RANGE_ORACLE = f"""
WITH emb AS MATERIALIZED (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
normed AS MATERIALIZED (
    SELECT vec_id, label, v,
           -- NULL-vector guard: Spark's transform+aggregate over a NULL
           -- array is NULL, while list_prepend(0, NULL) would fold to 0
           CASE WHEN v IS NULL THEN NULL ELSE
           ROUND(CAST({_STEPWISE_FOLD.format(terms=(
               "list_transform(v, x -> "
               "CAST(ROUND(x*x, 12) AS DECIMAL(38,12)))"
           ))} AS DOUBLE), 12) END AS nrm
    FROM emb
),
pairs AS (
    -- the range(1, greatest(len)) index mirrors Spark's zip_with
    -- NULL-padding: any length mismatch poisons the fold to NULL
    SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label,
           CASE WHEN a.v IS NULL OR b.v IS NULL THEN NULL ELSE
           ROUND(CAST({_STEPWISE_FOLD.format(terms=(
               "list_transform(range(1, greatest(len(a.v), len(b.v)) + 1), "
               "i -> CAST(ROUND(a.v[i]*b.v[i], 12) AS DECIMAL(38,12)))"
           ))} AS DOUBLE), 12) END AS dot,
           a.nrm AS na, b.nrm AS nb
    FROM normed a
    JOIN normed b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT a_id, b_id, CAST(label AS BIGINT) AS label,
       ROUND(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine
FROM pairs
WHERE ROUND(dot / (sqrt(na) * sqrt(nb)), 6) >= {_RANGE_TAU}
"""


@q("q_sim_range_search", oracle_sql=_RANGE_ORACLE)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+ [EXT]: all embedding pairs with cosine >= 0.25, blocked by
    the label column — threshold similarity search (the "find every
    near-neighbor", not top-k, face of ANN; near-dup mining and
    contrastive-pair harvesting both want this shape).

    Plan shape: norms are computed per row BEFORE the self-join (a
    narrow fold, no shuffle), so the join carries (vector, norm) once;
    blocking on the label equi-key bounds the quadratic blowup to
    within-block pairs — the same candidate-bounding contract as the
    LSH/IVF dedup family, with the blocking key here a trusted metadata
    column. The per-pair dot product is a JVM-side fold (no explode, no
    UDF). At 100 TB you'd bucket the table by label once
    (``DataFrameWriter.bucketBy``) and this join becomes exchange-free;
    a block too hot to pair-expand is exactly the IVF-cell-split problem and is
    handled upstream of this operator."""
    prep(spark)
    from modevetl_spark.functions.jvmnum import dec_fold_sum

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    nrm = F.round(
        dec_fold_sum(
            F.transform(F.col("v"), lambda x: F.round(x * x, 12).cast(_DEC))
        ).cast("double"),
        12,
    )
    normed = emb.select("vec_id", "label", "v", nrm.alias("nrm"))
    a = normed.select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("label"),
        F.col("v").alias("av"),
        F.col("nrm").alias("na"),
    )
    b = normed.select(
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("b_label"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("nb"),
    )
    dot = F.round(
        dec_fold_sum(
            F.zip_with(
                F.col("av"), F.col("bv"), lambda x, y: F.round(x * y, 12).cast(_DEC)
            )
        ).cast("double"),
        12,
    )
    pairs = a.join(
        b,
        (F.col("label") == F.col("b_label")) & (F.col("a_id") < F.col("b_id")),
    ).select(
        "a_id",
        "b_id",
        F.col("label").cast("long").alias("label"),
        # try_divide: a zero-norm vector (empty or all-zero embedding in
        # dirty data) yields NULL cosine instead of an ANSI
        # DIVIDE_BY_ZERO job abort; NULL >= tau drops the pair on both
        # engines (DuckDB's / is NULL on zero denominators too).
        F.round(
            F.try_divide(dot, F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))), 6
        ).alias("cosine"),
    )
    return pairs.where(F.col("cosine") >= _RANGE_TAU)


# --- C4-style paragraph-level exact dedup -------------------------------

_SEG_WORDS = 10

_PARA_ORACLE = f"""
WITH segs AS MATERIALIZED (
    SELECT doc_id, CAST(g AS BIGINT) AS seg_idx,
           array_to_string(w[(g*{_SEG_WORDS}+1):(g*{_SEG_WORDS}+{_SEG_WORDS})], ' ')
             AS seg_text
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         UNNEST(range(CAST(ceil(len(w)/{_SEG_WORDS}.0) AS BIGINT))) AS t(g)
),
ranked AS (
    SELECT doc_id, seg_idx, seg_text,
           ROW_NUMBER() OVER (PARTITION BY seg_text
                              ORDER BY doc_id, seg_idx) AS rn
    FROM segs
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CASE WHEN SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0
            THEN md5(string_agg(seg_text, ' ' ORDER BY seg_idx)
                     FILTER (WHERE rn = 1))
       END AS kept_md5
FROM ranked
GROUP BY doc_id
"""


@q("q_dedup_paragraph", oracle_sql=_PARA_ORACLE)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+ [EXT]: C4-style sub-document exact dedup — split every doc
    into {_SEG_WORDS}-word segments, keep only each segment's globally
    FIRST occurrence (by doc_id then position), and report per doc how
    many segments survived plus an md5 of the stitched surviving text.
    This is the "three-sentence span repeated across the crawl" filter
    that document-level dedup can't see.

    Plan shape: segmentation is a per-row JVM transform (split →
    fixed-width slices — no shuffle); the survivorship decision is ONE
    hash exchange partitioned on the segment text, which at 100 TB you
    run on the segment HASH + (doc, idx) triple, not the payload — the
    reassembly here carries seg_text through the same exchange because
    the output wants the stitched text, and the fixture's segments are
    the size of their hashes; with real documents you'd re-derive
    surviving text by joining the winner set back onto the
    doc-partitioned segment stream (same two-shuffle budget as
    dedup_corpus). The per-doc stitch is an ordered fold inside one
    aggregation."""
    prep(spark)
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(words) / F.lit(float(_SEG_WORDS))).cast("int")
    seg_arr = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(
            F.slice(words, i * _SEG_WORDS + 1, _SEG_WORDS), " "
        ),
    )
    segs = d.select(
        "doc_id", F.posexplode(seg_arr).alias("seg_idx", "seg_text")
    ).select("doc_id", F.col("seg_idx").cast("long").alias("seg_idx"), "seg_text")
    w = Window.partitionBy("seg_text").orderBy("doc_id", "seg_idx")
    ranked = segs.withColumn("rn", F.row_number().over(w))
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("rn") == 1, F.struct("seg_idx", "seg_text"))
            )
        ),
        lambda t: t.seg_text,
    )
    n_kept = F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long")
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segs"),
        n_kept.alias("n_kept"),
        F.when(
            n_kept > 0, F.md5(F.array_join(kept_sorted, " "))
        ).alias("kept_md5"),
    )


# --- batch twin of the stream-stream attribution join -------------------

_ATTR_ORACLE = """
WITH cand AS (
    SELECT b.event_id AS buy_id, b.user_id,
           CAST(b.ts AS TIMESTAMP) AS buy_ts,
           c.event_id AS click_id, CAST(c.ts AS TIMESTAMP) AS click_ts
    FROM events b
    JOIN events c
      ON c.user_id = b.user_id
     AND c.event_type = 'click'
     AND CAST(c.ts AS TIMESTAMP) <= CAST(b.ts AS TIMESTAMP)
     AND CAST(c.ts AS TIMESTAMP) >= CAST(b.ts AS TIMESTAMP) - INTERVAL 1 HOUR
    WHERE b.event_type = 'purchase'
)
SELECT buy_id, user_id, buy_ts,
       CAST(COUNT(*) AS BIGINT) AS n_clicks,
       MAX(click_ts) AS last_click_ts,
       MAX(CASE WHEN rn = 1 THEN click_id END) AS last_click_id
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY buy_id
                                 ORDER BY click_ts DESC, click_id DESC) AS rn
    FROM cand
)
GROUP BY 1, 2, 3
"""


@q("q_attribution_last_touch", oracle_sql=_ATTR_ORACLE)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 batch twin: every purchase with its preceding-hour click
    candidate count and last-touch click — THE SAME join expression the
    Structured Streaming face runs (streaming/structured.attribution_join
    is called directly; withWatermark is a no-op on a batch frame), so
    the graded values pin the streaming topology's semantics too.

    Plan shape: one user-keyed shuffle per side of the interval join
    (the equi part), range predicate as the join filter, then the
    last-touch reduction groups on the purchase key that the join
    output is already clustered by. Spark guarantees batch/stream
    inner-join parity for this topology; the streaming run's state
    eviction (watermarks both sides) is exercised in
    tests/test_streaming.py."""
    prep(spark)
    from modevetl_spark.streaming.structured import attribution_join

    ev = load(spark, sf_dir, "events")
    cand = attribution_join(ev)
    return cand.groupBy(
        F.col("buy_id"), F.col("user_id"), F.col("buy_ts")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_clicks"),
        F.max("click_ts").alias("last_click_ts"),
        F.max(F.struct("click_ts", "click_id"))["click_id"].alias(
            "last_click_id"
        ),
    )


# --- Power-iteration top principal component of the embeddings ------------

_PCA_D = 64  # embedding dimensionality
_PCA_T = 6  # fixed power-iteration count (parity > convergence, like pagerank)


def _pca_oracle_sql(iterations: int = _PCA_T) -> str:
    """Unrolls the power iteration into chained MATERIALIZED CTEs, one
    per step (the q_graph_pagerank oracle pattern) — but with a STRICTER
    float discipline than pagerank's round-and-cast: every quantization
    is FLOOR(x·10^n) into an exact BIGINT, and every value re-enters the
    float domain as BIGINT/10^n (both exact in both engines), so NO
    decimal→double cast of a >9dp decimal exists anywhere. The first
    sf0.1 run of the round-and-cast form hit the .5-boundary cast trap
    (a matvec DECIMAL sum ending in …500 at 12dp split the engines'
    casts by 1 ulp, and the norm division amplified the flip to 5e-8 in
    the vector) — the all-integer form makes that structurally
    impossible."""
    d1 = _PCA_D + 1
    sql = [
        f"""WITH e AS MATERIALIZED (
    SELECT CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
nn AS (SELECT COUNT(*) AS n FROM e),
idx AS (SELECT UNNEST(range(1, {d1})) AS j),
sums AS MATERIALIZED (
    SELECT i.j AS j,
           SUM(CAST(ROUND(e.x[i.j], 9) AS DECIMAL(18,9))) AS s
    FROM e CROSS JOIN idx i GROUP BY 1
),
m AS MATERIALIZED (
    SELECT i.j AS j, k.k AS k,
           SUM(CAST(ROUND(e.x[i.j] * e.x[k.k], 9) AS DECIMAL(18,9))) AS m
    FROM e CROSS JOIN idx i
    CROSS JOIN (SELECT UNNEST(range(1, {d1})) AS k) k
    GROUP BY 1, 2
),
cov AS MATERIALIZED (
    SELECT m.j, m.k,
           CAST(FLOOR((ROUND(CAST(m.m AS DOUBLE), 9)
                       - ROUND(CAST(sj.s AS DOUBLE), 9)
                         * ROUND(CAST(sk.s AS DOUBLE), 9) / nn.n)
                      / nn.n * 1.0e9) AS BIGINT) AS cn
    FROM m
    JOIN sums sj ON sj.j = m.j
    JOIN sums sk ON sk.j = m.k
    CROSS JOIN nn
),
v0 AS MATERIALIZED (SELECT j, 0.125e0 AS v FROM idx)"""
    ]
    step = """w{t} AS MATERIALIZED (
    SELECT c.j,
           CAST(SUM(CAST(FLOOR(CAST(c.cn AS DOUBLE) / 1.0e9 * v.v * 1.0e12)
                         AS BIGINT)) AS DOUBLE) / 1.0e12 AS w
    FROM cov c JOIN v{p} v ON v.j = c.k GROUP BY 1
),
n{t} AS (
    SELECT SQRT(CAST(SUM(CAST(FLOOR(w.w * w.w * 1.0e12) AS BIGINT))
                     AS DOUBLE) / 1.0e12) AS nrm
    FROM w{t} w
),
v{t} AS MATERIALIZED (
    SELECT w.j,
           CAST(CAST(FLOOR(w.w / s.nrm * 1.0e9) AS BIGINT) AS DOUBLE)
               / 1.0e9 AS v
    FROM w{t} w CROSS JOIN n{t} s
)"""
    for t in range(1, iterations + 1):
        sql.append(step.format(t=t, p=t - 1))
    last = f"v{iterations}"
    sql.append(
        f"""wf AS MATERIALIZED (
    SELECT c.j,
           CAST(SUM(CAST(FLOOR(CAST(c.cn AS DOUBLE) / 1.0e9 * v.v * 1.0e12)
                         AS BIGINT)) AS DOUBLE) / 1.0e12 AS w
    FROM cov c JOIN {last} v ON v.j = c.k GROUP BY 1
),
lam AS (
    SELECT CAST(FLOOR(CAST(SUM(CAST(FLOOR(v.v * w.w * 1.0e12) AS BIGINT))
                           AS DOUBLE) / 1.0e6) AS BIGINT) AS lambda_micro
    FROM {last} v JOIN wf w ON w.j = v.j
),
tr AS (
    SELECT CAST(FLOOR(CAST(SUM(cn) AS DOUBLE) / 1.0e3) AS BIGINT)
               AS trace_micro
    FROM cov WHERE j = k
),
sgn AS (
    SELECT CASE WHEN v >= 0 THEN 1.0e0 ELSE -1.0e0 END AS s
    FROM {last} ORDER BY ABS(v) DESC, j LIMIT 1
)
SELECT CAST(v.j AS BIGINT) AS dim,
       g.s * v.v AS loading,
       lam.lambda_micro, tr.trace_micro,
       CAST(lam.lambda_micro AS DOUBLE) / tr.trace_micro AS explained_share
FROM {last} v CROSS JOIN sgn g CROSS JOIN lam CROSS JOIN tr"""
    )
    return ",\n".join(sql)


@q("q_embedding_pca", oracle_sql=_pca_oracle_sql())
def embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+19 [EXT]: top principal component of the embedding corpus by
    POWER ITERATION (Mises & Pollaczek-Geiringer 1929; the classic
    first step of corpus diagnostics — dominant-direction share,
    anisotropy checks, whitening) — the iterative-linear-algebra shape
    beside k-means and PageRank, fully oracle-replayed.

    One corpus pass builds the D²-bounded second-moment matrix: each
    row explodes ROW-LOCALLY to its D² (j,k,x_j·x_k) products (no
    self-join, no shuffle before the partial agg), products round at
    9dp into DECIMAL and sum exactly. From there EVERYTHING is
    integer-quantized: covariance entries are FLOOR(tree·10⁹) BIGINTs,
    each matvec term FLOOR(c·v·10¹²) BIGINT summed EXACTLY as BIGINT
    (order-free, no decimal), the norm likewise, and every vector
    component re-enters as BIGINT/10⁹ — an exact double. This is
    deliberately STRICTER than the pagerank round-and-cast discipline:
    the first sf0.1 run hit the .5-boundary decimal→double cast trap
    (a matvec sum ending …500 at 12dp split the casts 1 ulp; dividing
    by the norm ≈ 0.02 amplified it to 5e-8 in the vector), and the
    all-integer form makes the trap structurally impossible rather
    than improbable. {T} fixed iterations is the contract (parity over
    convergence, like pagerank's 10); the Rayleigh quotient — emitted
    as exact micro-units with the trace — stabilizes much faster than
    the vector. The loading vector is sign-canonicalized (largest-
    |component| entry non-negative, ties to the lowest dim) and
    emitted RAW — already quantized, so an output ROUND could only
    re-open the boundary (the round-5 lesson).

    Plan shape: ONE data-sized pass — and only the UPPER TRIANGLE of
    it: the moment matrix is symmetric and ROUND(x_j·x_k, 9) is
    commutative, so each row explodes to its D(D+1)/2 j ≤ k products
    (a slice-bounded second posexplode) and the lower triangle is
    mirrored AFTER the aggregate on the {D}²-bounded relation —
    halving the data-sized explode/fold/exchange, bit-identical
    values. Everything after is {D}²-bounded and runs as a DRIVER-side
    replay of the identical arithmetic (r13 optimization, guide §8
    "decide with small rows"): the covariance — three integers per
    (j,k), bounded by the constant D, the sketch-state collect class —
    is collected once and the fixed-point loop executes in plain
    Python, bit-identical by construction (see ``_pca_replay``). That
    removes the ~20 per-iteration scheduler round-trips (broadcast
    matvec joins, one-row norm aggregates, per-step localCheckpoints)
    the in-DAG form paid; at 100 TB the cost is the single
    half-triangle corpus pass; the iteration tier never touches data
    again (and never did)."""
    prep(spark)
    rows = _pca_partials_df(spark, sf_dir).collect()
    cov = _pca_cov_from_partials(rows)
    out_schema = (
        "dim bigint, loading double, lambda_micro bigint, "
        "trace_micro bigint, explained_share double"
    )
    return spark.createDataFrame(_pca_replay(cov), out_schema)


def _pca_partials_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus pass as ONE Arrow-vectorized map + one tiny keyed
    aggregate (guide §4.2: hand whole batches to numpy instead of a
    31M-row explode through JVM BigDecimal folds — measured 2.6 s →
    ~0.1 s at sf0.1 for the fold itself, and the former single-split
    scan bottleneck is spread across the session's cores first, guide
    §2.5/§6).

    Emits (j, k, u, c): for k >= 1 the upper-triangle moment partials
    (u = Σ nano-units of ROUND(x_j·x_k, 9), c = count of non-NULL
    terms), for k = 0 the per-dim sum partials of ROUND(x_j, 9), and
    for (0, 0) the total row count. The per-product nano-unit integer
    equals the old ``ROUND(x_j·x_k, 9) CAST DECIMAL(18,9)`` term
    EXACTLY: ``_pca_units`` reproduces BigDecimal HALF_UP rounding with
    a Dekker two-product plus an exact-Decimal recheck of every value
    within 1e-6 of a rounding boundary, NULL/NaN/±inf terms drop out of
    both u and c exactly like the decimal cast's NULL, and a finite
    product at DECIMAL(18,9) overflow magnitude raises like the old
    ANSI cast did. The keyed aggregate keeps the driver collect bounded
    at D²+D+1 rows whatever the partition count."""
    e = (
        load(spark, sf_dir, "embeddings")
        .select("embedding")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return (
        e.mapInArrow(_pca_fold_batches, "j int, k int, u long, c long")
        .groupBy("j", "k")
        .agg(F.sum("u").alias("u"), F.sum("c").alias("c"))
    )


embedding_pca.__doc__ = embedding_pca.__doc__.format(D=_PCA_D, T=_PCA_T)


def _pca_units_exact(p: float) -> int:
    """BigDecimal-exact nano-units of one double: the integer u with
    ROUND(p, 9) == u/1e9 — HALF_UP on p's SHORTEST decimal repr (the
    JVM ``BigDecimal.valueOf`` path; see ``jvmnum.round_repr`` and its probe
    battery — the exact-expansion form diverges on half-ulp boundary
    doubles, which are precisely the values the Dekker fast path routes
    here). Raises on DECIMAL(18,9) overflow exactly where the old ANSI
    cast did."""
    import decimal

    q = decimal.Decimal(repr(p)).quantize(
        decimal.Decimal("1E-9"), rounding=decimal.ROUND_HALF_UP
    )
    if abs(q) >= decimal.Decimal(10**9):
        raise ArithmeticError(
            "NUMERIC_VALUE_OUT_OF_RANGE: value out of DECIMAL(18,9) "
            "range in the PCA moment fold (the pre-r13 ANSI decimal "
            "cast raised on the same input)"
        )
    return int(q.scaleb(9))


def _pca_units(p):
    """Vectorized nano-units of a float64 array, bit-equal to mapping
    ``_pca_units_exact`` over it: a Dekker two-product gives the EXACT
    error of p·1e9, so the half-up decision is certain except within
    1e-6 of a .5 boundary (float error there is ≤ ~1e-15), and every
    flagged element — boundary ties AND near-overflow magnitudes — is
    recomputed through the exact-Decimal scalar path. Non-finite
    entries (NULL elements arrive as NaN; NaN/±inf products) yield
    (0, False): the old decimal cast made them NULL, which a SUM skips
    — identical contribution, and the False feeds the non-NULL term
    count."""
    import numpy as np

    fin = np.isfinite(p)
    pf = np.where(fin, p, 0.0)
    b9 = 1.0e9
    split = 134217729.0  # 2^27 + 1 (Dekker)
    c = split * b9
    b_hi = c - (c - b9)
    b_lo = b9 - b_hi
    hi = pf * b9
    ca = split * pf
    a_hi = ca - (ca - pf)
    a_lo = pf - a_hi
    lo = ((a_hi * b_hi - hi) + a_hi * b_lo + a_lo * b_hi) + a_lo * b_lo
    base = np.floor(hi)
    frac = (hi - base) + lo
    up = (frac > 0.5) | ((frac == 0.5) & (pf > 0.0))
    u = (base + up).astype(np.int64)
    # exact-Decimal recheck: boundary ties and overflow-range values
    risky = fin & ((np.abs(frac - 0.5) < 1e-6) | (np.abs(pf) >= b9 - 1.0))
    if risky.any():
        for idx in np.argwhere(risky):
            t = tuple(idx)
            u[t] = _pca_units_exact(float(pf[t]))
    u[~fin] = 0
    return u, fin


def _pca_fold_batches(batches):
    """mapInArrow worker: accumulate the upper-triangle moment partials
    of this partition's embedding rows entirely in numpy (one
    column-sweep per dim — no per-row Python), then emit one small
    record batch of (j, k, u, c) partials; see ``_pca_partials_df``."""
    import numpy as np
    import pyarrow as pa

    L = 0
    cnt = 0
    acc_u: dict[int, "np.ndarray"] = {}
    acc_c: dict[int, "np.ndarray"] = {}
    su = np.zeros(0, dtype=np.int64)
    sc = np.zeros(0, dtype=np.int64)

    def _grow(new_l: int) -> None:
        nonlocal L, su, sc
        if new_l <= L:
            return
        for j in range(L):
            acc_u[j] = np.concatenate(
                [acc_u[j], np.zeros(new_l - L, dtype=np.int64)]
            )
            acc_c[j] = np.concatenate(
                [acc_c[j], np.zeros(new_l - L, dtype=np.int64)]
            )
        for j in range(L, new_l):
            acc_u[j] = np.zeros(new_l - j, dtype=np.int64)
            acc_c[j] = np.zeros(new_l - j, dtype=np.int64)
        su = np.concatenate([su, np.zeros(new_l - L, dtype=np.int64)])
        sc = np.concatenate([sc, np.zeros(new_l - L, dtype=np.int64)])
        L = new_l

    for batch in batches:
        col = batch.column(0)
        cnt += len(col)
        import pyarrow.compute as pc

        lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
        valid = ~np.isnan(lens.astype(np.float64))
        lens_i = np.nan_to_num(lens.astype(np.float64), nan=0.0).astype(np.int64)
        flat = pc.list_flatten(col).to_numpy(zero_copy_only=False)
        flat = flat.astype(np.float64)
        ends = np.cumsum(lens_i)
        starts = ends - lens_i
        for l in np.unique(lens_i[valid]):
            l = int(l)
            if l == 0:
                continue
            _grow(l)
            idx = np.nonzero(valid & (lens_i == l))[0]
            x = flat[starts[idx][:, None] + np.arange(l)[None, :]]
            xu, xf = _pca_units(x)
            su[:l] += xu.sum(axis=0)
            sc[:l] += xf.sum(axis=0)
            for j in range(l):
                p = x[:, j : j + 1] * x[:, j:l]
                pu, pf_ = _pca_units(p)
                acc_u[j][: l - j] += pu.sum(axis=0)
                acc_c[j][: l - j] += pf_.sum(axis=0)

    js, ks, us, cs = [0], [0], [cnt], [0]
    for j in range(L):
        js.append(j + 1)
        ks.append(0)
        us.append(int(su[j]))
        cs.append(int(sc[j]))
        for o in range(L - j):
            js.append(j + 1)
            ks.append(j + 1 + o)
            us.append(int(acc_u[j][o]))
            cs.append(int(acc_c[j][o]))
    yield pa.record_batch(
        [
            pa.array(js, type=pa.int32()),
            pa.array(ks, type=pa.int32()),
            pa.array(us, type=pa.int64()),
            pa.array(cs, type=pa.int64()),
        ],
        names=["j", "k", "u", "c"],
    )


def _pca_cov_from_partials(rows) -> list[tuple]:
    """Rebuild the (j, k, cn) covariance rows from the aggregated
    (j, k, u, c) partials — the same FLOOR/ROUND float tree the in-DAG
    cov projection computed, with SQL NULL (no non-NULL term in a
    group) mirrored as None. Exactness: a moment decimal of scale 9 is
    exactly u/1e9, and with u < 2^53 both the old DECIMAL→DOUBLE cast
    and ``float(Decimal(u) / 1e9)`` are the correctly-rounded double of
    the same rational."""
    import decimal

    n = None
    m: dict[tuple[int, int], int | None] = {}
    s: dict[int, int | None] = {}
    for r in rows:
        if r.j == 0:
            n = r.u
        elif r.k == 0:
            s[r.j] = r.u if r.c > 0 else None
        else:
            m[(r.j, r.k)] = r.u if r.c > 0 else None
    if not m or not n:
        return []

    def _d9(units: int | None) -> float | None:
        if units is None:
            return None
        return round_repr(float(decimal.Decimal(units) / decimal.Decimal(10**9)), 9)

    s9 = {j: _d9(u) for j, u in s.items()}
    out = []
    for (j, k), u in m.items():
        pairs = [(j, k)] if j == k else [(j, k), (k, j)]
        m9 = _d9(u)
        for jj, kk in pairs:
            if m9 is None or s9.get(jj) is None or s9.get(kk) is None:
                out.append((jj, kk, None))
            else:
                out.append(
                    (
                        jj,
                        kk,
                        _pca_floor((m9 - s9[jj] * s9[kk] / n) / n * 1.0e9),
                    )
                )
    return out


def _pca_floor(x: float | None) -> int | None:
    """Mirror Spark ``FLOOR(double) -> BIGINT`` exactly: NULL-propagating,
    NaN -> 0, saturating at the long range (Scala ``Double.toLong``
    semantics, probed on this Spark build)."""
    import math

    if x is None:
        return None
    if math.isnan(x):
        return 0
    if x >= 9223372036854775807.0:
        return 9223372036854775807
    if x <= -9223372036854775808.0:
        return -9223372036854775808
    return math.floor(x)


def _pca_replay(rows) -> list[tuple]:
    """Driver-side replay of the D²-bounded power iteration over the
    collected covariance rows (j, k, cn) — bit-identical to the former
    in-DAG form: every operation below is the same IEEE-double / exact-
    integer step the Spark expressions computed (int/float division in
    CPython converts the int with the same round-to-nearest as a JVM
    long->double cast, ``math.floor`` equals FLOOR on finite doubles,
    Python int sums are exact like the BIGINT sums, and SQL NULL
    propagation is mirrored with None). The state is D² = 64² rows of
    three integers — bounded by the constant embedding dimensionality,
    not by the data — the same bounded-state class as the sketch-state
    collects. A ZeroDivisionError here corresponds to the ANSI-mode
    DIVIDE_BY_ZERO abort the in-DAG form raised on the same degenerate
    input (probed: ANSI double division by zero throws).
    """
    import math

    if not rows:
        return []
    cn: dict[tuple[int, int], int | None] = {}
    by_j: dict[int, list[tuple[int, int | None]]] = {}
    for j, k, c in rows:
        cn[(j, k)] = c
        by_j.setdefault(j, []).append((k, c))
    js = sorted(by_j)
    v: dict[int, float | None] = {j: 0.125 for j in js}

    def matvec(vec: dict[int, float | None]) -> dict[int, float | None]:
        w: dict[int, float | None] = {}
        for j in js:
            s = None
            for k, c in by_j[j]:
                vk = vec.get(k)
                if c is None or vk is None:
                    continue  # SQL NULL term: F.sum skips it
                t = _pca_floor(c / 1.0e9 * vk * 1.0e12)
                s = t if s is None else s + t
            w[j] = None if s is None else s / 1.0e12
        return w

    for _ in range(_PCA_T):
        w = matvec(v)
        s = None
        for wj in w.values():
            if wj is None:
                continue
            t = _pca_floor(wj * wj * 1.0e12)
            s = t if s is None else s + t
        nrm = None if s is None else math.sqrt(s / 1.0e12)
        v = {
            j: (
                None
                if w[j] is None or nrm is None
                else _pca_floor(w[j] / nrm * 1.0e9) / 1.0e9
            )
            for j in js
        }
    wf = matvec(v)
    s = None
    for j in js:
        if v[j] is None or wf[j] is None:
            continue
        t = _pca_floor(v[j] * wf[j] * 1.0e12)
        s = t if s is None else s + t
    lam = None if s is None else _pca_floor(s / 1.0e6)
    s = None
    for j in js:
        c = cn.get((j, j))
        if c is None:
            continue
        s = c if s is None else s + c
    tr = None if s is None else _pca_floor(s / 1.0e3)
    # sign canonicalization: largest |component| first (desc NULLS
    # LAST), ties to the lowest dim; NULL v -> the CASE falls through
    # to -1.0 like Spark's when(v >= 0, 1.0).otherwise(-1.0) on NULL
    lead = min(
        js, key=lambda j: (v[j] is None, -abs(v[j]) if v[j] is not None else 0.0, j)
    )
    sgn = 1.0 if (v[lead] is not None and v[lead] >= 0) else -1.0
    share = (
        None
        if lam is None or tr is None
        else float(lam) / float(tr)  # ANSI: tr == 0 would have aborted
    )
    return [
        (
            j,
            None if v[j] is None else sgn * v[j],
            lam,
            tr,
            share,
        )
        for j in js
    ]


# --- Model calibration: reliability diagram + ECE ------------------------

_CAL_BIN_W = 30000.0
_CAL_TRAIN_HI = "cccd"  # hash_threshold(0.8)

_CAL_ORACLE = f"""
WITH base AS (
    SELECT LEAST(CAST(FLOOR(o_totalprice / 30000) AS BIGINT), 9) AS bin,
           (substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)
                < '{_CAL_TRAIN_HI}') AS tr,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
    FROM orders
    WHERE o_totalprice > -9.2e18 AND o_totalprice < 9.2e18
),
cells AS (
    SELECT bin,
           CAST(SUM(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN tr THEN pos ELSE 0 END) AS BIGINT)
               AS pos_train,
           CAST(SUM(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test,
           CAST(SUM(CASE WHEN NOT tr THEN pos ELSE 0 END) AS BIGINT)
               AS pos_test
    FROM base GROUP BY 1
    HAVING SUM(CASE WHEN tr THEN 1 ELSE 0 END) > 0
       AND SUM(CASE WHEN NOT tr THEN 1 ELSE 0 END) > 0
),
tot AS (SELECT CAST(SUM(n_test) AS BIGINT) AS n_test_total FROM cells),
per AS (
    SELECT c.bin, c.n_train, c.pos_train,
           CAST(c.pos_train AS DOUBLE) / c.n_train AS conf,
           c.n_test, c.pos_test,
           CAST(c.pos_test AS DOUBLE) / c.n_test AS acc,
           CAST(ROUND(ABS(CAST(c.pos_test AS DOUBLE) / c.n_test
                          - CAST(c.pos_train AS DOUBLE) / c.n_train)
                      * (CAST(c.n_test AS DOUBLE) / t.n_test_total), 9)
                AS DECIMAL(12,9)) AS term9
    FROM cells c, tot t
),
ece AS (
    SELECT CAST(FLOOR(CAST(SUM(term9) AS DECIMAL(26,12)) * 1000000)
                AS BIGINT) AS ece_micro
    FROM per
)
SELECT p.bin, p.n_train, p.pos_train, p.conf, p.n_test, p.pos_test, p.acc,
       p.acc - p.conf AS gap, e.ece_micro
FROM per p, ece e
"""


@q("q_model_calibration", oracle_sql=_CAL_ORACLE)
def model_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+12 ML-eval family [EXT]: calibration audit — the reliability
    diagram plus Expected Calibration Error for the simplest honest
    model: train on a deterministic 80% hash split (the
    ``operators/sampling.hash_split`` bucket convention), predict each
    price bin's urgency rate, evaluate on the held-out 20%. Per bin:
    train support/positives, predicted rate (``conf``), test
    support/positives, observed rate (``acc``), the raw calibration gap
    — and ECE = Σ (n_test_b/N_test)·|acc_b − conf_b| as exact BIGINT
    micro-units, the model-monitoring scalar next to q_roc_auc
    (discrimination) and q_psi_stability (drift). Gap and rates are
    exact-IEEE divisions on identical integers, emitted raw; the ECE
    fold rounds each bin term at 9dp into DECIMAL, so the sum is
    order-free and the output integer-exact.

    Plan shape: ONE map-side-combined aggregate over orders (bin ×
    split counted in the same pass — no second scan for the split);
    everything downstream operates on the ≤10-row bin table behind an
    eager localCheckpoint (test total, per-bin rates, ECE fold are all
    bounded); the ECE scalar broadcasts back onto the diagram rows. At
    100 TB: cost is the single binning exchange, and the hash split
    needs no persisted assignment table — membership is a pure function
    of the key.

    Admitted score domain: |value| < 9.2e18, the r11 floor-guard
    convention (Spark's floor saturates where DuckDB's BIGINT cast
    raises; r12 verdict #3 oracle hardening). Mirrored in the
    oracle."""
    from modevetl_spark.operators.sampling import _hash_bucket

    prep(spark)
    o = load(spark, sf_dir, "orders").where(
        # two-sided range, not abs(): pushes to the parquet scan
        (F.col("o_totalprice") > -9.2e18) & (F.col("o_totalprice") < 9.2e18)
    )
    tr = _hash_bucket(F.col("o_orderkey")) < _CAL_TRAIN_HI
    pos = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    base = o.select(
        F.least(
            F.floor(F.col("o_totalprice") / F.lit(_CAL_BIN_W)).cast("bigint"),
            F.lit(9),
        ).alias("bin"),
        tr.alias("tr"),
        pos.alias("pos"),
    )
    one = F.lit(1)
    cells = (
        base.groupBy("bin")
        .agg(
            F.sum(F.when(F.col("tr"), one).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(F.when(F.col("tr"), F.col("pos")).otherwise(0))
            .cast("bigint")
            .alias("pos_train"),
            F.sum(F.when(~F.col("tr"), one).otherwise(0))
            .cast("bigint")
            .alias("n_test"),
            F.sum(F.when(~F.col("tr"), F.col("pos")).otherwise(0))
            .cast("bigint")
            .alias("pos_test"),
        )
        .where((F.col("n_train") > 0) & (F.col("n_test") > 0))
        .localCheckpoint(eager=True)  # ≤10 rows; read by three branches
    )
    tot = cells.agg(F.sum("n_test").cast("bigint").alias("n_test_total"))
    conf = F.col("pos_train").cast("double") / F.col("n_train")
    acc = F.col("pos_test").cast("double") / F.col("n_test")
    per = cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_train",
        "pos_train",
        conf.alias("conf"),
        "n_test",
        "pos_test",
        acc.alias("acc"),
        F.round(
            F.abs(acc - conf)
            * (F.col("n_test").cast("double") / F.col("n_test_total")),
            9,
        )
        .cast("decimal(12,9)")
        .alias("term9"),
    )
    ece = per.agg(
        F.floor(F.sum("term9").cast("decimal(26,12)") * F.lit(1000000))
        .cast("bigint")
        .alias("ece_micro")
    )
    return per.crossJoin(F.broadcast(ece)).select(
        "bin",
        "n_train",
        "pos_train",
        "conf",
        "n_test",
        "pos_test",
        "acc",
        (F.col("acc") - F.col("conf")).alias("gap"),
        "ece_micro",
    )
