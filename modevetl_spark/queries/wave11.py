"""Ranking-comparison and evaluation operators.

- ``q_rank_rbo`` — rank-biased overlap (Webber, Moffat & Zobel 2010):
  the standard top-weighted similarity between two indefinite rankings
  — here the revenue ranking vs the quantity ranking of parts. The
  p=1/2 geometric weights are exact powers of two, so with the d·2^
  (d−1) denominators pulled into one integer the whole agreement curve
  is integer arithmetic: cross-engine parity is STRUCTURAL.
- ``q_eval_ndcg`` — NDCG@k retrieval evaluation (Järvelin &
  Kekäläinen 2002): graded-relevance discounted cumulative gain of the
  brute-force cosine retrieval tier, per query, with the ideal DCG
  derived from relevance-count histograms (no ideal-ranking sort).
  Every DCG term is gain/log2(rank+1) — integer-arg log2, folded at
  9dp to exact decimals (the adamic-adar pattern).
- ``q_embedding_pca`` — power-iteration top principal component of the
  embedding corpus: one n·D² corpus pass to the covariance, then
  D²-bounded iterations under an ALL-INTEGER quantization discipline
  (FLOOR(x·10ⁿ) BIGINTs, never a >9dp decimal→double cast) that makes
  the .5-boundary cast trap structurally impossible — the sf0.1
  differential caught the round-and-cast form flipping.
- ``q_source_js_divergence`` — per-source Jensen–Shannon divergence vs
  the corpus unigram LM: the bounded/symmetric companion to
  q_source_kl_divergence; the mixture ratio collapses to integer-arg
  log2 chains and the absent-token mass folds in algebraically.
- ``q_mine_hard_negatives`` — contrastive triplet mining (FaceNet):
  hardest positive + hardest negative per anchor and the margin,
  from ONE scored relation (a single (anchor, flag)-partitioned
  rank-1 window pivoted by conditional aggregation).
- ``q_mixture_temperature`` — temperature-scaled mixture sampling
  (α = 1/2, the mBERT/T5 low-resource upweighting): one sqrt per
  source immediately FLOOR-quantized to BIGINT nano-units, every
  share and allocation pure integer arithmetic after that.

Reference parity: the reference has no ranking-evaluation tier (its
``pyLibrary/queries`` stop at windowed aggregates); these extend the
LLM-pipeline serving/eval family mandated by the builder brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load
from modevetl_spark.operators.similarity import CLEAN_EMB_SQL as _CLEAN_EMB_SQL

QUERIES, ORACLE, q = make_registry()


# --- Rank-biased overlap: revenue ranking vs quantity ranking -------------

_RBO_D = 32  # evaluation depth (and the prefix both rankings keep)

_RBO_ORACLE = f"""
WITH rev AS (
    SELECT l_partkey AS pk,
           SUM(TRY_CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS s
    FROM lineitem GROUP BY 1
),
qty AS (
    SELECT l_partkey AS pk, SUM(TRY_CAST(l_quantity AS DECIMAL(18,6))) AS s
    FROM lineitem GROUP BY 1
),
ta AS (SELECT pk, s FROM rev ORDER BY s DESC, pk LIMIT {_RBO_D}),
tb AS (SELECT pk, s FROM qty ORDER BY s DESC, pk LIMIT {_RBO_D}),
ra AS (
    SELECT a1.pk, CAST(COUNT(*) AS BIGINT) AS r
    FROM ta a1 JOIN ta a2
      ON a2.s > a1.s OR (a2.s = a1.s AND a2.pk <= a1.pk)
    GROUP BY 1
),
rb AS (
    SELECT b1.pk, CAST(COUNT(*) AS BIGINT) AS r
    FROM tb b1 JOIN tb b2
      ON b2.s > b1.s OR (b2.s = b1.s AND b2.pk <= b1.pk)
    GROUP BY 1
),
m AS (
    SELECT GREATEST(COALESCE(ra.r, {_RBO_D + 1}),
                    COALESCE(rb.r, {_RBO_D + 1})) AS m
    FROM ra FULL JOIN rb ON ra.pk = rb.pk
),
grid AS (SELECT UNNEST(range(1, {_RBO_D + 1})) AS d),
x AS (
    SELECT g.d, CAST(COUNT(mm.m) AS BIGINT) AS x_d
    FROM grid g LEFT JOIN m mm ON mm.m <= g.d
    GROUP BY 1
),
terms AS (
    SELECT CAST(d AS BIGINT) AS d, x_d,
           CAST(CAST(ROUND(CAST(x_d AS DOUBLE)
                           / (d * (CAST(1 AS BIGINT) << (d - 1))), 12)
                     AS DECIMAL(18,12)) * 1000000000000 AS BIGINT) AS term_pico
    FROM x
)
SELECT t1.d, t1.x_d, t1.term_pico,
       CAST(SUM(t2.term_pico) AS BIGINT) // 2 AS rbo_pico
FROM terms t1 JOIN terms t2 ON t2.d <= t1.d
GROUP BY 1, 2, 3
"""


@q("q_rank_rbo", oracle_sql=_RBO_ORACLE)
def rank_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 [EXT]: rank-biased overlap (Webber, Moffat & Zobel 2010)
    between the revenue and quantity rankings of parts — the standard
    top-weighted ranking-similarity measure (p = 1/2, depth {D}): the
    drift monitor a serving pipeline runs between two rankers, where
    Spearman/Kendall over-weight the irrelevant tail. Emits the whole
    agreement curve: per depth d, the prefix overlap X_d, the weighted
    term p^(d-1)·X_d/d, and the cumulative RBO@d = (1-p)·Σ terms.

    Determinism: rankings order by the EXACT DECIMAL measure sums (no
    float enters the order), ties broken by partkey. With p = 1/2 the
    weight p^(d-1)/d has integer denominator d·2^(d-1) < 2^63, so each
    term is ONE correctly-rounded division of exact integers, rounded
    at 12dp into an exact pico-unit BIGINT; the cumulative RBO is then
    a pure-integer sum halved with `div` — parity is structural, no
    decimal fold and no transcendental anywhere (the q_decayed_value
    power-of-two rule).

    Plan shape (r13 optimization — one fact pass + bounded driver
    replay, the q_graph_hits class): the two measure rollups FUSE into
    ONE map-side-combined part aggregate (the former form scanned the
    fact once per measure); each top-{D} prefix is a
    TakeOrderedAndProject collect off the pinned aggregate — 2·{D}
    rows, a CONFIG bound — and the entire agreement curve (prefix
    ranks, overlap histogram, pico terms, cumulative RBO) is exact
    integer/decimal arithmetic over those ≤ 2·{D} rows, replayed in
    Python mirroring the former in-DAG ops: exact DECIMAL rank
    comparisons with SQL NULL-miss semantics, shortest-repr
    ROUND(·, 12) on the one correctly-rounded division, exact
    pico-unit integers, truncating `div 2`. At 100 TB the cost is
    exactly the one part-level aggregate; everything after is
    constant-size."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    dec = "decimal(18,6)"
    # try_cast at both fold seams: one 1e300 price/quantity row NULLs
    # out instead of aborting the stage (COVERAGE.md M11)
    pp = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).try_cast(
                    dec
                )
            ).alias("s_rev"),
            F.sum(F.col("l_quantity").try_cast(dec)).alias("s_qty"),
        )
        # two TakeOrdered consumers — pin so the fact aggregates once
        .localCheckpoint(eager=True)
    )
    ta = (
        pp.select("pk", F.col("s_rev").alias("s"))
        .orderBy(F.col("s").desc(), F.col("pk"))
        .limit(_RBO_D)
        .collect()
    )
    tb = (
        pp.select("pk", F.col("s_qty").alias("s"))
        .orderBy(F.col("s").desc(), F.col("pk"))
        .limit(_RBO_D)
        .collect()
    )
    rows = _rbo_replay(ta, tb, _RBO_D)
    return spark.createDataFrame(
        rows, "d bigint, x_d bigint, term_pico bigint, rbo_pico bigint"
    )


def _rbo_replay(ta, tb, depth: int) -> list[tuple]:
    """Driver-side replay of the RBO agreement curve over the two
    collected top-``depth`` prefixes — bit-identical to the former
    in-DAG form: prefix ranks replicate the theta-join COUNT with SQL
    NULL semantics (a NULL measure compares false, so NULL-measure rows
    rank nothing and are ranked by nothing), the full-outer GREATEST/
    COALESCE(depth+1) miss default, x_d as the count of m ≤ d, the term
    as Spark's ROUND(x_d/denom, 12) (shortest-repr HALF_UP — one
    correctly-rounded division of exact integers, denominator
    d·2^(d−1) < 2^63) in exact pico units, and the cumulative sum
    halved with truncating integer division."""
    from modevetl_spark.queries.wave11 import _round_repr

    def ranks(rows):
        r: dict[int, int] = {}
        for r1 in rows:
            if r1.s is None:
                continue  # NULL s1: every join predicate is NULL-false
            c = sum(
                1
                for r2 in rows
                if r2.s is not None
                and (r2.s > r1.s or (r2.s == r1.s and r2.pk <= r1.pk))
            )
            if c:
                r[r1.pk] = c
        return r

    ra, rb = ranks(ta), ranks(tb)
    miss = depth + 1
    ms = [
        max(ra.get(pk, miss), rb.get(pk, miss))
        for pk in set(ra) | set(rb)
    ]
    out: list[tuple] = []
    cum = 0
    for d in range(1, depth + 1):
        x_d = sum(1 for m in ms if m <= d)
        term = _round_repr(x_d / (d * (1 << (d - 1))), 12)
        import decimal

        term_pico = int(
            decimal.Decimal(repr(term)).quantize(
                decimal.Decimal("1E-12"), rounding=decimal.ROUND_HALF_UP
            ).scaleb(12)
        )
        cum += term_pico
        out.append((d, x_d, term_pico, cum // 2))
    return out


rank_rbo.__doc__ = rank_rbo.__doc__.format(D=_RBO_D)


# --- NDCG@k: graded-relevance evaluation of the retrieval tier ------------

_NDCG_Q = 8  # queries: vec_id < 8
_NDCG_K = 10  # evaluation depth


_NDCG_ORACLE = f"""
WITH clean AS (SELECT * FROM embeddings WHERE {_CLEAN_EMB_SQL}),
qs AS (
    SELECT vec_id AS query_id, embedding AS qv, label AS ql
    FROM clean WHERE vec_id < {_NDCG_Q}
),
scored AS (
    SELECT q.query_id, q.ql, c.vec_id AS nid, c.label AS nl,
           ROUND(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])), 6) AS cs
    FROM qs q JOIN clean c ON c.vec_id <> q.query_id
),
topk AS (
    SELECT query_id, ql, nl,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cs DESC, nid) AS rnk
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cs DESC, nid) <= {_NDCG_K}
),
dcg AS (
    SELECT query_id,
           SUM(CAST(ROUND((CASE WHEN nl = ql THEN 3
                                WHEN ABS(nl - ql) = 1 THEN 1
                                ELSE 0 END) / log2(rnk + 1), 9)
                    AS DECIMAL(18,9))) AS s
    FROM topk GROUP BY 1
),
relcnt AS (
    SELECT q.query_id,
           CAST(COUNT(CASE WHEN c.label = q.ql THEN 1 END) AS BIGINT) AS n2,
           CAST(COUNT(CASE WHEN ABS(c.label - q.ql) = 1 THEN 1 END)
                AS BIGINT) AS n1
    FROM qs q JOIN clean c ON c.vec_id <> q.query_id
    GROUP BY 1
),
grid AS (SELECT UNNEST(range(1, {_NDCG_K + 1})) AS i),
ideal AS (
    SELECT r.query_id,
           SUM(CAST(ROUND((CASE WHEN g.i <= LEAST(r.n2, {_NDCG_K}) THEN 3
                                WHEN g.i <= LEAST(r.n2 + r.n1, {_NDCG_K}) THEN 1
                                ELSE 0 END) / log2(g.i + 1), 9)
                    AS DECIMAL(18,9))) AS s
    FROM relcnt r CROSS JOIN grid g GROUP BY 1
)
SELECT d.query_id, r.n2, r.n1,
       CAST(FLOOR(CAST(d.s AS DECIMAL(26,12)) * 1000000) AS BIGINT)
           AS dcg_micro,
       CAST(FLOOR(CAST(i.s AS DECIMAL(26,12)) * 1000000) AS BIGINT)
           AS idcg_micro,
       CASE WHEN CAST(FLOOR(CAST(i.s AS DECIMAL(26,12)) * 1000000)
                 AS BIGINT) > 0
            THEN ROUND(
                CAST(CAST(FLOOR(CAST(d.s AS DECIMAL(26,12)) * 1000000)
                          AS BIGINT) AS DOUBLE)
                / CAST(CAST(FLOOR(CAST(i.s AS DECIMAL(26,12)) * 1000000)
                            AS BIGINT) AS DOUBLE), 6)
       END AS ndcg
FROM dcg d
JOIN ideal i USING (query_id)
JOIN relcnt r USING (query_id)
"""


@q("q_eval_ndcg", oracle_sql=_NDCG_ORACLE)
def eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+18 [EXT]: NDCG@{K} retrieval evaluation (Järvelin &
    Kekäläinen 2002) of the brute-force cosine tier — the standard
    graded-relevance quality metric a serving pipeline tracks per
    ranker release, completing the eval family (q_roc_auc grades a
    classifier, q_dedup_eval_pr grades dedup, this grades RANKING).
    Relevance is derived deterministically from the data: 2 if the
    neighbor shares the query's label, 1 if the labels are adjacent,
    0 otherwise; gains are 2^rel − 1 ∈ {{0, 1, 3}}.

    Determinism: retrieval reuses the graded q_sim_topk contract
    (cosine rounded 6dp, ties broken by neighbor id). Every DCG term
    is gain/log2(rank+1) — log2 of INTEGER arguments 2..{K1} only —
    rounded per-term at 9dp into DECIMAL and summed exactly, emitted
    as floor(s·10⁶) BIGINT micro-units (the adamic-adar fold; a raw
    multi-term log2 sum is the exact 1-ulp trap q_cooccur_pmi
    documented). The IDEAL DCG never sorts an ideal ranking: it is a
    closed form over the per-query relevance-count histogram (n2
    twos then n1 ones, truncated at {K}) evaluated on a {K}-row
    broadcast rank grid. NDCG is one correctly-rounded division of
    the two exact micro BIGINTs (identical doubles both engines),
    NULL-guarded for queries with zero relevant corpus docs.

    Plan shape: queries are a {Q}-row broadcast against one corpus
    scan (the q_sim_topk shape — corpus never shuffled); top-{K} is a
    per-query WindowGroupLimit; relevance counts are a second
    broadcast-join aggregate collapsing map-side to {Q} rows; the
    ideal grid and final joins are constant-size. At 100 TB the cost
    is the same two corpus scans the retrieval tier already pays —
    the evaluation itself is free."""
    prep(spark)
    from pyspark.sql import Window

    from modevetl_spark.operators.similarity import cosine_pre, well_formed

    # shared degenerate-vector contract (emits cosine scores; see
    # operators/similarity.well_formed / CLEAN_EMB_SQL); the nrm
    # projection feeds the per-pair scoring below
    e = well_formed(load(spark, sf_dir, "embeddings"), nrm_col="nrm")
    qs = e.where(F.col("vec_id") < _NDCG_Q).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
    )
    cs = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("nrm").alias("c_nrm"),
    )
    # the q_sim_topk scoring contract inlined (cosine rounded 6dp, ties
    # by neighbor id) so the rank is computed ONCE — reusing
    # brute_force_topk and re-ranking its output doubles the Window
    scored = (
        cs.crossJoin(F.broadcast(qs))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_pre(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_nrm"), F.col("c_nrm")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    topk = scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= _NDCG_K
    )
    labels = e.select(F.col("vec_id").alias("nid"), F.col("label").alias("nl"))
    qlab = e.select(
        F.col("vec_id").alias("qid"), F.col("label").alias("ql")
    ).where(F.col("qid") < _NDCG_Q)
    ranked = topk.join(
        F.broadcast(qlab), F.col("query_id") == F.col("qid")
    ).join(F.broadcast(labels), F.col("neighbor_id") == F.col("nid"))
    gain = (
        F.when(F.col("nl") == F.col("ql"), F.lit(3))
        .when(F.abs(F.col("nl") - F.col("ql")) == 1, F.lit(1))
        .otherwise(F.lit(0))
    )
    term9 = F.round(
        gain.cast("double") / F.log2(F.col("rnk") + 1), 9
    ).cast("decimal(18,9)")
    dcg = ranked.groupBy("query_id").agg(F.sum(term9).alias("s_d"))
    relcnt = (
        e.select(F.col("vec_id").alias("nid"), F.col("label").alias("nl"))
        .crossJoin(F.broadcast(qlab))
        .where(F.col("nid") != F.col("qid"))
        .groupBy(F.col("qid").alias("query_id"))
        .agg(
            F.sum(F.when(F.col("nl") == F.col("ql"), 1).otherwise(0))
            .cast("bigint")
            .alias("n2"),
            F.sum(F.when(F.abs(F.col("nl") - F.col("ql")) == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n1"),
        )
    )
    grid = spark.range(1, _NDCG_K + 1).select(F.col("id").alias("i"))
    ideal_gain = (
        F.when(F.col("i") <= F.least(F.col("n2"), F.lit(_NDCG_K)), F.lit(3))
        .when(
            F.col("i") <= F.least(F.col("n2") + F.col("n1"), F.lit(_NDCG_K)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    ideal = (
        relcnt.crossJoin(F.broadcast(grid))
        .groupBy("query_id")
        .agg(
            F.sum(
                F.round(
                    ideal_gain.cast("double") / F.log2(F.col("i") + 1), 9
                ).cast("decimal(18,9)")
            ).alias("s_i")
        )
    )
    dcg_micro = F.floor(
        F.col("s_d").cast("decimal(26,12)") * F.lit(1000000)
    ).cast("bigint")
    idcg_micro = F.floor(
        F.col("s_i").cast("decimal(26,12)") * F.lit(1000000)
    ).cast("bigint")
    return (
        dcg.join(F.broadcast(ideal), "query_id")
        .join(F.broadcast(relcnt), "query_id")
        .select(
            "query_id",
            "n2",
            "n1",
            dcg_micro.alias("dcg_micro"),
            idcg_micro.alias("idcg_micro"),
            F.when(
                idcg_micro > 0,
                F.round(
                    dcg_micro.cast("double") / idcg_micro.cast("double"), 6
                ),
            ).alias("ndcg"),
        )
    )


eval_ndcg.__doc__ = eval_ndcg.__doc__.format(
    Q=_NDCG_Q, K=_NDCG_K, K1=_NDCG_K + 1
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
    JVM ``BigDecimal.valueOf`` path; see :func:`_round9` and its probe
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
        return _round9(float(decimal.Decimal(units) / decimal.Decimal(10**9)))

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


def _round9(x: float | None) -> float | None:
    """Spark ``round(double, 9)``: HALF_UP at 9dp on the SHORTEST decimal
    representation of the double (the JVM routes double→BigDecimal through
    ``BigDecimal.valueOf`` = ``Double.toString``, which Python's ``repr``
    reproduces digit-for-digit) — NOT on the exact binary expansion;
    NaN/±inf pass through. Probed on this build with an 16k-value battery
    (8k adversarial half-ulp boundary doubles): repr-based HALF_UP matches
    Spark 16000/16000 while exact-expansion HALF_UP mismatches 2284 of
    them — e.g. round(0.012873305, 8): the double's exact expansion is
    0.0128733049999999998… (→ .01287330 down) but both engines see the
    shortest repr "0.012873305" and round UP to 0.01287331."""
    import decimal
    import math

    if x is None or math.isnan(x) or math.isinf(x):
        return x
    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("1E-9"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _round_repr(x: float | None, dp: int) -> float | None:
    """Spark ``round(double, dp)`` at any scale — the :func:`_round9`
    shortest-repr HALF_UP semantics, parameterized (the graph-query
    replays need the 8dp output round as well as the 9dp state round).
    """
    import decimal
    import math

    if x is None or math.isnan(x) or math.isinf(x):
        return x
    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-dp), rounding=decimal.ROUND_HALF_UP
        )
    )


def _dec9(x: float):
    """Spark ``CAST(double AS DECIMAL(18,9))`` mirrored exactly: the
    Cast routes double→Decimal through ``BigDecimal.decimal(d)`` =
    ``BigDecimal.valueOf(d)`` = HALF_UP quantization of the double's
    SHORTEST decimal repr (``Double.toString`` ≡ Python ``repr`` on
    this build — same 16k battery as :func:`_round9`: 0 mismatches)."""
    import decimal

    return decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("1E-9"), rounding=decimal.ROUND_HALF_UP
    )


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


# --- Per-source Jensen-Shannon divergence vs the corpus LM ----------------

_JS_ORACLE = r"""
WITH tok AS (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                              x -> x <> '')) AS tok
    FROM documents
),
sw AS (
    SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS a
    FROM tok GROUP BY 1, 2
),
s_tot AS (
    SELECT source, CAST(SUM(a) AS BIGINT) AS n_s,
           CAST(COUNT(*) AS BIGINT) AS vocab_s
    FROM sw GROUP BY 1
),
corpus AS (
    SELECT tok, CAST(SUM(a) AS BIGINT) AS b FROM sw GROUP BY 1
),
tot AS (SELECT CAST(SUM(b) AS BIGINT) AS n FROM corpus),
terms AS (
    SELECT sw.source,
           CAST(sw.a AS DECIMAL(10,0))
             * CAST(ROUND(1 + log2(CAST(sw.a * t.n AS DOUBLE))
                            - log2(CAST(sw.a * t.n + c.b * st.n_s
                                        AS DOUBLE)), 9)
                    AS DECIMAL(18,9)) AS klp,
           CAST(c.b AS DECIMAL(10,0))
             * CAST(ROUND(1 + log2(CAST(c.b * st.n_s AS DOUBLE))
                            - log2(CAST(sw.a * t.n + c.b * st.n_s
                                        AS DOUBLE)), 9)
                    AS DECIMAL(18,9)) AS klq,
           c.b AS b
    FROM sw
    JOIN s_tot st ON st.source = sw.source
    JOIN corpus c ON c.tok = sw.tok
    CROSS JOIN tot t
)
SELECT tm.source, st.n_s AS n_tokens, st.vocab_s AS vocab,
       ROUND((CAST(SUM(tm.klp) AS DOUBLE) / st.n_s
              + CAST(SUM(tm.klq) + (t.n - SUM(tm.b)) AS DOUBLE) / t.n)
             / 2, 6) AS js_bits
FROM terms tm
JOIN s_tot st ON st.source = tm.source
CROSS JOIN tot t
GROUP BY 1, 2, 3, t.n
"""


@q("q_source_js_divergence", oracle_sql=_JS_ORACLE)
def source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+9 [EXT]: per-source Jensen–Shannon divergence
    JSD(p_source ‖ p_corpus) over unigram distributions, in bits — the
    BOUNDED companion to q_source_kl_divergence (JSD ∈ [0,1] bits, is
    symmetric, and never blows up on tokens one side lacks), i.e. the
    drift score that stays comparable across sources of wildly
    different vocabularies. JSD = ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2.

    Float discipline (the KL key's, extended): with p_w = a/A and
    q_w = b/B, the mixture ratio collapses to INTEGER-arg log2 chains —
    p_w/m_w = 2aB/(aB+bA) ⇒ term 1 + log2(aB) − log2(aB+bA) — each
    rounded 9dp, scaled by the exact integer count as a decimal
    multiply, decimal-summed. The Q-side mass on tokens the SOURCE
    LACKS (a = 0, where the term is exactly 1) is added ALGEBRAICALLY
    as (B − Σ_present b) — no densified source×vocabulary grid, the
    q_token_burstiness zeros trick. Products a·B, b·A < 2⁶³ (DuckDB
    BIGINT is overflow-checked; corpus token counts keep them far
    inside). Final ROUND at 6dp absorbs the decimal-sum cast ulp.

    Plan shape: identical to the KL key — ONE document scan to the
    checkpointed (source, token) agg; both marginals are rollups of
    that agg (no second fact scan, the no-CTE-reuse lesson); margins
    broadcast, grand total a one-row cross join. At 100 TB one
    exchange reaches the agg; the corpus-margin join falls back to a
    token-keyed hash exchange only past broadcast vocabulary size —
    linear in vocabulary × sources, never corpus rows."""
    from modevetl_spark.operators.text import tokens

    prep(spark)
    d = load(spark, sf_dir, "documents")
    sw = (
        d.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
        .localCheckpoint()
    )
    s_tot = sw.groupBy(F.col("source").alias("st_source")).agg(
        F.sum("a").cast("bigint").alias("n_s"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_s"),
    )
    corpus = sw.groupBy(F.col("tok").alias("c_tok")).agg(
        F.sum("a").cast("bigint").alias("b")
    )
    tot = corpus.agg(F.sum("b").cast("bigint").alias("n"))
    mix = (F.col("a") * F.col("n") + F.col("b") * F.col("n_s")).cast("double")
    t_p = F.round(
        F.lit(1) + F.log2((F.col("a") * F.col("n")).cast("double")) - F.log2(mix),
        9,
    ).cast("decimal(18,9)")
    t_q = F.round(
        F.lit(1)
        + F.log2((F.col("b") * F.col("n_s")).cast("double"))
        - F.log2(mix),
        9,
    ).cast("decimal(18,9)")
    terms = (
        sw.join(F.broadcast(s_tot), F.col("source") == F.col("st_source"))
        .join(F.broadcast(corpus), F.col("tok") == F.col("c_tok"))
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_s",
            "vocab_s",
            "n",
            "b",
            (F.col("a").cast("decimal(10,0)") * t_p).alias("klp"),
            (F.col("b").cast("decimal(10,0)") * t_q).alias("klq"),
        )
    )
    return (
        terms.groupBy("source", "n_s", "vocab_s", "n")
        .agg(
            F.round(
                (
                    F.sum("klp").cast("double") / F.col("n_s").cast("double")
                    + (F.sum("klq") + (F.col("n") - F.sum("b"))).cast("double")
                    / F.col("n").cast("double")
                )
                / 2,
                6,
            ).alias("js_bits")
        )
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.col("vocab_s").alias("vocab"),
            "js_bits",
        )
    )


# --- Hard-negative mining for contrastive training -------------------------

_HNM_Q = 16  # anchors: vec_id < 16


_HNM_ORACLE = f"""
WITH clean AS (SELECT * FROM embeddings WHERE {_CLEAN_EMB_SQL}),
qs AS (
    SELECT vec_id AS anchor_id, embedding AS qv, label AS ql
    FROM clean WHERE vec_id < {_HNM_Q}
),
scored AS (
    SELECT q.anchor_id, c.vec_id AS nid,
           CASE WHEN c.label = q.ql THEN 1 ELSE 0 END AS same_lbl,
           ROUND(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])), 6) AS cs
    FROM qs q JOIN clean c ON c.vec_id <> q.anchor_id
),
best AS (
    SELECT anchor_id, nid, same_lbl, cs
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY anchor_id, same_lbl
                               ORDER BY cs DESC, nid) = 1
)
SELECT anchor_id,
       CAST(MAX(CASE WHEN same_lbl = 1 THEN nid END) AS BIGINT) AS pos_id,
       MAX(CASE WHEN same_lbl = 1 THEN cs END) AS pos_sim,
       CAST(MAX(CASE WHEN same_lbl = 0 THEN nid END) AS BIGINT) AS neg_id,
       MAX(CASE WHEN same_lbl = 0 THEN cs END) AS neg_sim,
       MAX(CASE WHEN same_lbl = 1 THEN cs END)
           - MAX(CASE WHEN same_lbl = 0 THEN cs END) AS margin
FROM best
GROUP BY 1
"""


@q("q_mine_hard_negatives", oracle_sql=_HNM_ORACLE)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+20 [EXT]: hard-negative mining (Schroff et al. 2015, FaceNet;
    the standard contrastive-training data op): for each anchor, the
    hardest positive (most-similar SAME-label vector) and the hardest
    negative (most-similar DIFFERENT-label vector), plus the margin
    between them — the triplet a contrastive trainer feeds, and the
    margin histogram a curation loop watches (anchors with negative
    margin are the label noise / hard cases worth upweighting).

    Determinism: reuses the graded q_sim_topk scoring contract verbatim
    (cosine rounded 6dp, ties by neighbor id); the margin is one
    subtraction of identical doubles, emitted raw. One scored relation
    feeds BOTH picks: a single window partitioned by (anchor,
    same-label flag) takes rank 1 per side, and a conditional
    aggregation pivots the two rows per anchor into one (never two
    corpus scans for two picks — the margins-from-one-agg lesson).

    Plan shape: the {Q}-row anchor set broadcasts against one corpus
    scan (corpus never shuffled — the q_sim_topk shape); the window
    partitions by (anchor, flag) — 2·{Q} bounded groups balanced by
    WindowGroupLimit's partial rank-1 pass map-side, so the exchange
    carries at most 2·{Q} rows per task; the pivot is a {Q}-group
    aggregate. At 100 TB: one corpus scan per mining pass, exactly
    what the retrieval tier already pays; swap the scorer for the IVF
    tier (q_sim_topk_ivf_sq) when brute-force stops being the
    baseline."""
    prep(spark)
    from pyspark.sql import Window

    from modevetl_spark.operators.similarity import cosine_pre, well_formed

    # shared degenerate-vector contract (emits cosine scores; see
    # operators/similarity.well_formed / CLEAN_EMB_SQL); the nrm
    # projection feeds the per-pair scoring below
    e = well_formed(load(spark, sf_dir, "embeddings"), nrm_col="nrm")
    qs = e.where(F.col("vec_id") < _HNM_Q).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("label").alias("ql"),
    )
    scored = (
        e.select(
            F.col("vec_id").alias("nid"),
            F.col("embedding").alias("cv"),
            F.col("nrm").alias("cn"),
            F.col("label").alias("nl"),
        )
        .crossJoin(F.broadcast(qs))
        .where(F.col("nid") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "nid",
            F.when(F.col("nl") == F.col("ql"), 1).otherwise(0).alias("same_lbl"),
            F.round(
                cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
            ).alias("cs"),
        )
    )
    w = Window.partitionBy("anchor_id", "same_lbl").orderBy(
        F.col("cs").desc(), F.col("nid")
    )
    best = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    pos = F.max(F.when(F.col("same_lbl") == 1, F.col("cs")))
    neg = F.max(F.when(F.col("same_lbl") == 0, F.col("cs")))
    return best.groupBy("anchor_id").agg(
        F.max(F.when(F.col("same_lbl") == 1, F.col("nid")))
        .cast("bigint")
        .alias("pos_id"),
        pos.alias("pos_sim"),
        F.max(F.when(F.col("same_lbl") == 0, F.col("nid")))
        .cast("bigint")
        .alias("neg_id"),
        neg.alias("neg_sim"),
        (pos - neg).alias("margin"),
    )


mine_hard_negatives.__doc__ = mine_hard_negatives.__doc__.format(Q=_HNM_Q)


# --- Temperature-scaled mixture sampling (alpha = 1/2) --------------------

_TMPX_BUDGET = 1_000_000  # token budget the plan allocates


_TMPX_ORACLE = rf"""
WITH tok AS (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                              x -> x <> '')) AS tok
    FROM documents
),
src AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM tok GROUP BY 1
),
sq AS (
    SELECT source, n_tokens,
           CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1.0e9) AS BIGINT)
               AS s_nano
    FROM src
),
tot AS (
    SELECT CAST(SUM(n_tokens) AS BIGINT) AS n,
           CAST(SUM(s_nano) AS BIGINT) AS s_tot
    FROM sq
)
SELECT q.source, q.n_tokens,
       q.n_tokens * 1000000 // t.n AS share_linear_ppm,
       q.s_nano * 1000000 // t.s_tot AS share_temp_ppm,
       CASE WHEN q.n_tokens * 1000000 // t.n > 0
            THEN CAST(q.s_nano * 1000000 // t.s_tot AS DOUBLE)
                 / (q.n_tokens * 1000000 // t.n)
       END AS boost,
       q.s_nano * {_TMPX_BUDGET} // t.s_tot AS tokens_target
FROM sq q CROSS JOIN tot t
"""


@q("q_mixture_temperature", oracle_sql=_TMPX_ORACLE)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+20 [EXT]: temperature-scaled mixture sampling, α = 1/2
    (Devlin et al. 2019 mBERT; Raffel et al. 2020 T5; the standard
    low-resource upweighting: sample source i with probability
    ∝ n_i^α so head sources shrink and tail sources grow relative to
    proportional sampling) — completing the mixture family beside
    q_mixture_weights (exact target shares) and q_interleave_sources
    (deterministic schedule). Emits per source the linear and
    temperature shares (ppm), the boost ratio, and the token
    allocation for a {B}-token budget.

    Float discipline: α = 1/2 makes the only non-integer op ONE
    correctly-rounded sqrt per source, immediately quantized by the
    round-8 all-integer rule — s_nano = FLOOR(sqrt(n)·10⁹) BIGINT —
    after which every share/allocation is pure integer arithmetic
    (`div` on non-negative BIGINTs, identical in both engines; the
    q_embedding_pca discipline with an even shorter float segment).
    The boost is one division of identical integers, emitted raw.

    Plan shape: one document scan → map-side-combined per-source token
    count (|sources| rows); the sqrt/floor, the one-row total, and the
    shares all live on that broadcast-scale tail. At 100 TB the cost
    is the token-count aggregate the curation loop already runs."""
    from modevetl_spark.operators.text import tokens

    prep(spark)
    d = load(spark, sf_dir, "documents")
    src = (
        d.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
    )
    sq = src.select(
        "source",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1.0e9))
        .cast("bigint")
        .alias("s_nano"),
    )
    tot = sq.agg(
        F.sum("n_tokens").cast("bigint").alias("n"),
        F.sum("s_nano").cast("bigint").alias("s_tot"),
    )
    lin = F.expr("n_tokens * 1000000 div n")
    tmp = F.expr("s_nano * 1000000 div s_tot")
    # Sub-ppm sources floor to lin == 0: Spark's `/` would emit NULL
    # while DuckDB's IEEE division emits inf — guard the ratio
    # explicitly so BOTH engines emit NULL for them, keeping the
    # "identical integers, one raw division" determinism claim intact
    # (round-9 advice).
    return sq.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        lin.alias("share_linear_ppm"),
        tmp.alias("share_temp_ppm"),
        F.when(lin > 0, tmp.cast("double") / lin).alias("boost"),
        F.expr(f"s_nano * {_TMPX_BUDGET} div s_tot").alias("tokens_target"),
    )


mixture_temperature.__doc__ = mixture_temperature.__doc__.format(B=_TMPX_BUDGET)
