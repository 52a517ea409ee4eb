"""Serving-tier diversification + runtime pruning.

- ``q_sim_mmr_rerank`` — Maximal Marginal Relevance (Carbonell &
  Goldstein 1998) diversified top-k: the standard serving-tier rerank
  that trades pure relevance for coverage. The greedy argmax chain is
  inherently sequential, but its horizon is the SHORTLIST, not the
  corpus — so it unrolls into a fixed number of bounded DataFrame
  stages and stays fully SQL-replayable.
- ``q_filter_bloom`` — explicit Bloom-filter semi-join pruning: the
  runtime-filter pattern (build a bit-position set from the dimension
  side, broadcast it, prune the probe side before any join) with the
  false-positive accounting graded as data and the zero-false-negative
  guarantee asserted by the oracle.
- ``q_heavy_hitters_grouped`` — per-group Misra–Gries + exact verify,
  completing the grouped-sketch trilogy (quantiles → cardinality →
  heavy hitters): the per-tenant hot-key report without shuffling any
  group's vocabulary.
- ``q_sketch_group_distinct`` — grouped KMV: per-segment cardinality
  (distinct buyers per priority), one k-row sketch state per group;
  the sf0.001/sf0.01 fixture pair exercises the exact and estimator
  regimes respectively.
- ``q_sketch_countmin`` — Count-Min point-query audit: the linear
  frequency sketch beside MG/KMV/MRL, d md5-offset hash rows over
  w < |vocabulary| buckets so the collision regime is real; the
  never-undercount guarantee is graded as a deterministic verdict.
- ``q_graph_adamic_adar`` — Adamic-Adar link prediction over the
  order-part bipartite graph: popularity-discounted shared-neighbor
  scores as exact BIGINT micro-units (integer-arg log2 terms,
  decimal fold), beside the raw co-occurrence count and Jaccard.
- ``q_privacy_kanonymity`` — k-anonymity audit over a generalization
  ladder: one ROLLUP pass yields every level's equivalence-class
  histogram and the re-identification risk verdicts.
- ``q_churn_hazard`` — discrete-time survival: the life-table churn
  hazard and survival curves over order rank, derived entirely from
  the tiny counts-of-counts distribution.
- ``q_model_calibration`` — reliability diagram + Expected
  Calibration Error on a deterministic train/test hash split: the
  model-monitoring scalar beside ROC AUC and PSI.
- ``q_decayed_value`` — exponentially time-decayed customer value with
  ZERO transcendentals: integer half-life weights are exact powers of
  two, every term an exact decimal, the output an exact BIGINT of
  microdollars — the decimal-fold discipline taken to its limit.
- ``q_sample_reservoir_weighted`` — A-ES weighted reservoir sample
  (Efraimidis & Spirakis 2006) in the min-of-w-replica-hashes form:
  exactly-k weighted-without-replacement selection with no pow(), no
  explode, compiled to TakeOrderedAndProject.
- ``q_source_kl_divergence`` — per-source KL divergence vs the corpus
  unigram LM: the domain-shift ranking a mixture-curation pipeline
  sorts sources by; integer-arg log2 chains + decimal fold.
- ``q_mixture_weights`` — the mixture-reweighting plan (target shares →
  per-source sampling rate / epochs / deficit) in pure integer
  arithmetic: cross-engine parity is structural.
- ``q_rater_agreement`` — Cohen's kappa between two deterministic rule
  labelers per language: the chance-corrected agreement audit run
  before trusting a labeler ensemble to filter training data.
- ``q_dedup_substring_runs`` — exact-substring duplicated runs (the
  Lee et al. 2022 removal-planning step): maximal duplicated regions
  per document from positional n-grams, interval-merged so token
  counts are exact; gram-keyed exchange + doc-keyed windows.

Reference parity: SURVEY.md §2's similarity/join families; both
re-express documented semantics per SURVEY §0's protocol with the
physical shape chosen for the 1000-executor case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load
from modevetl_spark.operators.similarity import CLEAN_EMB_SQL as _CLEAN_EMB_SQL

QUERIES, ORACLE, q = make_registry()


# --- MMR diversified rerank ----------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_N = 8  # shortlist size per query
_MMR_K = 3  # diversified picks per query

_MMR_ORACLE = f"""
WITH clean AS (SELECT * FROM embeddings WHERE {_CLEAN_EMB_SQL}),
qs AS (SELECT vec_id, embedding FROM clean WHERE vec_id < 10),
cand AS (
    SELECT q.vec_id AS query_id, c.vec_id AS cid,
           ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])), 6)
               AS rel
    FROM qs q JOIN clean c ON c.vec_id <> q.vec_id
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.vec_id
        ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                              CAST(c.embedding AS DOUBLE[])),
                       6) DESC, c.vec_id
    ) <= {_MMR_N}
),
pair AS (
    SELECT a.query_id, a.cid AS ca, b.cid AS cb,
           ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 6)
               AS sim
    FROM cand a
    JOIN cand b ON b.query_id = a.query_id AND b.cid <> a.cid
    JOIN clean ea ON ea.vec_id = a.cid
    JOIN clean eb ON eb.vec_id = b.cid
),
p1 AS (
    SELECT query_id, cid, rel,
           CAST({_MMR_LAMBDA} AS DOUBLE) * rel AS score
    FROM cand
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rel DESC, cid) = 1
),
s2 AS (
    SELECT c.query_id, c.cid, c.rel,
           CAST({_MMR_LAMBDA} AS DOUBLE) * c.rel
               - CAST({1 - _MMR_LAMBDA} AS DOUBLE) * p.sim AS score
    FROM cand c
    JOIN p1 ON p1.query_id = c.query_id AND c.cid <> p1.cid
    JOIN pair p ON p.query_id = c.query_id AND p.ca = c.cid AND p.cb = p1.cid
),
p2 AS (
    SELECT query_id, cid, rel, score FROM s2
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, cid) = 1
),
s3 AS (
    SELECT c.query_id, c.cid, c.rel,
           CAST({_MMR_LAMBDA} AS DOUBLE) * c.rel
               - CAST({1 - _MMR_LAMBDA} AS DOUBLE) * MAX(p.sim) AS score
    FROM cand c
    JOIN p1 ON p1.query_id = c.query_id AND c.cid <> p1.cid
    JOIN p2 ON p2.query_id = c.query_id AND c.cid <> p2.cid
    JOIN pair p ON p.query_id = c.query_id AND p.ca = c.cid
               AND p.cb IN (p1.cid, p2.cid)
    GROUP BY 1, 2, 3
),
p3 AS (
    SELECT query_id, cid, rel, score FROM s3
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, cid) = 1
)
SELECT query_id, CAST(1 AS BIGINT) AS pick_rank,
       CAST(cid AS BIGINT) AS neighbor_id, rel, score AS mmr_score
FROM p1
UNION ALL
SELECT query_id, CAST(2 AS BIGINT), CAST(cid AS BIGINT), rel, score FROM p2
UNION ALL
SELECT query_id, CAST(3 AS BIGINT), CAST(cid AS BIGINT), rel, score FROM p3
"""


@q("q_sim_mmr_rerank", oracle_sql=_MMR_ORACLE)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2++ serving tier [EXT]: Maximal Marginal Relevance rerank —
    for each query, pick k={K} diversified results from its exact
    top-{N} cosine shortlist by the greedy MMR rule
    score(c) = λ·rel(c) − (1−λ)·max_{{s∈S}} sim(c, s), λ={LAM}.

    MMR's greedy chain is sequential, but its horizon is the SHORTLIST
    (≤ {N} candidates/query, a config bound), never the corpus — so the
    chain unrolls into k−1 bounded DataFrame stages with NO iteration
    over data-sized relations, and the whole selection is replayed by
    the oracle. Scores stay RAW doubles (one multiply, one subtract on
    round-6 cosines — the same IEEE ops in both engines produce the
    same bits): rounding them would re-open the .5-boundary trap, since
    0.7·(a 6dp value) is an exact 7dp decimal that can tie at 6dp
    (observed: 0.7·0.371485 = 0.2600395). Argmax ties break on
    neighbor id.

    Plan shape (r13 optimization, the bounded-replay class of
    q_graph_hits/q_embedding_pca): shortlist generation is the
    brute_force_topk harness (corpus scanned once against broadcast
    queries — the declared bounded kernel; at scale the IVF×SQ index
    replaces it, and MMR consumes whatever shortlist the index emits).
    The shortlist is CONFIG-bounded (|q|·N ≤ 80 rows), so it collects
    to the driver (the scalar-watermark collect class), the ≤ |q|·N
    candidate vectors come back through one predicate-pushdown scan,
    and the greedy chain replays in plain Python mirroring the former
    in-DAG semantics bit for bit: the same left-fold dot/norm order,
    try_divide → None, shortest-repr ROUND(·, 6) on pair sims
    (``_round_repr``), raw IEEE ``λ·rel − (1−λ)·sim`` score trees, and
    the argmax ordering score DESC (NaN greatest, NULLS LAST), cid ASC.
    The former form paid ~18 scheduler round-trips (two eager
    checkpoints + three window stages + five broadcast joins) and
    broadcast the corpus-sized vector table into the pair join; now
    only the shortlist pass and one pushed-down vector fetch touch
    data-sized relations. At 100 TB: rerank cost scales with
    |queries|·N², not the corpus."""
    from modevetl_spark.operators.similarity import brute_force_topk, well_formed

    prep(spark)
    # shared degenerate-vector contract (emits cosine scores; see
    # operators/similarity.well_formed / _CLEAN_EMB_SQL)
    e = well_formed(load(spark, sf_dir, "embeddings"))
    qs = e.where(F.col("vec_id") < 10)
    cand = brute_force_topk(e, qs, k=_MMR_N).select(
        "query_id", F.col("neighbor_id").alias("cid"), F.col("cos_sim").alias("rel")
    ).collect()

    out_schema = (
        "query_id long, pick_rank long, neighbor_id long, rel double,"
        " mmr_score double"
    )
    if not cand:
        return spark.createDataFrame([], out_schema)
    cids = sorted({int(r.cid) for r in cand})
    vec_map = {
        int(r.vec_id): list(r.embedding)
        for r in e.where(F.col("vec_id").isin(cids))
        .select("vec_id", "embedding")
        .collect()
    }
    rows = _mmr_greedy_replay(cand, vec_map, _MMR_LAMBDA, _MMR_K)
    return spark.createDataFrame(rows, out_schema)


def _mmr_greedy_replay(
    cand, vec_map: dict[int, list], lam: float, k: int
) -> list[tuple]:
    """Driver-side replay of the MMR greedy chain over the
    config-bounded shortlist — bit-identical to the former in-DAG form:
    dot/norm are the same left-to-right float folds (operators/
    similarity.dot — zip_with NULL-pads length mismatches, a NULL term
    poisons the fold), cosine is try_divide (None on 0/None
    denominator), pair sims get Spark's shortest-repr ROUND(·, 6), the
    score trees are the raw IEEE ``(λ·rel) − ((1−λ)·sim)`` with
    λ-complement computed as ``1 − λ`` (0.30000000000000004 — the same
    double the in-DAG literal held), max-penalty skips None like
    SQL MAX, and the per-query argmax orders score DESC (NaN greatest,
    NULLS LAST — Spark's double ordering), cid ASC."""
    import math

    from modevetl_spark.queries.wave11 import _round_repr

    one_m = 1 - lam

    def fold_dot(a, b):
        n = max(len(a), len(b))
        acc = 0.0
        for i in range(n):
            x = a[i] if i < len(a) else None
            y = b[i] if i < len(b) else None
            t = None if x is None or y is None else x * y
            acc = None if acc is None or t is None else acc + t
        return acc

    def fold_nrm(a):
        acc = 0.0
        for x in a:
            acc = None if acc is None or x is None else acc + x * x
        return None if acc is None else math.sqrt(acc)

    simmemo: dict[tuple[int, int], float | None] = {}

    def sim(a: int, b: int):
        key = (a, b) if a <= b else (b, a)
        if key not in simmemo:
            va, vb = vec_map.get(a), vec_map.get(b)
            if va is None or vb is None:
                simmemo[key] = None
            else:
                num = fold_dot(va, vb)
                na, nb = fold_nrm(va), fold_nrm(vb)
                den = None if na is None or nb is None else na * nb
                if num is None or den is None or den == 0.0:
                    simmemo[key] = None
                else:
                    simmemo[key] = _round_repr(num / den, 6)
        return simmemo[key]

    def desc_key(score, cid):
        # ORDER BY score DESC, cid: Spark doubles sort NaN above +inf,
        # NULLs last under DESC
        if score is None:
            return (2, 0.0, cid)
        if isinstance(score, float) and math.isnan(score):
            return (0, 0.0, cid)
        return (1, -score, cid)

    by_q: dict = {}
    for r in cand:
        by_q.setdefault(r.query_id, []).append((int(r.cid), r.rel))

    rows: list[tuple] = []
    for qid in by_q:
        cs = by_q[qid]
        picks: list[int] = []
        for rank in range(1, k + 1):
            scored = []
            for cid, rel in cs:
                if cid in picks:
                    continue
                if rank == 1:
                    score = lam * rel if rel is not None else None
                else:
                    pens = [s for s in (sim(cid, p) for p in picks)
                            if s is not None]
                    # SQL MAX skips NULLs; Spark's double MAX ranks NaN
                    # above +inf (python max() mis-compares NaN)
                    if not pens:
                        pen = None
                    elif any(math.isnan(s) for s in pens):
                        pen = float("nan")
                    else:
                        pen = max(pens)
                    score = (
                        None
                        if rel is None or pen is None
                        else (lam * rel) - (one_m * pen)
                    )
                scored.append((cid, rel, score))
            if not scored:
                break
            cid, rel, score = min(
                scored, key=lambda t: desc_key(t[2], t[0])
            )
            picks.append(cid)
            rows.append((qid, rank, cid, rel, score))
    return rows


sim_mmr_rerank.__doc__ = sim_mmr_rerank.__doc__.format(
    K=_MMR_K, N=_MMR_N, LAM=_MMR_LAMBDA
)


# --- Exponential time-decay aggregation (exact powers of two) -----------

_DECAY_HL_DAYS = 28
_DECAY_MAX_W = 10

_DECAY_ORACLE = f"""
WITH anchor AS (SELECT MAX(o_orderdate) AS a FROM orders),
base AS (
    SELECT o_custkey, o_totalprice,
           CAST(FLOOR(date_diff('day', o_orderdate, (SELECT a FROM anchor))
                      / {_DECAY_HL_DAYS}.0) AS INTEGER) AS w
    FROM orders
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(FLOOR(CAST(SUM(CAST(TRY_CAST(o_totalprice AS DECIMAL(12,2))
                                AS DECIMAL(19,2))
                           * CAST(CAST(1 AS DOUBLE) / (1 << w)
                                  AS DECIMAL(19,10)))
                       AS DECIMAL(26,12)) * 1000000) AS BIGINT)
           AS decayed_micro
FROM base
WHERE w BETWEEN 0 AND {_DECAY_MAX_W}
GROUP BY 1
"""


@q("q_decayed_value", oracle_sql=_DECAY_ORACLE)
def decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10++ feature path [EXT]: exponentially time-decayed customer
    value — Σ price·2^(−w), w = elapsed {HL}-day half-lives at the
    corpus anchor (max order date), window capped at w ≤ {W} — the
    standard recency-weighted LTV / engagement feature, computed with
    ZERO transcendentals: a half-life weight of 2^(−w) for integer w is
    an exact power of two (1.0 / (1 << w) — one exact IEEE division,
    and an exact {W}dp DECIMAL), so every term price(2dp)·2^(−w) is an
    exact ≤12dp decimal, the sum accumulates exactly and order-free,
    and the output is floor(sum·10⁶) as BIGINT — no double rounding
    anywhere, immune to every .5-boundary trap by construction. This is
    the repo's decimal-fold discipline taken to its limit: the entire
    aggregate is integer-exact end to end. (pow(0.5, x) would be the
    naive spelling — pow is not correctly rounded and not portable.)

    Plan shape: the anchor is a one-row broadcast scalar; the decay
    window (w ≤ {W} ⇒ orders newer than {WIN} days) prunes the scan —
    at 100 TB with date-partitioned storage this is partition pruning,
    and the aggregate is one hash agg by customer with map-side
    combine. Incremental story: a stored decayed sum re-anchors by one
    scalar multiply (decay is an exponential: S(t+Δ) = S(t)·2^(−Δ/hl)),
    so per-segment states merge and roll forward without rescanning
    history."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    base = (
        o.crossJoin(F.broadcast(anchor))
        .withColumn(
            "w",
            F.floor(
                F.datediff(F.col("anchor"), F.col("o_orderdate"))
                / F.lit(float(_DECAY_HL_DAYS))
            ).cast("int"),
        )
        .where(F.col("w").between(0, _DECAY_MAX_W))
    )
    weight = (F.lit(1.0) / F.expr("shiftleft(1, w)")).cast("decimal(11,10)")
    # try convention at the input fold seam (r13 inline-fold cohort): a
    # price outside DECIMAL(12,2) NULLs its term on BOTH engines — the
    # oracle TRY_CASTs at this SAME (12,2) before its lossless (19,2)
    # widen, so the admitted range is engine-identical (the r11 tmoney
    # lesson: an oracle admitting a wider range keeps values the engine
    # drops)
    term = F.col("o_totalprice").try_cast("decimal(12,2)") * weight
    return (
        base.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(term).alias("s"),
        )
        .select(
            "o_custkey",
            "n_orders",
            F.floor(F.col("s").cast("decimal(26,12)") * F.lit(1000000))
            .cast("bigint")
            .alias("decayed_micro"),
        )
    )


decayed_value.__doc__ = decayed_value.__doc__.format(
    HL=_DECAY_HL_DAYS, W=_DECAY_MAX_W, WIN=_DECAY_HL_DAYS * (_DECAY_MAX_W + 1)
)


# --- Grouped KMV distinct sketch (per-segment cardinality) --------------

_GKMV_K = 256

_GKMV_ORACLE = f"""
WITH hashed AS (
    SELECT DISTINCT o_orderpriority AS grp,
           CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))
                AS BIGINT) AS h
    FROM orders WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL
),
kmin AS (
    SELECT grp, h FROM hashed
    QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) <= {_GKMV_K}
),
hk AS (
    SELECT grp, MAX(h) AS h_k, CAST(COUNT(*) AS BIGINT) AS k_got
    FROM kmin GROUP BY 1
),
exact AS (
    SELECT o_orderpriority AS grp,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           CAST(COUNT(o_custkey) AS BIGINT) AS n_rows
    FROM orders WHERE o_orderpriority IS NOT NULL
    GROUP BY 1
),
est AS (
    SELECT hk.grp, hk.k_got AS k, e.n_rows, hk.h_k,
           CASE WHEN hk.k_got < {_GKMV_K} THEN CAST(hk.k_got AS DOUBLE)
                ELSE ROUND(CAST(hk.k_got - 1 AS DOUBLE)
                           * CAST(4294967296 AS DOUBLE)
                           / CAST(hk.h_k AS DOUBLE), 4)
           END AS est_distinct,
           e.exact_distinct
    FROM hk JOIN exact e ON e.grp = hk.grp
)
SELECT grp, k, n_rows, h_k, est_distinct, exact_distinct,
       ROUND(ABS(est_distinct - CAST(exact_distinct AS DOUBLE))
             / CAST(exact_distinct AS DOUBLE), 6) AS rel_err,
       (ROUND(ABS(est_distinct - CAST(exact_distinct AS DOUBLE))
              / CAST(exact_distinct AS DOUBLE), 6)
        <= 3.0 / sqrt(CAST({_GKMV_K - 2} AS DOUBLE))) AS bounds_ok
FROM est
"""


@q("q_sketch_group_distinct", oracle_sql=_GKMV_ORACLE)
def sketch_group_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9++ grouped scale path [EXT]: per-segment cardinality — distinct
    buying customers per order priority via one KMV sketch (k={K}) per
    group, the grouped face of ``q_sketch_distinct_kmv`` and the most
    common production cardinality ask (distinct users per day, distinct
    tokens per tenant). Every per-group contract is the flat one:
    full-replay (k−1)·2³²/h_k estimator, exact-verify tier, non-full
    sketch exact by rule (the sf0.001 fixture lands every group in the
    exact regime, sf0.01 in the estimator regime — both graded), 3σ
    ``bounds_ok`` verdict as data.

    Plan shape (``operators/sketches.kmv_distinct_grouped``): one
    grouped bounded fold per partition (≤ k·P·|groups| union rows)
    behind an eager localCheckpoint; per-group k-min is a
    group-partitioned rank window over the bounded union (balanced,
    never global); the exact tier's grouped count_distinct is the only
    distinct-key shuffle and exists to be graded. At 100 TB: segment
    cardinalities for every group from one narrow pass + a k-row state
    per group, merged by union across partitions/ticks."""
    from modevetl_spark.operators.sketches import kmv_distinct_grouped

    prep(spark)
    o = load(spark, sf_dir, "orders")
    return kmv_distinct_grouped(o, "o_orderpriority", "o_custkey", k=_GKMV_K)


sketch_group_distinct.__doc__ = sketch_group_distinct.__doc__.format(K=_GKMV_K)


# --- Grouped heavy hitters (per-group Misra-Gries + exact verify) -------

_HHG_K = 32
_HHG_DENOM = 30

_HH_GROUPED_ORACLE = f"""
WITH toks AS (
    SELECT lang,
           unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents WHERE lang IS NOT NULL
),
tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_grp FROM toks GROUP BY 1)
SELECT c.lang, c.tok, c.cnt,
       ROUND(CAST(c.cnt AS DOUBLE) / t.n_grp, 6) AS share
FROM (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1, 2) c
JOIN tot t ON t.lang = c.lang
WHERE c.cnt * {_HHG_DENOM} > t.n_grp
"""


@q("q_heavy_hitters_grouped", oracle_sql=_HH_GROUPED_ORACLE)
def heavy_hitters_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2++ grouped scale path [EXT]: per-LANGUAGE heavy-hitter tokens —
    every token whose in-language frequency exceeds n_lang/{D}, found by
    per-(partition, group) Misra–Gries summaries (k={K} counters per
    group) and exact-verified, completing the grouped-sketch trilogy
    (quantiles → cardinality → heavy hitters): a sketch is an
    aggregation state, so GROUP BY over sketches is per-group
    maintenance of the same bounded fold.

    Per-group guarantee (the flat pigeonhole applied within each
    group's substream): a token above n_g/{D} in group g exceeds
    n_{{p,g}}/(k+1) in some partition's g-slice, so it survives that
    slice's trim and reaches the verify pass — the output is the TRUE
    per-group heavy-hitter set with exact counts, independent of
    partitioning, hash-graded against the plain GROUP BY/HAVING oracle.

    Plan shape (``operators/sketches.heavy_hitters_grouped_exact``):
    the sketch pass is one mapInPandas fold (state ≤ 2k·|groups|
    counters, NO shuffle) behind an eager localCheckpoint; candidates
    (≤ k·P·|groups| rows) broadcast into the verify pass, which
    hash-aggregates candidate (lang, token) pairs only — the full
    per-language vocabulary is never shuffled. At 100 TB this is the
    per-tenant hot-key report: one stream pass + one broadcast-filtered
    aggregate, however many tenants."""
    from modevetl_spark.operators._util import spread
    from modevetl_spark.operators.sketches import heavy_hitters_grouped_exact
    from modevetl_spark.operators.text import tokens

    prep(spark)
    d = spread(load(spark, sf_dir, "documents"))
    stream = d.where(F.col("lang").isNotNull()).select(
        "lang", F.explode(tokens("text")).alias("tok")
    )
    return heavy_hitters_grouped_exact(
        stream, "lang", "tok", k=_HHG_K, denom=_HHG_DENOM
    )


heavy_hitters_grouped.__doc__ = heavy_hitters_grouped.__doc__.format(
    K=_HHG_K, D=_HHG_DENOM
)


# --- Explicit Bloom-filter semi-join pruning -----------------------------

_BLOOM_M = 8192

_BLOOM_ORACLE = f"""
WITH build AS (
    SELECT DISTINCT o_custkey AS ck FROM orders
    WHERE o_orderpriority = '1-URGENT'
),
bits AS (
    SELECT DISTINCT b FROM (
        SELECT CAST(('0x' || substr(md5(CAST(ck AS VARCHAR)), 1, 8))
                    AS BIGINT) % {_BLOOM_M} AS b FROM build
        UNION ALL
        SELECT CAST(('0x' || substr(md5(CAST(ck AS VARCHAR)), 9, 8))
                    AS BIGINT) % {_BLOOM_M} AS b FROM build
    )
),
probe AS (
    SELECT c_custkey AS ck,
           CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
                AS BIGINT) % {_BLOOM_M} AS h1,
           CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8))
                AS BIGINT) % {_BLOOM_M} AS h2
    FROM customer
),
pass AS (
    SELECT ck FROM probe
    WHERE h1 IN (SELECT b FROM bits) AND h2 IN (SELECT b FROM bits)
),
counts AS (
    SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM build) AS n_build,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_probe,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM probe
         WHERE ck IN (SELECT ck FROM build)) AS n_exact,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM pass) AS n_pass,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM probe
         WHERE ck IN (SELECT ck FROM build)
           AND ck NOT IN (SELECT ck FROM pass)) AS n_false_neg
)
SELECT CAST({_BLOOM_M} AS BIGINT) AS m, n_build, n_probe, n_exact, n_pass,
       n_pass - n_exact AS n_false_pos,
       CASE WHEN n_probe > n_exact
            THEN ROUND(CAST(n_pass - n_exact AS DOUBLE)
                       / (n_probe - n_exact), 6)
            ELSE CAST(0 AS DOUBLE) END AS fp_rate,
       (n_false_neg = 0) AS no_false_negatives
FROM counts
"""


@q("q_filter_bloom", oracle_sql=_BLOOM_ORACLE)
def filter_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4+ scale path [EXT]: explicit Bloom-filter semi-join pruning —
    the runtime-filter pattern with its error budget graded as data.
    Build side: custkeys holding URGENT orders fold to a bit-position
    set (two md5-derived hashes into m={M} bits — ≤ m rows no matter
    how many build keys, the whole point vs broadcasting the key set).
    Probe side: customers pass iff BOTH their bit positions are set.
    Output: the pruning ledger — build/probe/exact/passed counts, the
    false-positive count and rate, and the ``no_false_negatives``
    verdict (a Bloom filter may over-admit, it must never drop a true
    match; the oracle recomputes that guarantee from scratch).

    Plan shape: the bit set is a distinct over a 2·|build|-row
    projection, capped at m rows — broadcast to the probe as two
    semi-joins (the probe is scanned once, never shuffled); the exact
    tier is one hash semi-join and exists to be graded. At 100 TB this
    is what a join pre-filter looks like when the build side is too big
    to broadcast as keys but the probe side is too expensive to
    shuffle: m stays constant while |build| grows, and the measured
    fp_rate tells you when m needs another bit. Spark's AQE bloom
    runtime filters do this implicitly; here it is explicit, portable,
    and error-accounted."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")

    def h(col, start: int):
        return (
            F.conv(F.substring(F.md5(col.cast("string")), start, 8), 16, 10)
            .cast("bigint")
            % _BLOOM_M
        )

    build = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("ck"))
        .distinct()
    )
    bits = (
        build.select(h(F.col("ck"), 1).alias("b"))
        .unionByName(build.select(h(F.col("ck"), 9).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)  # consumed by two semi-joins
    )
    probe = c.select(
        F.col("c_custkey").alias("ck"),
        h(F.col("c_custkey"), 1).alias("h1"),
        h(F.col("c_custkey"), 9).alias("h2"),
    )
    passed = (
        probe.join(
            F.broadcast(bits.withColumnRenamed("b", "h1")), "h1", "left_semi"
        )
        .join(F.broadcast(bits.withColumnRenamed("b", "h2")), "h2", "left_semi")
        .select("ck")
        .localCheckpoint(eager=True)  # counted AND anti-probed below
    )
    exact = probe.join(F.broadcast(build), "ck", "left_semi").select("ck")
    n_build = build.agg(F.count(F.lit(1)).cast("bigint").alias("n_build"))
    n_probe = probe.agg(F.count(F.lit(1)).cast("bigint").alias("n_probe"))
    n_exact = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    n_pass = passed.agg(F.count(F.lit(1)).cast("bigint").alias("n_pass"))
    n_fneg = (
        exact.join(passed, "ck", "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_false_neg"))
    )
    row = (
        n_build.crossJoin(F.broadcast(n_probe))
        .crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(n_pass))
        .crossJoin(F.broadcast(n_fneg))
    )
    fp_rate = F.when(
        F.col("n_probe") > F.col("n_exact"),
        F.round(
            (F.col("n_pass") - F.col("n_exact")).cast("double")
            / (F.col("n_probe") - F.col("n_exact")),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return row.select(
        F.lit(_BLOOM_M).cast("bigint").alias("m"),
        "n_build",
        "n_probe",
        "n_exact",
        "n_pass",
        (F.col("n_pass") - F.col("n_exact")).alias("n_false_pos"),
        fp_rate.alias("fp_rate"),
        (F.col("n_false_neg") == 0).alias("no_false_negatives"),
    )


filter_bloom.__doc__ = filter_bloom.__doc__.format(M=_BLOOM_M)


# --- Count-Min sketch point-query audit ----------------------------------

_CM_W = 16
_CM_D = 4
_CM_K = 20

_CM_ORACLE = f"""
WITH toks AS (
    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents
),
cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
cm AS (
    SELECT u.j,
           CAST(('0x' || substr(md5(tok), 1 + 8 * u.j, 8)) AS BIGINT)
               % {_CM_W} AS b,
           CAST(SUM(c) AS BIGINT) AS mass
    FROM cnt, UNNEST([0, 1, 2, 3]) AS u(j)
    GROUP BY 1, 2
),
topk AS (
    SELECT tok, c FROM cnt
    QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, tok) <= {_CM_K}
),
probe AS (
    SELECT t.tok, t.c, u.j,
           CAST(('0x' || substr(md5(t.tok), 1 + 8 * u.j, 8)) AS BIGINT)
               % {_CM_W} AS b
    FROM topk t, UNNEST([0, 1, 2, 3]) AS u(j)
),
est AS (
    SELECT p.tok, p.c AS exact_cnt, CAST(MIN(cm.mass) AS BIGINT) AS est_cnt
    FROM probe p JOIN cm ON cm.j = p.j AND cm.b = p.b
    GROUP BY 1, 2
)
SELECT tok, exact_cnt, est_cnt,
       est_cnt - exact_cnt AS overest,
       ROUND(CAST((est_cnt - exact_cnt) * {_CM_W} AS DOUBLE)
             / (SELECT n FROM n), 6) AS rel_excess,
       (est_cnt >= exact_cnt) AS never_under
FROM est
"""


@q("q_sketch_countmin", oracle_sql=_CM_ORACLE)
def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2+++ sketch family [EXT]: Count-Min point-query audit — the
    linear frequency sketch (Cormode & Muthukrishnan 2005) next to the
    repo's Misra-Gries (heavy hitters), KMV (cardinality) and MRL
    (quantiles): d={D} md5-offset hash rows x w={W} buckets over the
    corpus token stream, point-queried at the exact top-{K} tokens.
    Output per token: exact count, CM estimate, the overestimate, its
    size in eps*N = N/w units (``rel_excess``), and the deterministic
    ``never_under`` verdict — CM can only OVERcount (a bucket holds the
    key's own mass plus collisions), and the oracle replays every
    bucket assignment bit-for-bit to prove it. All-integer arithmetic;
    the one division (rel_excess) is exact-IEEE on integer-valued
    doubles.

    Plan shape: ONE map-side-combined token aggregate (the only
    data-sized shuffle, materialized once behind a localCheckpoint and
    read by the state/top-k/total branches — at 100 TB this is the
    persisted count table); the CM state is <= d*w rows regardless of
    vocabulary and broadcasts to the probe join; top-k is
    TakeOrdered (bottom-k heaps, no global window); states from
    disjoint corpus shards MERGE by (j, b) addition — the linear-sketch
    property that makes CM the standing-tick/streaming choice where
    exact counting would shuffle the vocabulary every batch."""
    from modevetl_spark.operators._util import spread
    from modevetl_spark.operators.sketches import countmin_estimate, countmin_state
    from modevetl_spark.operators.text import tokens

    prep(spark)
    d = spread(load(spark, sf_dir, "documents"))
    cnt = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)  # state + top-k + total all read it
    )
    state = countmin_state(cnt, "tok", "c", w=_CM_W, d=_CM_D)
    topk = cnt.orderBy(F.col("c").desc(), "tok").limit(_CM_K)
    # est derives from the same checkpointed cnt as topk: rename its
    # key column so the join is not a self-join lineage hazard
    est = countmin_estimate(
        state, topk.select("tok"), "tok", w=_CM_W, d=_CM_D
    ).select(F.col("tok").alias("_tk"), "est_cnt")
    n = cnt.agg(F.sum("c").cast("bigint").alias("n"))
    return (
        topk.join(F.broadcast(est), F.col("tok") == F.col("_tk"))
        .crossJoin(F.broadcast(n))
        .select(
            "tok",
            F.col("c").alias("exact_cnt"),
            "est_cnt",
            (F.col("est_cnt") - F.col("c")).alias("overest"),
            F.round(
                ((F.col("est_cnt") - F.col("c")) * _CM_W).cast("double")
                / F.col("n"),
                6,
            ).alias("rel_excess"),
            (F.col("est_cnt") >= F.col("c")).alias("never_under"),
        )
    )


sketch_countmin.__doc__ = sketch_countmin.__doc__.format(
    D=_CM_D, W=_CM_W, K=_CM_K
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


# --- k-anonymity audit over a generalization ladder ----------------------

_KANON_K = 5

_KANON_ORACLE = f"""
WITH qi AS (
    SELECT c_mktsegment AS seg, c_nationkey AS nat,
           CASE WHEN abs(c_acctbal) < 9.2e18
                THEN CAST(FLOOR(c_acctbal / 1000) AS BIGINT) END AS bal_kb
    FROM customer
),
cls AS (
    SELECT GROUPING_ID(seg, nat, bal_kb) AS gid,
           CAST(COUNT(*) AS BIGINT) AS sz
    FROM qi GROUP BY ROLLUP (seg, nat, bal_kb)
),
hist AS (
    SELECT gid, sz,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(sz) AS BIGINT) AS n_rows
    FROM cls WHERE gid < 7
    GROUP BY 1, 2
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_rows FROM qi)
SELECT CAST(gid AS BIGINT) AS level, sz AS class_size, n_classes, n_rows,
       CAST(n_rows AS DOUBLE) / total_rows AS row_share,
       (sz < {_KANON_K}) AS risky
FROM hist, total
"""


@q("q_privacy_kanonymity", oracle_sql=_KANON_ORACLE)
def privacy_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4++ governance [EXT]: k-anonymity audit (Sweeney 2002) over a
    generalization ladder — the re-identification risk report a
    training-data release needs: how many customers sit in a
    quasi-identifier equivalence class smaller than k={K}, and how each
    generalization step (drop the account-balance bucket, then the
    nation) repairs it. Output: per (generalization level, class size)
    — class count, row count, row share, and the ``risky`` verdict
    (size < k). Levels are the ROLLUP grouping ids over (segment,
    nation, balance-kilobucket): 0 = full QI, 1 = balance generalized,
    3 = nation too; the grand total (gid 7) is dropped.

    Plan shape: the entire ladder is ONE rollup aggregate — Spark
    expands the grouping sets map-side, so every level shares a single
    map-side-combined exchange instead of one scan per level; the size
    histogram is a second tiny agg over the class table (|classes|
    rows, checkpointed so the grand-total branch does not re-scan), and
    the total is the rollup's own gid-7 row broadcast as a scalar. At
    100 TB: cost is the one QI shuffle; class tables are |distinct QI|
    regardless of rows.
    The balance bucket boundary is FLOOR over an exact-IEEE division
    (k·1000.00 / 1000 is exact, so boundary rows cannot flip between
    engines). An out-of-floor-range balance (|x| ≥ 9.2e18, the r11
    floor-guard convention — Spark saturates where DuckDB's BIGINT
    cast raises) folds to a NULL bucket rather than dropping the
    customer: the row still counts in every class/total (a privacy
    audit must not silently exclude people), its balance is just
    ungeneralizable — exactly the NULL-balance convention. Mirrored in
    the oracle (r12 verdict #3 oracle hardening)."""
    prep(spark)
    c = load(spark, sf_dir, "customer")
    qi = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.when(
            F.abs(F.col("c_acctbal")) < 9.2e18,
            F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0)).cast(
                "bigint"
            ),
        ).alias("bal_kb"),
    )
    cls0 = (
        qi.rollup("seg", "nat", "bal_kb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("sz"),
            F.grouping_id().alias("gid"),
        )
        # bounded (|classes| rows); materialized so the histogram and
        # the grand-total branches share ONE customer scan
        .localCheckpoint(eager=True)
    )
    hist = cls0.where(F.col("gid") < 7).groupBy("gid", "sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("sz").cast("bigint").alias("n_rows"),
    )
    # the grand-total row (gid 7) IS the row count — rollup computed it
    total = cls0.where(F.col("gid") == 7).select(
        F.col("sz").alias("total_rows")
    )
    return hist.crossJoin(F.broadcast(total)).select(
        F.col("gid").cast("bigint").alias("level"),
        F.col("sz").alias("class_size"),
        "n_classes",
        "n_rows",
        (F.col("n_rows").cast("double") / F.col("total_rows")).alias(
            "row_share"
        ),
        (F.col("sz") < _KANON_K).alias("risky"),
    )


privacy_kanonymity.__doc__ = privacy_kanonymity.__doc__.format(K=_KANON_K)


# --- Discrete-time survival / churn hazard --------------------------------

_HAZARD_MAX_J = 20

_HAZARD_ORACLE = f"""
WITH n AS (
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS c
    FROM orders GROUP BY 1
),
dist AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM n GROUP BY 1),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM dist),
grid AS (SELECT CAST(j AS BIGINT) AS j FROM UNNEST(range(1, {_HAZARD_MAX_J + 1})) AS t(j)),
curve AS (
    SELECT g.j,
           CAST(SUM(d.cnt) AS BIGINT) AS n_at_risk,
           CAST(SUM(CASE WHEN d.c = g.j THEN d.cnt ELSE 0 END) AS BIGINT)
               AS n_churned,
           CAST(SUM(CASE WHEN d.c > g.j THEN d.cnt ELSE 0 END) AS BIGINT)
               AS n_survived
    FROM grid g JOIN dist d ON d.c >= g.j
    GROUP BY 1
)
SELECT c.j AS order_rank, c.n_at_risk, c.n_churned, c.n_survived,
       CAST(c.n_churned AS DOUBLE) / c.n_at_risk AS hazard,
       CAST(c.n_survived AS DOUBLE) / t.n_total AS survival
FROM curve c, total t
WHERE c.n_at_risk > 0
"""


@q("q_churn_hazard", oracle_sql=_HAZARD_ORACLE)
def churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10+ lifecycle analytics [EXT]: discrete-time survival — the
    churn curve over order rank j: of the customers who reached their
    j-th order, what fraction stopped there (hazard) and what fraction
    of the whole cohort went past it (survival)? The life-table shape
    (Kaplan-Meier on a discrete clock) that retention/q_cohort_ltv do
    not cover: hazard(j) = |n = j| / |n >= j|, survival(j) =
    |n > j| / |cohort|, both exact integer divisions on identical
    integers in both engines, so the doubles are emitted RAW — no
    rounding, no fold, no .5-boundary exposure.

    Plan shape: ONE map-side-combined count by customer, collapsed to
    its counts-of-counts distribution (<= max-orders-per-customer rows,
    a tiny relation) — the life table then derives from a broadcast
    theta-join of the literal rank grid (j <= {J}, config-bounded)
    against that distribution: at 100 TB the only data-sized exchange
    is the per-customer count; everything after operates on dozens of
    rows. No window anywhere — the at-risk cumulative is the grid
    theta-join, not a running sum over a data-derived relation."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    n = o.groupBy("o_custkey").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    dist = (
        n.groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True)  # tiny; read by curve + total
    )
    total = dist.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    grid = spark.range(1, _HAZARD_MAX_J + 1).select(F.col("id").alias("j"))
    curve = (
        grid.join(F.broadcast(dist), F.col("c") >= F.col("j"))
        .groupBy("j")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_at_risk"),
            F.sum(F.when(F.col("c") == F.col("j"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_churned"),
            F.sum(F.when(F.col("c") > F.col("j"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_survived"),
        )
    )
    return (
        curve.crossJoin(F.broadcast(total))
        .where(F.col("n_at_risk") > 0)
        .select(
            F.col("j").alias("order_rank"),
            "n_at_risk",
            "n_churned",
            "n_survived",
            (F.col("n_churned").cast("double") / F.col("n_at_risk")).alias(
                "hazard"
            ),
            (F.col("n_survived").cast("double") / F.col("n_total")).alias(
                "survival"
            ),
        )
    )


churn_hazard.__doc__ = churn_hazard.__doc__.format(J=_HAZARD_MAX_J)


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


# --- Weighted reservoir sample (A-ES, min-of-replica priorities) ---------

_WRES_K = 200

_WRES_ORACLE = f"""
WITH base AS (
    SELECT o_orderkey, o_totalprice,
           GREATEST(6 - COALESCE(
                        TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER),
                        5), 1)
               AS weight
    FROM orders
),
pri AS (
    SELECT o_orderkey, weight, o_totalprice,
           list_min(list_transform(range(1, weight + 1),
               i -> CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                                            || '#' || CAST(i AS VARCHAR)),
                                         1, 8)) AS BIGINT)
           )) AS priority
    FROM base
)
SELECT o_orderkey, CAST(weight AS BIGINT) AS weight, o_totalprice, priority
FROM pri ORDER BY priority NULLS LAST, o_orderkey LIMIT {_WRES_K}
"""


@q("q_sample_reservoir_weighted", oracle_sql=_WRES_ORACLE)
def sample_reservoir_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+16 [EXT]: weighted reservoir sample — EXACTLY k={K} orders
    where an order's inclusion odds scale with an integer importance
    weight (urgency: '1-URGENT' ⇒ w=5 … '5-LOW' ⇒ w=1), the weighted
    row-budget cut every curation recipe needs (oversample the rare
    high-value stratum without a separate stratified pass).

    Method: the A-ES weighted-reservoir ordering (Efraimidis &
    Spirakis 2006) keeps the k rows with the best priority u^(1/w) —
    equivalently, the minimum of w independent uniform draws, because
    min(u_1..u_w) has CDF 1−(1−x)^w, the same order statistic. The
    min-of-w-draws form needs NO pow() (not correctly rounded, not
    portable — the q_decayed_value lesson); each draw is the shared
    deterministic 32-bit md5 idiom on (key, replica-index), so the
    sample replays bit-identically in any engine. Two malformed-input
    guards keep parity structural: weight is clamped to ≥1 in BOTH
    engines (a priority digit ≥6 would give w≤0, where Spark's
    sequence(1, w) runs DESCENDING while DuckDB's range(1, w+1) is
    empty→NULL — a silent divergence), and null priorities are pinned
    NULLS LAST in BOTH engines (Spark's asc default is NULLS FIRST,
    DuckDB's NULLS LAST). Weight mix in the fixture sample confirms
    the gradient (w=5 lands ~3x more rows than w=1 at sf0.01).

    Plan shape: the w replica hashes materialize as a ROW-LOCAL array
    (transform over sequence(1, w)) folded by array_min — no explode,
    no per-replica rows, no shuffle of any kind; then ORDER BY priority
    LIMIT k compiles to TakeOrderedAndProject (per-task k-row heaps,
    driver merges |tasks|·k rows) exactly like q_sample_reservoir. At
    100 TB: one streaming scan, k·P-row driver merge, weights bounded
    by the priority domain (≤5 hashes per row)."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    # try_cast + COALESCE(·, 5): a malformed priority digit (empty or
    # non-numeric string in dirty data) clamps to the minimum weight 1
    # instead of an ANSI CAST_INVALID_INPUT job abort; the oracle's
    # TRY_CAST/COALESCE pair implements the identical rule.
    weight = F.greatest(
        F.lit(6)
        - F.coalesce(
            F.substring(F.col("o_orderpriority"), 1, 1).try_cast("int"),
            F.lit(5),
        ),
        F.lit(1),
    ).alias("weight")
    replica_hash = lambda i: F.conv(  # noqa: E731
        F.substring(
            F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit("#"),
                    i.cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    priority = F.array_min(
        F.transform(F.sequence(F.lit(1), F.col("weight")), replica_hash)
    )
    return (
        o.select("o_orderkey", weight, "o_totalprice")
        .withColumn("priority", priority)
        .select(
            "o_orderkey",
            F.col("weight").cast("bigint").alias("weight"),
            "o_totalprice",
            "priority",
        )
        .orderBy(F.col("priority").asc_nulls_last(), "o_orderkey")
        .limit(_WRES_K)
    )


sample_reservoir_weighted.__doc__ = sample_reservoir_weighted.__doc__.format(
    K=_WRES_K
)


# --- Per-source KL divergence vs the corpus LM (domain-shift audit) ------

_KL_ORACLE = r"""
WITH tok AS (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                              x -> x <> '')) AS tok
    FROM documents
),
sw AS (
    SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_sw
    FROM tok GROUP BY 1, 2
),
s_tot AS (
    SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s,
           CAST(COUNT(*) AS BIGINT) AS vocab_s
    FROM sw GROUP BY 1
),
corpus AS (
    SELECT tok, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY 1
),
tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n FROM corpus),
terms AS (
    SELECT sw.source,
           CAST(sw.c_sw AS DECIMAL(10,0))
             * CAST(ROUND(log2(CAST(sw.c_sw AS DOUBLE))
                          - log2(CAST(st.n_s AS DOUBLE))
                          - log2(CAST(c.c_w AS DOUBLE))
                          + log2(CAST(t.n AS DOUBLE)), 9)
                    AS DECIMAL(18,9)) AS contrib
    FROM sw
    JOIN s_tot st ON st.source = sw.source
    JOIN corpus c ON c.tok = sw.tok
    CROSS JOIN tot t
)
SELECT tm.source, st.n_s AS n_tokens, st.vocab_s AS vocab,
       ROUND(CAST(SUM(tm.contrib) AS DOUBLE) / st.n_s, 6) AS kl_bits
FROM terms tm JOIN s_tot st ON st.source = tm.source
GROUP BY 1, 2, 3
"""


@q("q_source_kl_divergence", oracle_sql=_KL_ORACLE)
def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+2 [EXT]: per-source KL divergence D(p_source ‖ p_corpus) over
    unigram token distributions, in bits — the domain-shift score a
    mixture-curation pipeline ranks sources by (which slices drift
    furthest from the blend they feed). KL(s) = Σ_w (c_sw/n_s) ·
    log2((c_sw/n_s)/(c_w/n)); always ≥ 0, and 0 iff the source speaks
    exactly the corpus distribution.

    Float discipline: each log term expands to the ± chain
    log2(c_sw) − log2(n_s) − log2(c_w) + log2(n) — log2 of INTEGER
    arguments only, which the engines agree on bit-for-bit (log2 of
    rationals drifts 1 ulp ~28% of the time; the q_token_entropy
    lesson) — rounded to 9dp, scaled by the exact integer count c_sw
    as a DECIMAL multiply, decimal-summed (order-free), and the final
    /n_s mean rounded at 6dp (the q_bigram_surprisal shape).

    Plan shape: ONE document scan feeds explode → (source, token) hash
    agg with map-side combine; both marginals (per-source totals,
    corpus token counts) are rollups OF THAT AGG, never a second fact
    scan (the Catalyst no-CTE-reuse lesson: aggregate once, derive
    margins from the output). The (source, token) stream joins the
    20-row source table and the vocabulary-sized corpus table — both
    broadcast here (the fixture vocabulary is tiny); the grand total
    rides a one-row broadcast cross join. At 100 TB one exchange
    reaches the (source, token) agg and the |sources| margins stay
    broadcast; only if the vocabulary outgrows broadcast (~100M+
    tokens) does the corpus-margin join drop the hint and fall back
    to a hash exchange keyed on token — linear in the AGG's size
    (vocabulary × sources), never in corpus rows."""
    from modevetl_spark.operators.text import tokens

    prep(spark)
    d = load(spark, sf_dir, "documents")
    sw = (
        d.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_sw"))
        .localCheckpoint()
    )
    s_tot = sw.groupBy(F.col("source").alias("st_source")).agg(
        F.sum("c_sw").cast("bigint").alias("n_s"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_s"),
    )
    corpus = sw.groupBy(F.col("tok").alias("c_tok")).agg(
        F.sum("c_sw").cast("bigint").alias("c_w")
    )
    tot = corpus.agg(F.sum("c_w").cast("bigint").alias("n"))
    term9 = F.round(
        F.log2(F.col("c_sw").cast("double"))
        - F.log2(F.col("n_s").cast("double"))
        - F.log2(F.col("c_w").cast("double"))
        + F.log2(F.col("n").cast("double")),
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
            (F.col("c_sw").cast("decimal(10,0)") * term9).alias("contrib"),
        )
    )
    return terms.groupBy("source", "n_s", "vocab_s").agg(
        F.round(
            F.sum("contrib").cast("double") / F.col("n_s").cast("double"), 6
        ).alias("kl_bits")
    ).select(
        "source",
        F.col("n_s").alias("n_tokens"),
        F.col("vocab_s").alias("vocab"),
        "kl_bits",
    )


# --- Mixture reweighting plan (target-share sampling rates) --------------

# Target mixture in basis points (sums to exactly 10000): the first
# source quartile is upweighted web-tier, the last is downweighted
# long-tail — a deliberately non-uniform target so both regimes
# (downsample rate < 1.0 and multi-epoch upsampling) appear at every SF.
_MIX_SHARES_BP = {
    f"src{i}": (900 if i < 4 else 700 if i < 8 else 450 if i < 12
                else 275 if i < 16 else 175)
    for i in range(20)
}
assert sum(_MIX_SHARES_BP.values()) == 10000
_MIX_BUDGET_X = 2  # global token budget = 2x the available corpus

_MIX_ORACLE = rf"""
WITH avail AS (
    SELECT source,
           CAST(SUM(len(list_filter(regexp_split_to_array(lower(text),
                                                          '\s+'),
                                    x -> x <> ''))) AS BIGINT)
               AS avail_tokens
    FROM documents GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(avail_tokens) * {_MIX_BUDGET_X} AS BIGINT) AS budget
    FROM avail
),
tgt(source, share_bp) AS (VALUES {", ".join(
    f"('{s}', {bp})" for s, bp in sorted(_MIX_SHARES_BP.items())
)}),
plan AS (
    SELECT a.source, a.avail_tokens, CAST(g.share_bp AS BIGINT) AS share_bp,
           CAST(t.budget * g.share_bp // 10000 AS BIGINT) AS required_tokens
    FROM avail a JOIN tgt g ON g.source = a.source CROSS JOIN tot t
    WHERE a.avail_tokens > 0
)
SELECT source, avail_tokens, share_bp, required_tokens,
       CAST(required_tokens * 1000000 // avail_tokens AS BIGINT) AS rate_ppm,
       CAST((required_tokens + avail_tokens - 1) // avail_tokens AS BIGINT)
           AS epochs,
       CAST(GREATEST(required_tokens - avail_tokens, 0) AS BIGINT)
           AS deficit_tokens
FROM plan
"""


@q("q_mixture_weights", oracle_sql=_MIX_ORACLE)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+2 [EXT]: data-mixture reweighting plan — given per-source
    available token mass and a target mixture (basis-point shares over
    sources, a config literal), emit each source's sampling plan for a
    global token budget of {X}x the corpus: required tokens
    (budget·share), sampling rate in ppm (>1e6 ⇒ upsample), epoch
    count (ceil of required/available — how many passes over the
    source a loader schedules), and the upsampling deficit. This is
    the planning step of mixture curation (cf. the published
    DoReMi/Pile recipes): the weights every downstream sampler
    (q_sample_hash rates, q_split_assign) consumes.

    Exactness: every output is INTEGER arithmetic — required =
    budget·share_bp div 10⁴, rate_ppm = required·10⁶ div avail,
    epochs = (required+avail−1) div avail — no floats anywhere, so
    cross-engine parity is structural. (Spark `div` truncates and
    DuckDB `//` floors; all operands here are non-negative, where the
    two agree. Products stay < 2⁶³ up to ~10¹² available tokens per
    source; past that, rate_ppm needs the split div/mod form — noted
    for the 100 TB config, not needed at any graded SF.) Zero-mass
    sources (every document empty) are filtered in BOTH engines —
    no sampling rate exists for them, and the division would raise
    in DuckDB and under Spark ANSI rather than NULL quietly.

    Plan shape: ONE document scan → per-source token-mass hash agg,
    materialized at |sources| rows (localCheckpoint — Catalyst has no
    CTE reuse, and the budget scalar would otherwise re-scan the fact
    through a second agg subtree); the budget is a one-row broadcast
    cross join OVER that table, and the target grid is a |sources|-row
    JVM-side literal (range(1) + explode of a struct array — no Python
    RDD anywhere). Everything after the single map-side-combined agg
    is bounded by |sources|."""
    from modevetl_spark.operators.text import tokens

    prep(spark)
    d = load(spark, sf_dir, "documents")
    avail = (
        d.select("source", F.size(tokens("text")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("avail_tokens"))
        .localCheckpoint()
    )
    tot = avail.agg(
        (F.sum("avail_tokens") * _MIX_BUDGET_X).cast("bigint").alias("budget")
    )
    tgt = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("tgt_source"),
                            F.lit(bp).cast("bigint").alias("share_bp"),
                        )
                        for s, bp in sorted(_MIX_SHARES_BP.items())
                    ]
                )
            ).alias("kv")
        )
        .select("kv.tgt_source", "kv.share_bp")
    )
    plan = (
        avail.filter(F.col("avail_tokens") > 0)
        .join(F.broadcast(tgt), F.col("source") == F.col("tgt_source"))
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "avail_tokens",
            "share_bp",
            F.expr("budget * share_bp div 10000")
            .cast("bigint")
            .alias("required_tokens"),
        )
    )
    return plan.select(
        "source",
        "avail_tokens",
        "share_bp",
        "required_tokens",
        F.expr("required_tokens * 1000000 div avail_tokens")
        .cast("bigint")
        .alias("rate_ppm"),
        F.expr("(required_tokens + avail_tokens - 1) div avail_tokens")
        .cast("bigint")
        .alias("epochs"),
        F.greatest(
            F.col("required_tokens") - F.col("avail_tokens"), F.lit(0)
        )
        .cast("bigint")
        .alias("deficit_tokens"),
    )


mixture_weights.__doc__ = mixture_weights.__doc__.format(X=_MIX_BUDGET_X)


# --- Inter-rater agreement (Cohen's kappa) over rule labelers ------------

_RATER_LEN_T = 56  # labeler A: n_tokens >= T  => 'good'
_RATER_STOP_DENOM = 16  # labeler B: stopword share >= 1/16 => 'good'

_KAPPA_STOPLIST_SQL = (
    "['the','of','and','to','in','a','is','that','it','for','on','with',"
    "'as','are','was','at','by','an','be','this','from','or','which','you',"
    "'not','have','has','had','they','his','her','its','our','their','we']"
)

_KAPPA_ORACLE = rf"""
WITH lab AS (
    SELECT lang,
           (len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) >= {_RATER_LEN_T}) AS a_good,
           (len(list_filter(list_filter(regexp_split_to_array(lower(text),
                                                              '\s+'),
                                        x -> x <> ''),
                x -> list_contains({_KAPPA_STOPLIST_SQL}, x)))
                * {_RATER_STOP_DENOM}
            >= len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                               x -> x <> ''))) AS b_good
    FROM documents
),
cm AS (
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN a_good AND b_good THEN 1 ELSE 0 END)
                AS BIGINT) AS n11,
           CAST(SUM(CASE WHEN a_good AND NOT b_good THEN 1 ELSE 0 END)
                AS BIGINT) AS n10,
           CAST(SUM(CASE WHEN NOT a_good AND b_good THEN 1 ELSE 0 END)
                AS BIGINT) AS n01,
           CAST(SUM(CASE WHEN NOT a_good AND NOT b_good THEN 1 ELSE 0 END)
                AS BIGINT) AS n00
    FROM lab GROUP BY 1
)
SELECT lang, n_docs, n11, n10, n01, n00,
       CAST(n11 + n00 AS DOUBLE) / n_docs AS agree_rate,
       CASE WHEN n_docs * n_docs
                 - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)) = 0 THEN NULL
            ELSE CAST(n_docs * (n11 + n00)
                      - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00))
                      AS DOUBLE)
                 / CAST(n_docs * n_docs
                        - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00))
                        AS DOUBLE)
       END AS kappa
FROM cm
"""


@q("q_rater_agreement", oracle_sql=_KAPPA_ORACLE)
def rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+3 [EXT]: inter-rater agreement — Cohen's kappa (Cohen 1960)
    per language between two deterministic rule labelers over the
    document corpus: labeler A calls a doc 'good' on length
    (n_tokens ≥ {T}), labeler B on stopword density (stopword tokens ≥
    n_tokens/{D}, evaluated as the INTEGER cross-multiply n_stop·{D} ≥
    n_tokens — no ratio float). Kappa corrects raw agreement for
    chance: κ = (p_o − p_e)/(1 − p_e) — the standard audit before
    trusting any labeler ensemble (heuristic quality raters, LLM
    judges) enough to filter training data with it.

    Float discipline: the confusion matrix is four exact integer
    counts; κ expands over integers to (n·(n11+n00) − Σ margins·) /
    (n² − Σ margins·) and is emitted as ONE raw double division of two
    BIGINTs — identical IEEE ops on identical inputs are bit-identical
    across engines, and the driver's own 8dp normalization does the
    rest (the round-7 no-rounding lesson). The degenerate p_e = 1 cell
    (single-label language) is CASE-guarded to NULL in both engines
    (Spark ANSI vs DuckDB NULL-division divergence).

    Plan shape: one document scan → per-(lang) hash agg of four
    conditional sums with map-side combine (the labeler predicates are
    row-local token-array expressions, zero Python); everything after
    is arithmetic on the ≤|langs|-row table. At 100 TB: one exchange
    of |langs| partial rows — nothing else moves."""
    from modevetl_spark.operators.text import EN_STOPWORDS, tokens

    prep(spark)
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    sw_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_toks = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
    a_good = n_toks >= F.lit(_RATER_LEN_T)
    b_good = (n_stop * _RATER_STOP_DENOM) >= n_toks

    def cnt(pred) -> F.Column:
        return F.sum(F.when(pred, 1).otherwise(0)).cast("bigint")

    cm = d.select(
        "lang", a_good.alias("a_good"), b_good.alias("b_good")
    ).groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        cnt(F.col("a_good") & F.col("b_good")).alias("n11"),
        cnt(F.col("a_good") & ~F.col("b_good")).alias("n10"),
        cnt(~F.col("a_good") & F.col("b_good")).alias("n01"),
        cnt(~F.col("a_good") & ~F.col("b_good")).alias("n00"),
    )
    pe_num = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    den = F.col("n_docs") * F.col("n_docs") - pe_num
    kappa = F.when(den == 0, F.lit(None).cast("double")).otherwise(
        (F.col("n_docs") * (F.col("n11") + F.col("n00")) - pe_num).cast(
            "double"
        )
        / den.cast("double")
    )
    return cm.select(
        "lang",
        "n_docs",
        "n11",
        "n10",
        "n01",
        "n00",
        ((F.col("n11") + F.col("n00")).cast("double") / F.col("n_docs")).alias(
            "agree_rate"
        ),
        kappa.alias("kappa"),
    )


# --- Exact-substring duplicated runs (removal-planning dedup) ------------

_RUNS_N = 8  # gram width in tokens

_RUNS_ORACLE = rf"""
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '') AS tk
    FROM documents
),
g AS (
    SELECT doc_id,
           unnest(range(1, len(tk) - {_RUNS_N - 2})) AS pos,
           unnest(list_transform(range(1, len(tk) - {_RUNS_N - 2}),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                    || tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5]
                    || ' ' || tk[i+6] || ' ' || tk[i+7])) AS gram
    FROM t WHERE len(tk) >= {_RUNS_N}
),
cnt AS (SELECT gram, COUNT(*) AS c FROM g GROUP BY 1),
d AS (
    SELECT g.doc_id, g.pos FROM g JOIN cnt USING (gram) WHERE cnt.c > 1
),
l AS (
    SELECT doc_id, pos,
           CASE WHEN LAG(pos) OVER w IS NULL
                  OR pos - LAG(pos) OVER w > {_RUNS_N}
                THEN 1 ELSE 0 END AS brk
    FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl AS (
    SELECT doc_id, pos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
    FROM l
),
runs AS (
    SELECT doc_id, run_id,
           MAX(pos) - MIN(pos) + {_RUNS_N} AS run_tokens
    FROM isl GROUP BY 1, 2
),
nt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM t)
SELECT r.doc_id, nt.n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(SUM(run_tokens) AS BIGINT) AS dup_tokens,
       CAST(MAX(run_tokens) AS BIGINT) AS longest_run,
       CAST(SUM(run_tokens) AS DOUBLE) / nt.n_tokens AS dup_ratio
FROM runs r JOIN nt USING (doc_id)
GROUP BY 1, 2
"""


@q("q_dedup_substring_runs", oracle_sql=_RUNS_ORACLE)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+17 [EXT]: exact-substring duplicated RUNS — the removal-
    planning step of exact-substring deduplication (cf. Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    where q_dedup_spans reports each document's duplicated-gram RATIO,
    this emits the maximal duplicated REGIONS a curation pass would
    actually cut — per document: run count, total duplicated tokens,
    longest run, duplicated-token ratio. A word {N}-gram is duplicated
    when it occurs more than once in the corpus (any document,
    including elsewhere in the SAME one — internal boilerplate repeats
    are removal targets too); overlapping or touching duplicated grams
    (position gap ≤ {N}) merge into one run, so run_tokens =
    last_pos − first_pos + {N} is the exact union length of the
    covered token intervals, never double-counted.

    Cross-engine parity is structural: positions and run lengths are
    integers; dup_ratio is ONE raw double division of two BIGINTs
    (identical IEEE op both engines, driver-normalized at 8dp).

    Plan shape: positional grams via posexplode (Spark) / aligned
    parallel unnest (oracle); the gram-frequency agg collapses
    singleton grams map-side (the vast majority — partial agg does the
    heavy lifting), and the join back to positions is keyed on the
    gram hash, co-partitioned with the agg's own exchange. Run
    assembly is lag + running-sum windows partitioned BY DOCUMENT —
    per-task work bounded by the largest doc, never a global window.
    At 100 TB this is the standard Spark re-expression of
    suffix-array ExactSubstr: one gram-keyed exchange + doc-keyed
    windows riding one doc-keyed exchange; nothing all-pairs."""
    from modevetl_spark.operators.text import tokens, word_shingles

    prep(spark)
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("tk"))
    g = t.select(
        "doc_id",
        F.posexplode(word_shingles(F.col("tk"), _RUNS_N)).alias(
            "pos0", "gram"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
    cnt = g.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    dpos = (
        g.join(cnt.where(F.col("c") > 1), "gram")
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull()
        | ((F.col("pos") - F.lag("pos").over(w)) > _RUNS_N),
        1,
    ).otherwise(0)
    isl = dpos.withColumn("brk", brk).withColumn(
        "run_id",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = isl.groupBy("doc_id", "run_id").agg(
        (F.max("pos") - F.min("pos") + _RUNS_N).alias("run_tokens")
    )
    nt = t.select("doc_id", F.size("tk").cast("bigint").alias("n_tokens"))
    return (
        runs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_runs"),
            F.sum("run_tokens").cast("bigint").alias("dup_tokens"),
            F.max("run_tokens").cast("bigint").alias("longest_run"),
        )
        .join(nt, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "n_runs",
            "dup_tokens",
            "longest_run",
            # try_divide: NULL on a zero-token doc (possible only under
            # dirty data — e.g. a duplicated doc_id carrying empty text)
            # instead of an ANSI DIVIDE_BY_ZERO job abort; DuckDB's /
            # yields NULL on zero denominators, so the oracle agrees.
            F.try_divide(
                F.col("dup_tokens").cast("double"), F.col("n_tokens")
            ).alias("dup_ratio"),
        )
    )


dedup_substring_runs.__doc__ = dedup_substring_runs.__doc__.replace(
    "{N}", str(_RUNS_N)
)
