"""Retrieval scoring operators ([EXT] — the search-side companions of
the L2/L3 pipeline family): BM25 term scoring and reciprocal-rank
fusion of two exact rankings. Both oracle-gated.

Float discipline: BM25 terms are per-row expressions whose transcendental
(one LN) feeds a 6-dp-rounded per-row output — never an order-sensitive
sum — with every mixed int/double step explicitly cast and shaped
identically in both engines (the q_text_tfidf grade). RRF is stronger:
ranks are integers and 1/(60+rank) is a single exact division, so the
fused score is bit-identical across engines with no transcendental at
all.

Also here:

- ``q_embedding_quantize`` — int8 scalar quantization of the embeddings.
- ``q_sim_topk_quantized`` — int8 ADC candidates, exact rerank, recall@k.
- ``q_sim_topk_ivf_sq`` — IVF cells in front of the int8 ADC scan.
- ``q_sim_mmr_rerank`` — Maximal Marginal Relevance rerank of a shortlist.
- ``q_eval_ndcg`` — NDCG@k of the brute-force cosine tier.
- ``q_rank_rbo`` — rank-biased overlap of two rankings of parts.
- ``q_mine_hard_negatives`` — hardest positive and negative per anchor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modevetl_spark.functions.jvmnum import round_repr
from modevetl_spark.operators._util import spread
from modevetl_spark.operators.similarity import (
    CLEAN_EMB_SQL,
    cosine_pre,
    nrm,
    sq_recon,
    sq_stat_arrays,
    well_formed,
)
from modevetl_spark.operators.text import tokens
from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()


# --- BM25 term scoring --------------------------------------------------

_BM25_ORACLE = """
WITH tf AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents
),
tfc AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tfc GROUP BY doc_id),
stats AS (
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl
),
dfc AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tfc GROUP BY tok)
SELECT doc_id, tok,
       ROUND(
           LN((CAST(s.n_docs - dfc.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
              / (CAST(dfc.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
              + CAST(1.0 AS DOUBLE))
           * (CAST(tfc.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
           / (CAST(tfc.tf AS DOUBLE)
              + CAST(1.2 AS DOUBLE)
                * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                   + CAST(0.75 AS DOUBLE)
                     * (CAST(dl.dl AS DOUBLE) / s.avgdl))),
           6) AS bm25
FROM tfc
JOIN dfc USING (tok)
JOIN dl USING (doc_id)
CROSS JOIN stats s
WHERE doc_id < 100
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY doc_id
    ORDER BY ROUND(
        LN((CAST(s.n_docs - dfc.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
           / (CAST(dfc.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
           + CAST(1.0 AS DOUBLE))
        * (CAST(tfc.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
        / (CAST(tfc.tf AS DOUBLE)
           + CAST(1.2 AS DOUBLE)
             * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                + CAST(0.75 AS DOUBLE)
                  * (CAST(dl.dl AS DOUBLE) / s.avgdl))) , 6) DESC,
        tok
) <= 3
"""


@q("q_text_bm25", oracle_sql=_BM25_ORACLE)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+: BM25 top-3 terms per document (k1=1.2, b=0.75) — the
    ranking-function upgrade of q_text_tfidf that length-normalizes term
    frequency, the scoring half of a lexical retrieval index.

    Plan shape (same skeleton as TF-IDF): explode → (doc,tok) hash agg
    with map-side combine is the only LOGICAL pass over the text; doc
    length (sum of tf), the one-row (n_docs, avgdl) stats, and the
    vocabulary DF table all derive from that TF relation and broadcast
    back onto it — corpus stats are thus over docs with ≥1 token (the
    fixture has none without). Catalyst inlines the TF subtree per
    consumer (column-pruned scans — fine at test scale); at 100 TB
    persist the TF relation once (one shuffle write) so the corpus
    tokenizes exactly once, same guidance as q_text_tfidf."""
    prep(spark)
    d = spread(load(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    df = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    norm_len = (
        F.lit(1.0)
        - F.lit(0.75)
        + F.lit(0.75) * (F.col("dl").cast("double") / F.col("avgdl"))
    )
    score = F.round(
        idf
        * (F.col("tf").cast("double") * F.lit(2.2))
        / (F.col("tf").cast("double") + F.lit(1.2) * norm_len),
        6,
    )
    scored = (
        tf.where(F.col("doc_id") < 100)
        .join(F.broadcast(df), "tok")
        .join(F.broadcast(dl.where(F.col("doc_id") < 100)), "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "tok", score.alias("bm25"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("bm25").desc(), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


# --- Reciprocal-rank fusion of two exact rankings -----------------------

_RRF_ORACLE = f"""
WITH clean AS (SELECT * FROM embeddings WHERE {CLEAN_EMB_SQL}),
qs AS (SELECT vec_id, embedding FROM clean WHERE vec_id < 20),
cos_rank AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY ROUND(list_cosine_similarity(
                            CAST(q.embedding AS DOUBLE[]),
                            CAST(c.embedding AS DOUBLE[])), 6) DESC,
                        c.vec_id) AS r
    FROM qs q JOIN clean c ON c.vec_id <> q.vec_id
    QUALIFY r <= 10
),
l2_rank AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY ROUND(list_distance(
                            CAST(q.embedding AS DOUBLE[]),
                            CAST(c.embedding AS DOUBLE[])), 6) ASC,
                        c.vec_id) AS r
    FROM qs q JOIN clean c ON c.vec_id <> q.vec_id
    QUALIFY r <= 10
),
fused AS (
    SELECT COALESCE(a.query_id, b.query_id) AS query_id,
           COALESCE(a.neighbor_id, b.neighbor_id) AS neighbor_id,
           COALESCE(CAST(1.0 AS DOUBLE) / (60 + a.r), CAST(0.0 AS DOUBLE))
           + COALESCE(CAST(1.0 AS DOUBLE) / (60 + b.r), CAST(0.0 AS DOUBLE))
               AS rrf
    FROM cos_rank a
    FULL JOIN l2_rank b
      ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
)
SELECT query_id, neighbor_id, ROUND(rrf, 9) AS rrf
FROM fused
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) <= 5
"""


@q("q_sim_rrf_fusion", oracle_sql=_RRF_ORACLE)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+: reciprocal-rank fusion (RRF, k=60) of two retriever
    rankings — cosine similarity and euclidean distance top-10 — into a
    fused top-5 per query. The standard hybrid-search combiner: rank
    positions, not raw scores, so heterogeneous retrievers (lexical,
    dense, ANN) fuse without calibration.

    Determinism: ranks are integers and 1/(60+rank) is one exact IEEE
    division — the fused score is bit-identical in any engine, no
    transcendental, no order-sensitive sum (the two rankings themselves
    pin ties on rounded score then neighbor id, the q_sim_topk
    discipline).

    Plan shape: queries broadcast onto the corpus twice (two scoring
    lenses over one corpus scan each), per-query top-10 via window; the
    fusion full-join touches only 20·10-row rank lists. At 100 TB each
    lens swaps to its ANN variant (LSH/IVF, both present) — RRF itself
    only ever sees the tiny rank lists."""
    prep(spark)
    # shared degenerate-vector contract (emits rank-fused scores over
    # cosine; see operators/similarity.well_formed / CLEAN_EMB_SQL)
    e = well_formed(load(spark, sf_dir, "embeddings"), nrm_col="nrm")
    qs = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
    )
    cs = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("nrm").alias("c_nrm"),
    )
    base = cs.crossJoin(F.broadcast(qs)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("q_vec"),
                F.col("c_vec"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    cos_scored = base.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_pre(
                F.col("q_vec"), F.col("c_vec"), F.col("q_nrm"), F.col("c_nrm")
            ),
            6,
        ).alias("s"),
    )
    l2_scored = base.select(
        "query_id", "neighbor_id", F.round(l2, 6).alias("s")
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), "neighbor_id"
    )
    w_l2 = Window.partitionBy("query_id").orderBy(
        F.col("s").asc(), "neighbor_id"
    )
    cos_rank = (
        cos_scored.withColumn("r", F.row_number().over(w_cos))
        .where(F.col("r") <= 10)
        .select("query_id", "neighbor_id", F.col("r").alias("r_cos"))
    )
    l2_rank = (
        l2_scored.withColumn("r", F.row_number().over(w_l2))
        .where(F.col("r") <= 10)
        .select("query_id", "neighbor_id", F.col("r").alias("r_l2"))
    )
    fused = (
        cos_rank.join(l2_rank, ["query_id", "neighbor_id"], "full")
        .select(
            "query_id",
            "neighbor_id",
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(60) + F.col("r_cos")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(60) + F.col("r_l2")), F.lit(0.0)
                )
            ).alias("rrf"),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), "neighbor_id"
    )
    return (
        fused.select("query_id", "neighbor_id", F.round("rrf", 9).alias("rrf"))
        .withColumn("rn", F.row_number().over(w_f))
        .where(F.col("rn") <= 5)
        .drop("rn")
    )


# --- Int8 scalar quantization of embeddings -----------------------------

# ROW-LOCAL, mirroring the engine's per-row transform against broadcast
# calibration arrays (no explode→GROUP BY→join): a grouped oracle loses
# rows whose embedding is NULL or empty (nothing to unnest), and a join
# back on vec_id is ill-posed when vec_id itself is NULL or duplicated.
# Degenerate contracts match the engine exactly: NULL embedding → NULL
# codes / NULL quant_ok; empty embedding → '' / TRUE (forall over [] is
# TRUE; list_aggregate over [] is NULL, hence the COALESCE).
_QUANTIZE_ORACLE = """
WITH ex AS (
    SELECT unnest(range(1, len(embedding) + 1)) AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
),
stats AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY dim),
arrs AS (
    SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
    FROM stats
)
SELECT e.vec_id,
       CASE WHEN e.embedding IS NULL THEN NULL
            ELSE COALESCE(array_to_string(list_transform(
                range(1, len(e.embedding) + 1),
                i -> CAST(CASE WHEN a.mxs[i] > a.mns[i]
                               THEN CAST(FLOOR(((CAST(e.embedding[i] AS DOUBLE)
                                                 - a.mns[i])
                                                / (a.mxs[i] - a.mns[i])) * 255)
                                         AS BIGINT)
                               ELSE 0 END AS VARCHAR)), ','), '')
       END AS codes,
       CASE WHEN e.embedding IS NULL THEN NULL
            ELSE COALESCE(list_aggregate(list_transform(
                range(1, len(e.embedding) + 1),
                i -> CASE WHEN a.mxs[i] > a.mns[i]
                          THEN ABS(CAST(e.embedding[i] AS DOUBLE)
                                   - (a.mns[i]
                                      + CAST(FLOOR(((CAST(e.embedding[i] AS DOUBLE)
                                                     - a.mns[i])
                                                    / (a.mxs[i] - a.mns[i])) * 255)
                                             AS BIGINT)
                                        * ((a.mxs[i] - a.mns[i]) / 255)))
                               <= ((a.mxs[i] - a.mns[i]) / 255)
                                  * CAST(1.000001 AS DOUBLE)
                          ELSE TRUE END), 'bool_and'), TRUE)
       END AS quant_ok
FROM embeddings e CROSS JOIN arrs a
"""


@q("q_embedding_quantize", oracle_sql=_QUANTIZE_ORACLE)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+ scale path [EXT]: int8 scalar quantization of the embedding
    corpus — per-dimension min/max calibration, then each float maps to
    ``floor((x−mn)/(mx−mn)·255)`` ∈ 0..255: the standard 4× memory /
    bandwidth compression that lets an ANN serving tier hold the
    corpus in RAM (IVF cells + int8 codes is the classic pairing with
    this repo's ``q_sim_topk_ivf``). Deterministic end-to-end — the
    calibration is order-free min/max and the code is two exact IEEE
    ops both engines evaluate identically (everything cast to DOUBLE
    first: float arithmetic wouldn't round identically to double's).

    ``quant_ok`` verifies the quantization error bound |x − x̂| ≤ step
    per element from the raw values (1e-6 relative slack absorbs the
    one-ulp division rounding at cell boundaries; the oracle
    recomputes the same predicate, not a literal). Codes emit as an
    ordered CSV string (the array-output hash hazard).

    Plan shape: calibration is one posexplode → per-dim hash agg —
    the explode inflates 64× IN-TASK only; map-side combine collapses
    the exchange to |dims| rows per task. The 64-row stats table rides
    back as two broadcast arrays on a one-row crossJoin, and the
    encoding is a per-row array transform — zero shuffle of the
    corpus. At 100 TB: one streaming calibration pass, one streaming
    encode pass."""
    prep(spark)
    emb = load(spark, sf_dir, "embeddings")
    statarr = sq_stat_arrays(emb)

    def _code(x, i):
        mn = F.element_at("mns", i + F.lit(1))
        mx = F.element_at("mxs", i + F.lit(1))
        xd = x.cast("double")
        return (
            F.when(
                mx > mn,
                F.floor(((xd - mn) / (mx - mn)) * F.lit(255)).cast("bigint"),
            )
            .otherwise(F.lit(0).cast("bigint"))
        )

    def _ok(x, i):
        mn = F.element_at("mns", i + F.lit(1))
        mx = F.element_at("mxs", i + F.lit(1))
        xd = x.cast("double")
        step = (mx - mn) / F.lit(255)
        recon = mn + _code(x, i) * step
        return F.when(
            mx > mn, F.abs(xd - recon) <= step * F.lit(1.000001)
        ).otherwise(F.lit(True))

    return emb.crossJoin(F.broadcast(statarr)).select(
        "vec_id",
        F.array_join(
            F.transform(
                F.col("embedding"), lambda x, i: _code(x, i).cast("string")
            ),
            ",",
        ).alias("codes"),
        # indexed transform, NOT zip_with + sequence(0, size-1): on an
        # empty array sequence(0, -1) is the DESCENDING [0, -1], whose
        # i=-1 reaches element_at(..., 0) and aborts the job with
        # INVALID_INDEX_OF_ZERO; transform over [] is simply [].
        F.forall(
            F.transform(F.col("embedding"), lambda x, i: _ok(x, i)),
            lambda b: b,
        ).alias("quant_ok"),
    )


# --- Quantized ANN: ADC candidate search + exact rerank -----------------

_TOPK_QUANT_ORACLE = f"""
WITH clean AS (SELECT * FROM embeddings WHERE {CLEAN_EMB_SQL}),
ex AS (
    SELECT vec_id,
           unnest(range(1, len(embedding) + 1)) AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM clean
),
stats AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY dim),
coded AS (
    SELECT e.vec_id, e.dim, s.mn, s.mx,
           CASE WHEN s.mx > s.mn
                THEN CAST(FLOOR(((e.x - s.mn) / (s.mx - s.mn)) * 255)
                          AS BIGINT)
                ELSE 0 END AS code
    FROM ex e JOIN stats s USING (dim)
),
recon AS (
    SELECT vec_id,
           list(CASE WHEN mx > mn
                     THEN mn + (code + CAST(0.5 AS DOUBLE))
                               * ((mx - mn) / 255)
                     ELSE mn END ORDER BY dim) AS r_vec
    FROM coded GROUP BY vec_id
),
qs AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
    FROM clean WHERE vec_id < 20
),
adc AS (
    SELECT q.query_id, r.vec_id AS neighbor_id, q.q_vec,
           ROUND(list_cosine_similarity(q.q_vec, r.r_vec), 6) AS adc
    FROM qs q JOIN recon r ON r.vec_id <> q.query_id
),
cand AS (
    SELECT query_id, neighbor_id, q_vec FROM adc
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY adc DESC, neighbor_id) <= 10
),
rer AS (
    SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT c.query_id, c.neighbor_id,
               ROUND(list_cosine_similarity(
                   c.q_vec, CAST(e.embedding AS DOUBLE[])), 6) AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY c.query_id
                   ORDER BY ROUND(list_cosine_similarity(
                       c.q_vec, CAST(e.embedding AS DOUBLE[])), 6) DESC,
                   c.neighbor_id) AS rn
        FROM cand c JOIN clean e ON e.vec_id = c.neighbor_id
    ) WHERE rn <= 5
),
truth AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY ROUND(list_cosine_similarity(
                       q.q_vec, CAST(c.embedding AS DOUBLE[])), 6) DESC,
                   c.vec_id) AS rn
        FROM qs q JOIN clean c ON c.vec_id <> q.query_id
    ) WHERE rn <= 5
),
hits AS (
    SELECT r.query_id, CAST(COUNT(t.neighbor_id) AS BIGINT) AS h
    FROM rer r
    LEFT JOIN truth t ON t.query_id = r.query_id
                     AND t.neighbor_id = r.neighbor_id
    GROUP BY r.query_id
)
SELECT r.query_id, r.neighbor_id, r.cos_sim,
       h.h / CAST(5 AS DOUBLE) AS recall_at_k
FROM rer r JOIN hits h USING (query_id)
"""


@q("q_sim_topk_quantized", oracle_sql=_TOPK_QUANT_ORACLE)
def sim_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+ scale path [EXT]: quantized ANN — asymmetric distance
    computation (ADC) over the int8-reconstructed corpus picks top-2k
    candidates per query, then an exact rerank of those candidates
    yields the final top-k, with recall@k against the exact
    brute-force truth emitted per query. This is the serving-tier
    pairing of ``q_embedding_quantize``: the scan phase reads 4×-
    compressed codes (reconstruction ``mn + (code+0.5)·step`` is two
    exact IEEE ops), and only ≤2k full-precision vectors per query are
    ever touched.

    FULL-REPLAY ORACLE (the LSH-oracle pattern, not a bounds gate):
    DuckDB recomputes the identical calibration, codes, reconstruction,
    ADC ranking and rerank — approximation error doesn't matter for
    parity because both engines run the same approximation; the
    ``recall_at_k`` column grades retrieval quality as data (an exact
    integer count / 5).

    Plan shape: calibration as in q_embedding_quantize (|dims|-row
    agg); the ADC pass is corpus × broadcast-20-queries with a
    query-partitioned (never global) top-10 window; the rerank joins
    10·|queries| candidate rows back to the corpus by id — at 100 TB
    the corpus is scanned once as codes and once point-probed by id,
    and with persisted codes (the deployment shape; the fixture
    derives them inline) the full-precision table is only touched by
    the point probes."""
    prep(spark)
    # shared degenerate-vector contract (emits cosine + feeds the
    # per-dim quantization stats; see similarity.well_formed) — the
    # nrm projection is reused by every full-precision scoring tier
    emb = well_formed(load(spark, sf_dir, "embeddings"), nrm_col="nrm")
    statarr = sq_stat_arrays(emb)

    recon = (
        emb.crossJoin(F.broadcast(statarr))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.transform(F.col("embedding"), sq_recon).alias("r_vec"),
        )
        .withColumn("r_nrm", nrm("r_vec"))
    )
    qs = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id")
    )
    cand = (
        recon.crossJoin(F.broadcast(qs))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "q_vec",
            "q_nrm",
            F.round(
                cosine_pre(
                    F.col("q_vec"), F.col("r_vec"), F.col("q_nrm"), F.col("r_nrm")
                ),
                6,
            ).alias("adc"),
        )
        .withColumn("rn", F.row_number().over(w_adc))
        .where(F.col("rn") <= 10)
        .drop("rn", "adc")
    )
    exact = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("nrm").alias("c_nrm"),
    )
    w_rer = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    rer = (
        cand.join(exact, "neighbor_id")
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
        .withColumn("rn", F.row_number().over(w_rer))
        .where(F.col("rn") <= 5)
        .drop("rn")
    )
    w_truth = Window.partitionBy("query_id").orderBy(
        F.col("tcos").desc(), F.col("neighbor_id")
    )
    truth = (
        exact.crossJoin(F.broadcast(qs))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_pre(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_nrm"), F.col("c_nrm")
                ),
                6,
            ).alias("tcos"),
        )
        .withColumn("rn", F.row_number().over(w_truth))
        .where(F.col("rn") <= 5)
        .select("query_id", "neighbor_id")
    )
    hits = (
        rer.join(truth, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("h"))
    )
    full_hits = rer.select("query_id").distinct().join(hits, "query_id", "left")
    return (
        rer.join(
            full_hits.select(
                "query_id", F.coalesce("h", F.lit(0)).alias("h")
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            (F.col("h") / F.lit(5.0)).alias("recall_at_k"),
        )
    )


# --- Composite serving-tier ANN: IVF cells × int8 ADC -------------------

# the degenerate-vector filter mirrors the engine's (ivf_train + the
# cosine tier): NULL or empty embeddings score nothing, and DuckDB's
# list_cosine_similarity raises on ragged lists where the engine
# returns NULL.
_IVF_SQ_ORACLE = """
WITH clean AS (
    SELECT vec_id, embedding FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) > 0
      AND list_dot_product(CAST(embedding AS DOUBLE[]),
                           CAST(embedding AS DOUBLE[])) > 0
),
qs AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec
    FROM clean WHERE vec_id < 20
),
ranked AS (
    SELECT q.query_id, c.vec_id AS nid,
           ROUND(list_cosine_similarity(q.q_vec,
                                        CAST(c.embedding AS DOUBLE[])), 6) AS cs,
           ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY ROUND(list_cosine_similarity(
                   q.q_vec, CAST(c.embedding AS DOUBLE[])), 6) DESC,
               c.vec_id) AS rn
    FROM qs q JOIN clean c ON c.vec_id <> q.query_id
)
SELECT query_id,
       CAST(MAX(CASE WHEN rn = 1 THEN nid END) AS BIGINT) AS exact_top1_id,
       MAX(CASE WHEN rn = 1 THEN cs END) AS exact_top1_cos,
       string_agg(CAST(nid AS VARCHAR), ',' ORDER BY rn) AS exact_top5_ids,
       TRUE AS recall_ok,
       TRUE AS cand_bounded
FROM ranked WHERE rn <= 5
GROUP BY query_id
"""


@q("q_sim_topk_ivf_sq", oracle_sql=_IVF_SQ_ORACLE)
def sim_topk_ivf_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2+ scale path [EXT]: the composite serving-tier ANN — IVF cell
    restriction × int8 scalar quantization (FAISS ``IVF16,SQ8``),
    executing the r6 verdict's composite: ``q_sim_topk_quantized``'s
    flat ADC scan becomes the RERANK TIER behind a sub-linear index.
    Per query: probe the 4 best of 16 IVF cells, ADC-score only those
    cells' int8-reconstructed members (expected |corpus|·nprobe/nlist
    candidates — sub-linear), shortlist 10, exact-rerank to top-5 by
    point-probing full-precision vectors.

    BOUNDS-ORACLE (the sanctioned q_sim_topk_ivf pattern — data-trained
    centroids cannot embed in static SQL): per query the output carries
    the exact brute-force top-1 (id + cosine) and the exact top-5 id
    list as a CSV string — REAL oracle-recomputable hash content — plus
    two quality verdicts the query computes against its own exact
    baseline: ``recall_ok`` (overall recall@5 of the composite vs exact
    ≥ 0.5, the unit-test floor) and ``cand_bounded`` (mean ADC
    candidates per query ≤ 2.5×·nprobe/nlist·|corpus| — the sub-linear
    claim graded as data; the flat ADC scan would be |corpus| per
    query and fail it).

    Plan shape (``operators/similarity.ivf_sq_topk``): ONE corpus pass
    computes cell + reconstruction as narrow projections (at 100 TB the
    cell is a partition column over stored 4×-smaller codes → the probe
    is a partition-pruned scan); queries/centroids/calibration
    broadcast; candidate generation is an equi-join on the cell id;
    windows partition by query (never global); only 10·|queries|
    full-precision rows are point-probed. The exact brute-force
    baseline here is the self-grading harness, not the serving path."""
    from modevetl_spark.operators.similarity import brute_force_topk, ivf_sq_topk

    prep(spark)
    # degenerate-vector contract implemented engine-side (r10 ADVICE):
    # the oracle's IS NOT NULL / len>0 / dot>0 query+corpus filters must
    # have an engine twin, not hold coincidentally on clean fixtures.
    # Zero-norm is excluded because this key EMITS the cosine value
    # (engine try_divide NULL vs DuckDB list_cosine_similarity -1.0).
    sqnorm = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    e = load(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
        & (F.size("embedding") > 0)
        & (sqnorm > 0)
    )
    qs = e.where(F.col("vec_id") < 20)
    res = ivf_sq_topk(e, qs, k=5, shortlist=10, nlist=16, nprobe=4)
    exact = brute_force_topk(e, qs, k=5)

    n_hit = exact.join(
        res.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    n_tot = exact.agg(F.count(F.lit(1)).alias("n_tot"))
    recall_flag = n_hit.crossJoin(n_tot).select(
        (F.col("n_hit") >= 0.5 * F.col("n_tot")).alias("recall_ok")
    )

    corpus_n = e.agg(F.count(F.lit(1)).alias("n_corpus"))
    cand_flag = (
        res.select("query_id", "n_cand")
        .distinct()
        .agg(F.avg("n_cand").alias("avg_cand"))
        .crossJoin(corpus_n)
        .select(
            (
                F.col("avg_cand")
                <= F.lit(2.5) * (F.lit(4) / F.lit(16)) * F.col("n_corpus")
            ).alias("cand_bounded")
        )
    )

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    ranked = exact.withColumn("rn", F.row_number().over(w))
    top = ranked.groupBy("query_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("neighbor_id")))
        .cast("bigint")
        .alias("exact_top1_id"),
        F.max(F.when(F.col("rn") == 1, F.col("cos_sim"))).alias("exact_top1_cos"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "neighbor_id"))),
                lambda s: s.neighbor_id.cast("string"),
            ),
            ",",
        ).alias("exact_top5_ids"),
    )
    return top.crossJoin(F.broadcast(recall_flag)).crossJoin(
        F.broadcast(cand_flag)
    )


# --- MMR diversified rerank ----------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_N = 8  # shortlist size per query
_MMR_K = 3  # diversified picks per query

_MMR_ORACLE = f"""
WITH clean AS (SELECT * FROM embeddings WHERE {CLEAN_EMB_SQL}),
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
    (``round_repr``), raw IEEE ``λ·rel − (1−λ)·sim`` score trees, and
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
    # operators/similarity.well_formed / CLEAN_EMB_SQL)
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
                    simmemo[key] = round_repr(num / den, 6)
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


# --- NDCG@k: graded-relevance evaluation of the retrieval tier ------------

_NDCG_Q = 8  # queries: vec_id < 8
_NDCG_K = 10  # evaluation depth


_NDCG_ORACLE = f"""
WITH clean AS (SELECT * FROM embeddings WHERE {CLEAN_EMB_SQL}),
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
        term = round_repr(x_d / (d * (1 << (d - 1))), 12)
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


# --- Hard-negative mining for contrastive training -------------------------

_HNM_Q = 16  # anchors: vec_id < 16


_HNM_ORACLE = f"""
WITH clean AS (SELECT * FROM embeddings WHERE {CLEAN_EMB_SQL}),
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
