"""L1-L4 [EXT]: LLM-data-pipeline queries over documents/embeddings
(mandated by BASELINE.json; SURVEY.md §2.11), plus the UDF/UDAF surface
(U1/U2) exercised through the multimodal/scoring paths.

Oracle strategy: everything with engine-portable math gets a full DuckDB
oracle (md5/sha256 are identical across engines; cosine folds are
double-deterministic after round). The graded MinHash/SimHash/corpus
dedup queries run on the md5-derived hash families so the oracle replays
signatures, banding, candidate joins and verification end to end; the
xxhash64 twins (JVM-intrinsic, no DuckDB equivalent) remain the
non-graded fast path. Queries that stay rows-only say why in their
docstring (approximate recall by design, per-partition greedy, or
engine-specific sketch internals).

Also here:

- ``q_dedup_substring_runs`` — exact-substring duplicated runs per document.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modevetl_spark.operators.dedup import (
    dedup_corpus,
    exact_dedup_key,
    jaccard_pairs,
    minhash_candidates_md5,
    simhash_candidates,
)
from modevetl_spark.operators._util import spread
from modevetl_spark.operators.multimodal import extract_features, with_binary_payload
from modevetl_spark.operators.similarity import (
    CLEAN_EMB_SQL,
    brute_force_topk,
    cosine_pre,
    ivf_neardup_pairs,
    ivf_topk,
    lsh_topk,
    nrm,
    well_formed,
)
from modevetl_spark.operators.text import (
    EN_STOPWORDS,
    doc_fingerprint,
    quality_score,
    stopword_ratio,
    tokens,
)
from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()


_DEDUP_EXACT_ORACLE = """
SELECT sha256(text) AS content_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY sha256(text)
"""


@q("q_dedup_exact", oracle_sql=_DEDUP_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 exact dedup: content-hash groupBy; keep lowest id per group.
    At 100 TB only (hash, id) shuffles — payload never moves."""
    prep(spark)
    d = load(spark, sf_dir, "documents")
    return d.groupBy(exact_dedup_key("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# CTE chain shared by the minhash-pair oracles: tokenize -> distinct
# 3-shingles -> md5 32-bit prefix -> k=16 affine permutations -> per-band
# keys -> banded candidate pairs -> exact-Jaccard ingredients. Mirrors
# minhash_candidates_md5 + jaccard_pairs expression for expression (same
# affine constants, same '-'-joined band-key fold).
_MINHASH_PAIR_CTES = """
t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '') AS tk
    FROM documents
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
    FROM t WHERE len(tk) >= 3
),
h AS (
    SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h0
    FROM sh
),
k AS (SELECT doc_id, h0, unnest(range(16)) AS i FROM h),
m AS (
    SELECT doc_id, i, i // 4 AS band,
           MIN((((2654435761 * (i + 1)) % 2147483647) * h0
                + ((40503 * (i + 7)) % 2147483647)) % 2147483647) AS mh
    FROM k GROUP BY 1, 2, 3
),
bk AS (
    SELECT doc_id, band,
           md5(string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i)) AS band_key
    FROM m GROUP BY doc_id, band
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bk a JOIN bk b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
pair_inter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM cand c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
    GROUP BY 1, 2
)
"""

_DEDUP_MINHASH_ORACLE = f"""
WITH {_MINHASH_PAIR_CTES}
SELECT p.id_a, p.id_b,
       ROUND(CAST(p.n_inter AS DOUBLE)
             / (sa.n + sb.n - p.n_inter), 6) AS jaccard
FROM pair_inter p
JOIN sizes sa ON p.id_a = sa.doc_id
JOIN sizes sb ON p.id_b = sb.doc_id
WHERE CAST(p.n_inter AS DOUBLE) / (sa.n + sb.n - p.n_inter) >= 0.5
"""


@q("q_dedup_minhash", oracle_sql=_DEDUP_MINHASH_ORACLE)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 near-dup: MinHash signatures + LSH banding -> candidate pairs,
    verified with exact Jaccard. Runs on the md5 affine hash family
    (minhash_candidates_md5) so the oracle replays signature, banding,
    candidate join AND verification; the standing dedup job keeps the
    xxhash64 fast path (build_minhash_index) for when portability isn't
    needed."""
    prep(spark)
    from modevetl_spark.operators.dedup import (
        _banded_pairs,
        minhash_band_keys_md5,
        shingle_sets,
    )

    d = load(spark, sf_dir, "documents")
    # r13 (guide §2.4): banding and the exact-Jaccard verify share the
    # tokenize+distinct-shingle pass — compute it once, pinned (three
    # consumers: banding, verify side a, verify side b; Catalyst does
    # not reuse the subtree across branches). The band-key relation is
    # pinned too: its self-join's two branches would each re-run the
    # explode+md5+mins aggregate otherwise.
    sets = shingle_sets(d, shingle_n=3).localCheckpoint(eager=True)
    bk = minhash_band_keys_md5(
        d, shingle_n=3, k=16, bands=4, sets=sets
    ).localCheckpoint(eager=True)
    cands = _banded_pairs(bk, "doc_id", ["band", "band_key"])
    return jaccard_pairs(d, cands, shingle_n=3, sets=sets).where(
        F.col("jaccard") >= 0.5
    )


def _simhash_oracle() -> str:
    """All-pairs SimHash oracle over the md5 bit family. The Spark side's
    16-bit-chunk banding is lossless for Hamming<=3 (pigeonhole), so the
    brute-force SQL computes the identical pair set."""
    sums = ",\n           ".join(
        f"SUM(CASE WHEN (CAST(('0x' || substr(h, {1 + j // 4}, 1)) AS INT)"
        f" >> {j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(64)
    )
    ham = " + ".join(
        f"(CASE WHEN (a.b{j} > 0) <> (b.b{j} > 0) THEN 1 ELSE 0 END)"
        for j in range(64)
    )
    return f"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              x -> x <> '')) AS tk
    FROM documents
),
hs AS (SELECT doc_id, md5(tk) AS h FROM tok),
bits AS (
    SELECT doc_id,
           {sums}
    FROM hs GROUP BY doc_id
)
SELECT id_a, id_b, hamming FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST({ham} AS INT) AS hamming
    FROM bits a JOIN bits b ON a.doc_id < b.doc_id
) WHERE hamming <= 3
"""


@q("q_dedup_simhash", oracle_sql=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 near-dup: 64-bit SimHash, 16-bit-chunk banding, Hamming<=3.
    Bit j of each token's hash comes from the md5 hex digest (nibble
    j//4, bit j%4) so DuckDB reproduces the weighted bit sums exactly;
    banding is lossless at this radius, letting the oracle brute-force
    all pairs. hash_family='xxhash64' remains the fast path."""
    prep(spark)
    d = load(spark, sf_dir, "documents")
    return simhash_candidates(d, max_hamming=3, hash_family="md5")


_JACCARD_ORACLE = """
WITH toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
    FROM documents
),
shingle_sets AS (
    SELECT doc_id, tok AS shingle FROM toks WHERE tok <> '' GROUP BY 1, 2
),
pair_inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
    FROM shingle_sets a
    JOIN shingle_sets b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingle_sets GROUP BY 1)
SELECT p.id_a, p.id_b,
       ROUND(CAST(p.n_inter AS DOUBLE)
             / (sa.n + sb.n - p.n_inter), 6) AS jaccard
FROM pair_inter p
JOIN sizes sa ON p.id_a = sa.doc_id
JOIN sizes sb ON p.id_b = sb.doc_id
WHERE CAST(p.n_inter AS DOUBLE) / (sa.n + sb.n - p.n_inter) >= 0.5
"""

_JACCARD_T = 0.5


@q("q_dedup_ngram_jaccard", oracle_sql=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: exact token-set Jaccard similarity join via LOSSLESS prefix
    filtering (All-Pairs/PPJoin): order each doc's tokens rarest-global-df
    first, keep the ``|d| - ceil(t*|d|) + 1`` prefix, and generate a
    candidate pair only when two prefixes share a token — any pair with
    J >= t provably shares a prefix token, so the result is IDENTICAL to
    the all-pairs join (the oracle stays plain all-pairs SQL) while the
    posting-list self-join never touches the frequent tail that makes a
    raw inverted-index join quadratic per hot token at corpus scale.
    Candidates are then verified exactly with array_intersect on the
    (small) per-doc token arrays — the same kernel ``jaccard_pairs`` uses
    after LSH. shingle_n=1 so the oracle SQL stays a sane size.
    """
    prep(spark)
    d = spread(load(spark, sf_dir, "documents"))
    docs = d.select(
        "doc_id", F.array_distinct(tokens("text")).alias("toks")
    ).withColumn("n", F.size("toks"))

    sets = docs.select("doc_id", "n", F.explode("toks").alias("shingle"))
    # Global token order: ascending document frequency, token as tiebreak.
    # NOT force-broadcast: the docfreq table is one row per distinct corpus
    # token — tiny here, but web-scale vocabularies would OOM the driver;
    # AQE broadcasts it when it actually fits and shuffles otherwise.
    docfreq = sets.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sets.join(docfreq, "shingle").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle"))
        ),
    )
    prefix_len = F.col("n") - F.ceil(F.lit(_JACCARD_T) * F.col("n")) + 1
    prefix = ranked.where(F.col("rn") <= prefix_len).select("doc_id", "shingle")

    a = prefix.select(F.col("doc_id").alias("id_a"), "shingle")
    b = prefix.select(F.col("doc_id").alias("id_b"), "shingle")
    cand = (
        a.join(b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    ta = docs.select(
        F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"), F.col("n").alias("n_a")
    )
    tb = docs.select(
        F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"), F.col("n").alias("n_b")
    )
    n_inter = F.size(F.array_intersect("ta", "tb"))
    jac = n_inter.cast("double") / (F.col("n_a") + F.col("n_b") - n_inter)
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .where(jac >= _JACCARD_T)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


_EMB_DEDUP_ORACLE = f"""
WITH clean AS (SELECT * FROM embeddings WHERE {CLEAN_EMB_SQL})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
FROM clean a
JOIN clean b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE a.vec_id < 300 AND b.vec_id < 300
  AND ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.2
"""


@q("q_dedup_embedding", oracle_sql=_EMB_DEDUP_ORACLE)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: embedding-cosine near-dup pairs, blocked by label (the blocking
    key stands in for an ANN bucket at scale)."""
    prep(spark)
    # the shared degenerate-vector contract (well_formed/CLEAN_EMB_SQL):
    # this key EMITS cosine values, so NULL/empty/zero-norm vectors are
    # excluded on both engines (see operators/similarity.well_formed)
    e = well_formed(load(spark, sf_dir, "embeddings"), nrm_col="nrm").where(
        F.col("vec_id") < 300
    )
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("lbl"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("lbl"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6)
    return (
        a.join(b, on="lbl")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.2)
    )


_SIM_TOPK_ORACLE = f"""
WITH clean AS (SELECT * FROM embeddings WHERE {CLEAN_EMB_SQL})
SELECT q.vec_id AS query_id,
       c.vec_id AS neighbor_id,
       ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
FROM (SELECT * FROM clean WHERE vec_id < 20) q
JOIN clean c ON c.vec_id <> q.vec_id
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY q.vec_id
    ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) DESC,
             c.vec_id
) <= 5
"""


@q("q_sim_topk", oracle_sql=_SIM_TOPK_ORACLE)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: brute-force cosine top-k (exact baseline; queries broadcast,
    corpus never shuffled)."""
    prep(spark)
    # shared degenerate-vector contract (emits cosine -> exclude
    # NULL/empty/zero-norm both sides; see similarity.well_formed)
    e = well_formed(load(spark, sf_dir, "embeddings"))
    return brute_force_topk(e, e.where(F.col("vec_id") < 20), k=5)


def _lsh_topk_oracle(k: int = 5, n_bits: int = 6, n_tables: int = 4, dim: int = 64) -> str:
    """DuckDB replay of lsh_topk: the hyperplanes are deterministic Python
    floats, so they embed as SQL literals and the oracle recomputes the
    SAME buckets (sign of plane dot), candidate union, and rounded-cosine
    top-k. Recall < 1 vs exact search doesn't matter — the oracle runs the
    same approximation, so equality is exact (the only parity risk is a
    sign flip on a dot within 1 ulp of 0, never observed; the recall-floor
    unit test separately bounds quality vs ground truth)."""
    from modevetl_spark.operators.similarity import hyperplanes

    tables = [hyperplanes(dim, n_bits, seed=7 + 13 * t) for t in range(n_tables)]

    def bucket(col: str, t: int) -> str:
        bits = []
        for j, p in enumerate(tables[t]):
            arr = "[" + ", ".join(repr(x) for x in p) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product(CAST({col} AS DOUBLE[]), {arr})"
                f" >= 0 THEN {1 << j} ELSE 0 END)"
            )
        return " + ".join(bits)

    buckets = ",\n       ".join(
        f"{bucket('embedding', t)} AS b{t}" for t in range(n_tables)
    )
    q_buckets = c_buckets = buckets
    cand_union = "\n    UNION ALL\n    ".join(
        f"SELECT q.query_id, c.neighbor_id FROM qs q JOIN cs c ON q.b{t} = c.b{t}"
        for t in range(n_tables)
    )
    from modevetl_spark.operators.similarity import CLEAN_EMB_SQL

    return f"""
WITH clean AS (SELECT * FROM embeddings WHERE {CLEAN_EMB_SQL}),
qs AS (
    SELECT vec_id AS query_id, embedding AS q_vec,
       {q_buckets}
    FROM clean WHERE vec_id < 20
),
cs AS (
    SELECT vec_id AS neighbor_id, embedding AS c_vec,
       {c_buckets}
    FROM clean
),
cand AS (
    SELECT DISTINCT query_id, neighbor_id FROM (
    {cand_union}
    ) WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, cos_sim FROM (
    SELECT cand.query_id, cand.neighbor_id,
           ROUND(list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
                                        CAST(c.c_vec AS DOUBLE[])), 6)
               AS cos_sim,
           ROW_NUMBER() OVER (
               PARTITION BY cand.query_id
               ORDER BY ROUND(list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]),
                                                     CAST(c.c_vec AS DOUBLE[])),
                              6) DESC,
                        cand.neighbor_id
           ) AS rn
    FROM cand
    JOIN qs q ON q.query_id = cand.query_id
    JOIN cs c ON c.neighbor_id = cand.neighbor_id
) WHERE rn <= {k}
"""


@q("q_sim_topk_lsh", oracle_sql=_lsh_topk_oracle())
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 scale path: random-hyperplane LSH bucketing; equi-join on bucket
    replaces the cross join. The deterministic hyperplanes embed into the
    oracle as literals, so DuckDB replays the identical approximation and
    the result is fully hash-graded despite recall < 1 vs exact search."""
    prep(spark)
    # shared degenerate-vector contract (emits cosine; see well_formed)
    e = well_formed(load(spark, sf_dir, "embeddings"))
    return lsh_topk(e, e.where(F.col("vec_id") < 20), k=5, n_bits=6)


# len(embedding) > 0 / NOT NULL mirrors the engine's degenerate-vector
# exclusion (ivf_train + the cosine tier): a NULL or empty vector has
# no cosine to anything, and DuckDB's list_cosine_similarity raises on
# ragged lists where the engine returns NULL.
_SIM_TOPK_IVF_ORACLE = """
SELECT q.vec_id AS query_id,
       c.vec_id AS exact_top1_id,
       ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])), 6)
           AS exact_top1_cos,
       TRUE AS recall_ok
FROM (SELECT * FROM embeddings
      WHERE vec_id < 20
        AND embedding IS NOT NULL AND len(embedding) > 0
        AND list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0) q
JOIN (SELECT * FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0) c
  ON c.vec_id <> q.vec_id
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY q.vec_id
    ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6)
             DESC,
             c.vec_id
) <= 1
"""


@q("q_sim_topk_ivf", oracle_sql=_SIM_TOPK_IVF_ORACLE)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 scale path #2: inverted-file (IVF) index — Lloyd-trained cells,
    probe nprobe cells per query via broadcast equi-join.

    BOUNDS-ORACLE (upgraded from rows-only in r5): the data-trained
    centroids still cannot embed in static SQL, so the query measures its
    OWN quality against the exact brute-force top-k it computes
    alongside: per query it outputs the exact top-1 neighbor (real,
    oracle-recomputable hash content) and `recall_ok` — overall
    recall@5 of the IVF result vs exact ≥ 0.5, the same floor the unit
    test pins. A regression in training, assignment, or probing drops
    recall and breaks the hash."""
    prep(spark)
    # degenerate-vector contract IMPLEMENTED engine-side, not left to
    # the fixtures (r10 ADVICE): this key EMITS the cosine value, so
    # NULL/empty/zero-norm vectors are excluded from query and corpus
    # exactly as the oracle's CLEAN_EMB_SQL filter does (see
    # operators/similarity.well_formed for the full rationale)
    e = well_formed(load(spark, sf_dir, "embeddings"))
    qs = e.where(F.col("vec_id") < 20)
    ivf = ivf_topk(e, qs, k=5, nlist=16, nprobe=4)
    exact = brute_force_topk(e, qs, k=5)
    n_hit = (
        exact.join(
            ivf.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    n_tot = exact.agg(F.count(F.lit(1)).alias("n_tot"))
    flag = (
        n_hit.crossJoin(n_tot)
        .select((F.col("n_hit") >= 0.5 * F.col("n_tot")).alias("recall_ok"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    top1 = (
        exact.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("exact_top1_id"),
            F.col("cos_sim").alias("exact_top1_cos"),
        )
    )
    return top1.crossJoin(F.broadcast(flag))


_TOKENS_ORACLE = """
SELECT doc_id,
       len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> ''))
           AS n_tokens,
       len(list_distinct(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                     t -> t <> ''))) AS n_unique,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_ish
FROM documents
"""


@q("q_text_tokens", oracle_sql=_TOKENS_ORACLE)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: token counting — whitespace tokens, distinct tokens, and a
    BPE-ish regex segmentation count."""
    prep(spark)
    d = spread(load(spark, sf_dir, "documents"))
    toks = tokens("text")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.size(
            F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
        ).alias("n_bpe_ish"),
    )


_TFIDF_ORACLE = """
WITH toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
    FROM documents
),
tf AS (
    SELECT doc_id, tok, COUNT(*) AS tf FROM toks WHERE tok <> '' GROUP BY 1, 2
),
df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, tok,
       ROUND(tf * (LN((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
FROM tf
JOIN df USING (tok)
CROSS JOIN n
WHERE doc_id < 100
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY doc_id
    ORDER BY ROUND(tf * (LN((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) DESC,
             tok
) <= 3
"""


@q("q_text_tfidf", oracle_sql=_TFIDF_ORACLE)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: TF-IDF top-3 terms per document (smoothed idf). The DF table is
    tiny (vocabulary) -> broadcast back onto the exploded TF rows.

    The corpus size joins the DAG as a broadcast ONE-ROW aggregate
    (no separate .count() action): the count-only branch prunes to zero
    columns, so at 100 TB it reads parquet footers, not the corpus, and
    the query is a single job."""
    prep(spark)
    d = spread(load(spark, sf_dir, "documents"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    tfidf = F.round(
        F.col("tf")
        * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
        6,
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        tf.where(F.col("doc_id") < 100)
        .join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(nd))
        .select("doc_id", "tok", tfidf.alias("tfidf"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


_STOPLIST_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"

_LANGID_ORACLE = f"""
WITH scored AS (
    SELECT doc_id, lang,
           CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                t -> list_contains({_STOPLIST_SQL}, t)))
                AS DOUBLE)
           / greatest(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                      t -> t <> '')), 1) AS score
    FROM documents
)
SELECT doc_id, lang,
       ROUND(score, 6) AS en_score,
       (score > 0.05) AS pred_en
FROM scored
"""


@q("q_text_langid", oracle_sql=_LANGID_ORACLE)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: language-ID heuristic — stopword mass as the n-gram-profile
    stand-in (deterministic, oracle-checkable)."""
    prep(spark)
    d = spread(load(spark, sf_dir, "documents"))
    score = stopword_ratio(tokens("text"))
    return d.select(
        "doc_id",
        "lang",
        F.round(score, 6).alias("en_score"),
        (score > 0.05).alias("pred_en"),
    )


_QUALITY_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks,
           length(text) AS n_chars_real
    FROM documents
),
m AS (
    SELECT doc_id, n_chars_real,
           len(toks) AS n_toks,
           CAST(len(list_filter(toks, x -> list_contains({_STOPLIST_SQL}, x)))
                AS DOUBLE) / greatest(len(toks), 1) AS sw_ratio,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / greatest(len(toks), 1) AS mean_tok_len
    FROM t
)
SELECT doc_id,
       ROUND(least(n_chars_real / 500.0, 1.0) * 0.4
             + sw_ratio * 0.3
             + (CASE WHEN mean_tok_len >= 3 AND mean_tok_len <= 10
                     THEN 1.0 ELSE 0.5 END) * 0.3, 6) AS quality
FROM m
"""


@q("q_text_quality", oracle_sql=_QUALITY_ORACLE)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: quality scoring — length / stopword-mass / word-shape composite."""
    prep(spark)
    d = spread(load(spark, sf_dir, "documents"))
    return d.select("doc_id", quality_score("text").alias("quality"))


_FINGERPRINT_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS t
    FROM documents
),
sh AS (
    SELECT doc_id,
           CASE WHEN len(t) >= 4 THEN
               list_transform(range(1, len(t) - 2),
                              i -> md5(array_to_string(t[i:i+3], ' ')))
           ELSE [md5(array_to_string(t, ' '))] END AS hashes
    FROM toks
)
SELECT doc_id, list_min(hashes) AS fingerprint
FROM sh
"""


@q("q_text_fingerprint", oracle_sql=_FINGERPRINT_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: document fingerprint — min-md5 over word 4-gram shingles
    (rolling-hash analog; md5 so DuckDB reproduces the exact value)."""
    prep(spark)
    d = spread(load(spark, sf_dir, "documents"))
    return d.select("doc_id", doc_fingerprint("text", 4).alias("fingerprint"))


# WHERE doc_id IS NOT NULL + COALESCE(length, 0): the engine drops
# NULL-id rows before the UDF and treats a NULL payload as empty bytes
# (see operators/multimodal.extract_features) — the oracle implements
# the identical dirty-input contract.
_MULTIMODAL_ORACLE = """
WITH b AS (
    SELECT doc_id, COALESCE(length(text), 0) AS n
    FROM documents WHERE doc_id IS NOT NULL
)
SELECT doc_id,
       CAST(n AS BIGINT) AS payload_bytes,
       CAST(n % 640 + 1 AS BIGINT) AS fake_width,
       CAST(n % 480 + 1 AS BIGINT) AS fake_height,
       CAST(n % 7 + 1 AS BIGINT) AS fake_n_frames
FROM b
"""


@q("q_multimodal_features", oracle_sql=_MULTIMODAL_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 + U1/U2: binary-column feature extraction through Arrow-batched
    mapInPandas (decode stubbed deterministically — see
    operators/multimodal.py; the Spark plumbing is the real thing)."""
    prep(spark)
    d = spread(load(spark, sf_dir, "documents"))
    return extract_features(with_binary_payload(d), "doc_id", "payload")


_UDF_ORACLE = """
SELECT c_custkey,
       ROUND(1.0 / (1.0 + EXP(-c_acctbal / 1000.0)), 6) AS acct_sigmoid
FROM customer
"""


@q("q_udf_scalar", oracle_sql=_UDF_ORACLE)
def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: vectorized (Arrow) pandas scalar UDF — the slow-path escape
    hatch, kept off hot paths; here it computes a sigmoid score."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    prep(spark)

    @pandas_udf("double")
    def sigmoid(x: pd.Series) -> pd.Series:
        return 1.0 / (1.0 + np.exp(-x / 1000.0))

    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", F.round(sigmoid(F.col("c_acctbal")), 6).alias("acct_sigmoid")
    )


# IS NOT DISTINCT FROM, not =: GROUP BY keeps a NULL key as a group of
# its own (the engine's applyInPandas emits it), and a plain equi-join
# would silently drop that group from the oracle on dirty inputs.
_UDAF_ORACLE = """
SELECT c_nationkey,
       CAST(COUNT(*) FILTER (WHERE c_acctbal > m.mean_bal) AS BIGINT)
           AS n_above_mean
FROM customer
JOIN (
    SELECT c_nationkey AS nk, AVG(c_acctbal) AS mean_bal
    FROM customer GROUP BY 1
) m ON c_nationkey IS NOT DISTINCT FROM m.nk
GROUP BY c_nationkey
"""


@q("q_udaf_grouped", oracle_sql=_UDAF_ORACLE)
def udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: grouped-map UDAF via applyInPandas — each nation's customers
    arrive as one pandas frame; result is an integer (count above group
    mean) so float association can't affect the oracle hash."""
    prep(spark)
    c = load(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")

    def above_mean(pdf: pd.DataFrame) -> pd.DataFrame:
        # SQL GROUP BY keeps NULL as a group of its own — a NULL key
        # arrives as NaN, where a bare int() would abort the job; emit
        # the NULL group rather than crash (matches the oracle's GROUP
        # BY). pandas mean/comparison are NaN-skipping, same as SQL
        # AVG / NULL-comparison semantics.
        k = pdf["c_nationkey"].iloc[0]
        return pd.DataFrame(
            {
                "c_nationkey": [None if pd.isna(k) else int(k)],
                "n_above_mean": [
                    int((pdf["c_acctbal"] > pdf["c_acctbal"].mean()).sum())
                ],
            }
        )

    return c.groupBy("c_nationkey").applyInPandas(
        above_mean, schema="c_nationkey int, n_above_mean long"
    )


# Verified duplicate pairs -> undirected reachability closure (recursive
# CTE; the pair graph is tiny post-verify) -> survivors = docs whose min
# reachable neighbor is not smaller than themselves. Matches the label-
# propagation connected_components contract: component label == min id.
_DEDUP_CORPUS_ORACLE = f"""
WITH RECURSIVE {_MINHASH_PAIR_CTES},
ver AS (
    SELECT p.id_a, p.id_b
    FROM pair_inter p
    JOIN sizes sa ON p.id_a = sa.doc_id
    JOIN sizes sb ON p.id_b = sb.doc_id
    WHERE CAST(p.n_inter AS DOUBLE) / (sa.n + sb.n - p.n_inter) >= 0.5
),
edges AS (
    SELECT id_a AS a, id_b AS b FROM ver
    UNION
    SELECT id_b, id_a FROM ver
),
reach(src, dst) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (
    SELECT src FROM reach GROUP BY src HAVING MIN(dst) < src
)
"""


@q("q_dedup_corpus", oracle_sql=_DEDUP_CORPUS_ORACLE)
def dedup_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 end-to-end: MinHash-LSH candidates -> exact-Jaccard verify ->
    duplicate clusters via connected components -> corpus with one
    canonical survivor per cluster. The full training-data dedup pass.
    Pair generation uses the md5 affine family so the oracle replays the
    whole pipeline, closing the components fixpoint with a recursive
    CTE."""
    prep(spark)
    d = load(spark, sf_dir, "documents")
    cands = minhash_candidates_md5(d, shingle_n=3, k=16, bands=4)
    pairs = jaccard_pairs(d, cands, shingle_n=3).where(F.col("jaccard") >= 0.5)
    return dedup_corpus(d, pairs).select("doc_id")


# the degenerate-vector filter mirrors the engine's (see
# dedup_embedding_ivf / ivf_neardup_pairs): NULL or empty embeddings
# join nothing, and DuckDB's list_cosine_similarity raises on ragged
# lists where the engine returns NULL.
_EMB_IVF_ORACLE = """
WITH clean AS (
    SELECT vec_id, embedding FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) > 0
),
corpus AS (
    SELECT vec_id, embedding FROM clean
    UNION ALL
    SELECT vec_id + 100000, embedding FROM clean WHERE vec_id < 50
),
pr AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6)
               AS cos_sim
    FROM corpus a
    JOIN corpus b ON a.vec_id < b.vec_id
)
SELECT COUNT(*) AS n_exact_pairs,
       TRUE AS subset_ok,
       TRUE AS recall_ok
FROM pr
WHERE cos_sim >= 0.9
"""


@q("q_dedup_embedding_ivf", oracle_sql=_EMB_IVF_ORACLE)
def dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 scale path: embedding near-dup pairs blocked by IVF cell
    instead of a label column — all-pairs cosine becomes per-cell
    self-joins (n^2/nlist with balanced cells).

    BOUNDS-ORACLE (upgraded from rows-only in r5): cell assignments
    depend on data-trained Lloyd centroids, so the query verifies its
    own blocking against the exact all-pairs result it computes
    alongside (sf0.01-sized; the exact twin exists only inside this
    correctness gate — production runs just the blocked path). The
    fixture corpus has no organic near-dups above cos 0.5, so the query
    PLANTS 50 exact duplicates under shifted ids — the same pattern the
    planted-duplicate unit test uses, and replayable in SQL because the
    plant is a pure id-shift. Then: `n_exact_pairs` is oracle-recomputed
    in DuckDB, `subset_ok` asserts every IVF pair also passes the exact
    threshold (structural — catches scoring drift between the blocked
    and exact kernels), and `recall_ok` asserts the blocked path
    recovers ≥ 90% of true near-dup pairs (identical vectors must land
    in identical cells). Any of the three failing breaks the hash."""
    prep(spark)
    # NULL / empty vectors have zero norm — the exact-twin's raw cosine
    # division would abort the job under ANSI on one dirty row, and
    # they carry nothing dedup-able; the blocked path excludes them
    # identically inside ivf_neardup_pairs.
    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .where(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
    )
    planted = e.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = e.unionByName(planted)
    ivf = ivf_neardup_pairs(corpus, threshold=0.9, nlist=8).select(
        "id_a", "id_b"
    )
    a = corpus.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        nrm("embedding").alias("na"),
    )
    b = corpus.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        nrm("embedding").alias("nb"),
    )
    exact = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.9)
        .select("id_a", "id_b")
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_common = exact.join(ivf, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    n_outside = ivf.join(exact, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_outside")
    )
    return (
        n_exact.crossJoin(n_common)
        .crossJoin(n_outside)
        .select(
            "n_exact_pairs",
            (F.col("n_outside") == 0).alias("subset_ok"),
            (F.col("n_common") >= 0.9 * F.col("n_exact_pairs")).alias(
                "recall_ok"
            ),
        )
    )


_SAMPLE_HASH_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '199a'
"""


@q("q_sample_hash", oracle_sql=_SAMPLE_HASH_ORACLE)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 [EXT]: deterministic content-hash sampling (~10%) — the keep
    decision is md5(key), stable under any partitioning/retry/AQE
    re-plan, unlike RNG sample(); md5 portability makes even the sample
    oracle-gated."""
    prep(spark)
    from modevetl_spark.operators.sampling import hash_sample

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return hash_sample(o, "o_orderkey", 0.1)


_SAMPLE_STRAT_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n_kept
FROM orders
WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)
      < CASE o_orderstatus
            WHEN 'F' THEN '0ccd'
            WHEN 'O' THEN '8000'
            WHEN 'P' THEN 'g'
            ELSE '0000'
        END
GROUP BY o_orderstatus
"""


@q("q_sample_stratified", oracle_sql=_SAMPLE_STRAT_ORACLE)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 [EXT]: stratified hash sampling — downsample the dominant
    strata (F@5%, O@50%), keep the rare one whole (P@100%); one
    codegen'd CASE predicate, no RNG."""
    prep(spark)
    from modevetl_spark.operators.sampling import stratified_hash_sample

    o = load(spark, sf_dir, "orders")
    kept = stratified_hash_sample(
        o, "o_orderkey", "o_orderstatus", {"F": 0.05, "O": 0.5, "P": 1.0}
    )
    return kept.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_kept"))


# the NOT NULL pair mirrors pack_by_budget's own JVM-side filter: a
# NULL id or NULL token count is unpackable and never reaches a bin
_PACK_BUDGET_ORACLE = """
WITH t AS (
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '')) AS n_tokens
    FROM documents
    WHERE doc_id IS NOT NULL
      AND text IS NOT NULL
)
SELECT COUNT(*) AS n_docs_packed,
       COUNT(DISTINCT doc_id) AS n_distinct_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       TRUE AS no_overfull_bins
FROM t
"""


@q("q_pack_budget", oracle_sql=_PACK_BUDGET_ORACLE)
def pack_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 [EXT]: token-budget batch packing — documents greedily packed
    into ~4096-token bins per partition (bins never span executors).

    INVARIANT-ORACLE (upgraded from rows-only in r5): the bin layout is
    a per-partition greedy fold with no SQL twin, but its contract IS
    checkable: every document packed exactly once and token mass
    conserved (both recomputed exactly by the oracle from `documents`),
    plus `no_overfull_bins` — a bin may exceed the 4096 budget only when
    it holds a single oversized document. A packing bug (dropped or
    duplicated doc, bloated bin) breaks the hash; per-bin contiguity
    stays unit-tested in tests/test_operators.py."""
    prep(spark)
    from modevetl_spark.operators.sampling import pack_by_budget
    from modevetl_spark.operators.text import tokens

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    packed = pack_by_budget(d, "n_tokens", budget=4096, n_partitions=8)
    bins = packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )
    summary = packed.agg(
        F.count(F.lit(1)).alias("n_docs_packed"),
        F.countDistinct("doc_id").alias("n_distinct_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    viol = bins.agg(
        F.count(
            F.when((F.col("bin_tokens") > 4096) & (F.col("n_docs") >= 2), 1)
        ).alias("n_overfull_multi")
    )
    return summary.crossJoin(viol).select(
        "n_docs_packed",
        "n_distinct_docs",
        "total_tokens",
        (F.col("n_overfull_multi") == 0).alias("no_overfull_bins"),
    )


_CHUNKS_ORACLE = """
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '') AS toks
    FROM documents
),
sized AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
c AS (
    SELECT doc_id, toks, n,
           unnest(range(0, 1 + CAST(greatest(ceil((n - 50) / 40.0), 0)
                                    AS BIGINT))) AS chunk_id
    FROM sized
)
SELECT doc_id,
       chunk_id,
       least(50, n - chunk_id * 40) AS n_tokens,
       array_to_string(
           toks[chunk_id * 40 + 1 : chunk_id * 40 + least(50, n - chunk_id * 40)],
           ' ') AS chunk_text
FROM c
"""


@q("q_doc_chunks", oracle_sql=_CHUNKS_ORACLE)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3/L4 prep: token-budget document chunking (50-token chunks, 10-token
    overlap) — the splitting step before tokenization in a training-data
    pipeline. chunk_spans builds (chunk_id, start, len) spans with built-in
    array expressions; explode is narrow (no shuffle), so this
    parallelizes over input splits untouched at 100 TB."""
    prep(spark)
    from modevetl_spark.operators.text import chunk_spans

    d = spread(load(spark, sf_dir, "documents"))
    base = d.select("doc_id", tokens("text").alias("toks"))
    # generator and struct getField must sit in separate selects (Spark 4
    # analyzer degrades field names when both share one projection list)
    ex = base.select(
        "doc_id", "toks", F.explode(chunk_spans(F.col("toks"), 50, 10)).alias("c")
    )
    return ex.select(
        "doc_id",
        F.col("c.chunk_id").cast("long").alias("chunk_id"),
        F.col("c.len").cast("long").alias("n_tokens"),
        F.array_join(
            F.slice("toks", F.col("c.start") + 1, F.col("c.len")), " "
        ).alias("chunk_text"),
    )


_REPETITION_ORACLE = """
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '') AS tk
    FROM documents
),
s AS (
    SELECT doc_id,
           CASE WHEN len(tk) >= 3 THEN
               list_transform(range(1, len(tk) - 1),
                              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
           ELSE [] END AS sh
    FROM t
)
SELECT doc_id,
       len(sh) AS n_grams,
       CASE WHEN len(sh) > 0
            THEN ROUND(1 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6)
            ELSE 0.0 END AS rep_ratio
FROM s
"""


@q("q_text_repetition", oracle_sql=_REPETITION_ORACLE)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: duplicate 3-gram ratio — the Gopher/C4-style repetition quality
    filter (high ratio = boilerplate/looped generation). Pure array
    built-ins per row; no shuffle beyond the spread() input balance."""
    prep(spark)
    from modevetl_spark.operators.text import word_shingles

    d = spread(load(spark, sf_dir, "documents"))
    sh = word_shingles(tokens("text"), 3)
    n = F.size(sh)
    ratio = F.when(
        n > 0,
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(sh)).cast("double") / n, 6
        ),
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id", n.cast("long").alias("n_grams"), ratio.alias("rep_ratio")
    )


_DECONTAM_ORACLE = """
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '') AS tk
    FROM documents
),
s AS (
    SELECT doc_id,
           CASE WHEN len(tk) >= 5 THEN
               list_distinct(list_transform(
                   range(1, len(tk) - 3),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                        || tk[i+3] || ' ' || tk[i+4]))
           ELSE [] END AS sh
    FROM t
),
g AS (SELECT doc_id, unnest(sh) AS gram FROM s),
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
SELECT g.doc_id, COUNT(*) AS n_hit_grams
FROM g JOIN b USING (gram)
WHERE g.doc_id % 97 <> 0
GROUP BY 1
"""


@q("q_decontaminate", oracle_sql=_DECONTAM_ORACLE)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1/L3: benchmark decontamination — flag corpus documents sharing any
    5-gram with a held-out benchmark set (docs with doc_id % 97 == 0 stand
    in for the eval suite). The benchmark gram set is small by nature ->
    broadcast; the corpus side explodes distinct grams and equi-joins, so
    at 100 TB this is one broadcast hash join per scan partition, no
    shuffle of the corpus. Returns (doc_id, n_hit_grams) for flagged docs."""
    prep(spark)
    from modevetl_spark.operators.text import word_shingles

    d = spread(load(spark, sf_dir, "documents"))
    grams = d.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(tokens("text"), 5))).alias("gram"),
    )
    bench = grams.where(F.col("doc_id") % 97 == 0).select("gram").distinct()
    corpus = grams.where(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


# md5-based MinHash twin: the standing dedup job's build_minhash_index
# uses xxhash64 (fastest JVM hash, no DuckDB twin -> rows-only). This
# variant computes the SAME signature/banding pipeline from md5 (shared
# by both engines, 32-bit prefix via base-16 conv) with an explicit
# affine hash family mh_i = (a_i*h + b_i) mod P, so the driver
# hash-verifies the entire signature computation — upgrading the
# MinHash family's evidence from rows-only to oracle-graded. Constants:
# P = 2^31-1; a_i, b_i derived from i with the same arithmetic in both
# engines (products stay < 2^63: a_i < P, h < 2^32, so a_i*h <=
# 9.222e18 < 2^63-1 — no overflow in Spark's wrapping or DuckDB's
# checked bigint math).
_MINHASH_SIG_ORACLE = """
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '') AS tk
    FROM documents
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
    FROM t WHERE len(tk) >= 3
),
h AS (
    SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h0
    FROM sh
),
k AS (SELECT doc_id, h0, unnest(range(16)) AS i FROM h),
m AS (
    SELECT doc_id, i, i // 4 AS band,
           MIN((((2654435761 * (i + 1)) % 2147483647) * h0
                + ((40503 * (i + 7)) % 2147483647)) % 2147483647) AS mh
    FROM k GROUP BY 1, 2, 3
)
SELECT doc_id, band,
       md5(string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i)) AS band_key
FROM m GROUP BY doc_id, band
"""


@q("q_minhash_signatures", oracle_sql=_MINHASH_SIG_ORACLE)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: oracle-graded MinHash signatures + LSH band keys (k=16 hashes,
    4 bands of 4) — md5-twin of ``build_minhash_index``'s xxhash64 path.
    Same plan shape as production: explode shingles, one vectorized
    hash-agg computes all k mins with map-side combine (the measured-fast
    pattern), then one agg per (doc, band) folds the band key. Docs
    sharing a (band, band_key) are the LSH candidate pairs."""
    prep(spark)
    from modevetl_spark.operators.dedup import minhash_band_keys_md5

    d = load(spark, sf_dir, "documents")
    return minhash_band_keys_md5(d, shingle_n=3, k=16, bands=4)


_NORMALIZE_ORACLE = r"""
WITH n AS (
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text
    FROM documents
)
SELECT doc_id,
       norm_text,
       md5(norm_text) AS norm_hash,
       CASE WHEN norm_text = '' THEN 0
            ELSE len(regexp_split_to_array(norm_text, ' ')) END AS n_tokens
FROM n
"""


@q("q_text_normalize", oracle_sql=_NORMALIZE_ORACLE)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+: C4-style text normalization — lowercase, collapse internal
    whitespace runs, trim — plus the md5 of the normalized form (the key a
    downstream exact-dedup pass would group on, so normalize→dedup compose
    without re-reading text). Pure per-row JVM string expressions: no
    shuffle, no UDF, whole-stage codegen'd; at 100 TB this is scan-speed."""
    prep(spark)
    d = spread(load(spark, sf_dir, "documents"))
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    out = d.select("doc_id", norm.alias("norm_text"))
    return out.select(
        "doc_id",
        "norm_text",
        F.md5("norm_text").alias("norm_hash"),
        F.when(F.col("norm_text") == "", F.lit(0))
        .otherwise(F.size(F.split("norm_text", " ")))
        .cast("long")
        .alias("n_tokens"),
    )


_SPANS_ORACLE = """
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '') AS tk
    FROM documents
),
s AS (
    SELECT doc_id,
           CASE WHEN len(tk) >= 8 THEN
               list_distinct(list_transform(
                   range(1, len(tk) - 6),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                        || tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5]
                        || ' ' || tk[i+6] || ' ' || tk[i+7]))
           ELSE [] END AS sh
    FROM t
),
g AS (SELECT doc_id, unnest(sh) AS gram FROM s),
df AS (SELECT gram, COUNT(*) AS n_docs FROM g GROUP BY gram),
hit AS (
    SELECT g.doc_id, COUNT(*) AS n_shared_grams
    FROM g JOIN df USING (gram)
    WHERE df.n_docs > 1
    GROUP BY g.doc_id
)
SELECT s.doc_id,
       len(s.sh) AS n_grams,
       COALESCE(hit.n_shared_grams, 0) AS n_shared_grams,
       ROUND(CAST(COALESCE(hit.n_shared_grams, 0) AS DOUBLE)
             / len(s.sh), 6) AS shared_ratio
FROM s LEFT JOIN hit USING (doc_id)
WHERE len(s.sh) > 0
"""


@q("q_dedup_spans", oracle_sql=_SPANS_ORACLE)
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+: cross-document duplicated-span ratio — the Dolma/CCNet-style
    "duplicate paragraph" signal, built on word 8-gram spans (distinct per
    doc): for each doc, what fraction of its spans also appear in at least
    one OTHER doc. Complements q_text_repetition (within-doc) and
    q_decontaminate (vs a benchmark set).

    Plan shape: explode distinct spans → hash-agg span doc-frequency →
    equi-join back on span → per-doc count. Both the agg and the join key
    on the span hash, so the exploded relation shuffles once and the join
    is co-partitioned; no window, no all-pairs. At 100 TB, spans seen once
    (the vast majority) collapse map-side in the docfreq partial agg."""
    prep(spark)
    from modevetl_spark.operators.text import word_shingles

    d = spread(load(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        F.array_distinct(word_shingles(tokens("text"), 8)).alias("sh"),
    ).where(F.size("sh") > 0)
    g = base.select("doc_id", F.explode("sh").alias("gram"))
    docfreq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("n_docs"))
    hits = (
        g.join(docfreq.where(F.col("n_docs") > 1), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    per_doc = base.select("doc_id", F.size("sh").cast("long").alias("n_grams"))
    out = per_doc.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_shared_grams", F.lit(0)).cast("long").alias("n_shared_grams"),
        F.round(
            F.coalesce("n_shared_grams", F.lit(0)).cast("double") / F.col("n_grams"),
            6,
        ).alias("shared_ratio"),
    )
    return out


_DEDUP_INCR_ORACLE = f"""
WITH {_MINHASH_PAIR_CTES}
SELECT p.id_a, p.id_b,
       ROUND(CAST(p.n_inter AS DOUBLE)
             / (sa.n + sb.n - p.n_inter), 6) AS jaccard
FROM pair_inter p
JOIN sizes sa ON p.id_a = sa.doc_id
JOIN sizes sb ON p.id_b = sb.doc_id
WHERE (p.id_a % 5 = 0 OR p.id_b % 5 = 0)
  AND CAST(p.n_inter AS DOUBLE) / (sa.n + sb.n - p.n_inter) >= 0.5
"""


@q("q_dedup_incremental", oracle_sql=_DEDUP_INCR_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+: incremental near-dup — an arriving batch (doc_id % 5 == 0)
    dedups against a PERSISTED band-key index of the prior corpus plus
    itself, never recomputing corpus signatures. Banding is a pure
    function of the text, so the result provably equals the full-corpus
    recompute restricted to batch-touching pairs — which is exactly what
    the oracle computes (equivalence also pytest-gated on the xxhash64
    fast path: test_incremental_minhash_equals_full_recompute).

    Scale shape: O(|batch|) signature compute; one (band, band_key)
    equi-join against the stored index (batch side broadcasts under AQE;
    a bucketed index prunes to colliding buckets); within-batch pairs
    from the batch's own tiny self-join. The 100 TB daily-delta pattern.
    """
    from modevetl_spark.operators.dedup import (
        _banded_pairs,
        minhash_band_keys_md5,
        shingle_sets,
    )

    prep(spark)
    d = load(spark, sf_dir, "documents")
    # r13 (guide §2.4, the q_dedup_minhash shape): banding is a pure
    # per-row function of the text and the exact-Jaccard verify needs
    # the same distinct-shingle sets, so the tokenize+shingle pass runs
    # ONCE (pinned — it feeds banding plus both verify sides) and the
    # band keys compute once over the whole table, with the corpus
    # index and the arriving batch split from the pinned NARROW
    # (doc_id, band, band_key) relation — exactly what the deployment
    # shape persists. The former form tokenized three times and banded
    # twice.
    sets = shingle_sets(d, shingle_n=3).localCheckpoint(eager=True)
    bk = minhash_band_keys_md5(
        d, shingle_n=3, k=16, bands=4, sets=sets
    ).localCheckpoint(eager=True)
    index = bk.where(F.col("doc_id") % 5 != 0)
    new_rows = bk.where(F.col("doc_id") % 5 == 0)
    vs_index = (
        new_rows.join(
            index.select(
                F.col("doc_id").alias("_old_id"), "band", "band_key"
            ),
            on=["band", "band_key"],
        )
        .select(
            F.least("_old_id", "doc_id").alias("id_a"),
            F.greatest("_old_id", "doc_id").alias("id_b"),
        )
        .distinct()
    )
    within = _banded_pairs(new_rows, "doc_id", ["band", "band_key"])
    pairs = vs_index.unionByName(within).distinct()
    return jaccard_pairs(d, pairs, shingle_n=3, sets=sets).where(
        F.col("jaccard") >= 0.5
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
