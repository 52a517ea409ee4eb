"""Round-7 breadth wave: the three verdict-named serving/scale operators.

- ``q_sketch_merge_quantiles`` — a MERGEABLE deterministic rank-sample
  quantile sketch (the Munro–Paterson/MRL lineage) with a full-replay
  oracle AND a rank-bounds verdict. KLL and t-digest carry the same
  mergeable ε-rank guarantee but their randomized compaction / centroid
  order cannot be replayed bit-for-bit by a second engine; systematic
  sampling on per-cell ranks is the deterministic member of the family,
  so the WHOLE sketch (cells, compaction, merge, estimate) is
  SQL-expressible and hash-graded, not just bounds-checked. Unlike the
  fixed-width histogram sketch (``q_sketch_quantiles``), its error
  bound is on RANK, not value — exactly what heavy-tailed domains need
  (a K-bucket equi-width grid puts almost all of a heavy tail in one
  bucket; a rank sketch is distribution-free).
- ``q_join_containment`` — exact Jaccard-containment join
  (|A∩B|/|A| ≥ t, directed) via the LOSSLESS prefix filter, the
  asymmetric companion of the PPJoin similarity join
  (``q_dedup_ngram_jaccard``).
- ``q_sim_topk_ivf_sq`` — the composite serving-tier ANN: IVF cell
  restriction in front of the int8 ADC scan (FAISS ``IVFx,SQ8``),
  making ``q_sim_topk_quantized``'s flat scan sub-linear.

Reference parity: SURVEY.md §2's aggregate/join/similarity families;
each query re-expresses the documented semantics per SURVEY §0's
protocol with the physical shape chosen for the 1000-executor case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()


# --- Mergeable rank-sample quantile sketch (full replay + bounds) -------

_SK_EPS = 0.02  # rank-error budget as a fraction of n
_SK_P = 32  # sketch cells (deterministic hash partitions)

_MERGE_Q_ORACLE = f"""
WITH src AS (
    SELECT o_orderkey, o_totalprice AS v,
           CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                AS BIGINT) % {_SK_P} AS pid
    FROM orders
),
numbered AS (
    SELECT pid, v, o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY pid ORDER BY v, o_orderkey) AS rn,
           COUNT(*) OVER (PARTITION BY pid) AS n_p
    FROM src
),
kept AS (
    SELECT v, o_orderkey, LEAST(step, n_p - rn + 1) AS w
    FROM (SELECT *,
                 GREATEST(1, CAST(FLOOR(CAST({_SK_EPS} AS DOUBLE) * n_p)
                                  AS BIGINT)) AS step
          FROM numbered)
    WHERE (rn - 1) % step = 0
),
cum AS (SELECT v, SUM(w) OVER (ORDER BY v, o_orderkey) AS cum FROM kept),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
probs AS (
    SELECT UNNEST(['p10', 'p50', 'p90', 'p99']) AS p_label,
           UNNEST([CAST(0.10 AS DOUBLE), CAST(0.50 AS DOUBLE),
                   CAST(0.90 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS p
),
tgt AS (
    SELECT p.p_label, CAST(CEIL(p.p * t.n) AS BIGINT) AS target, t.n
    FROM probs p, tot t
),
est AS (
    SELECT t.p_label, t.target, t.n, MIN(c.v) AS est
    FROM tgt t JOIN cum c ON c.cum >= t.target
    GROUP BY 1, 2, 3
),
chk AS (
    SELECT e.p_label,
           CAST(COUNT(CASE WHEN o.o_totalprice < e.est THEN 1 END)
                AS BIGINT) AS rank_lo,
           CAST(COUNT(CASE WHEN o.o_totalprice <= e.est THEN 1 END)
                AS BIGINT) AS rank_hi
    FROM orders o, est e GROUP BY 1
)
SELECT e.p_label, e.n, e.est, c.rank_lo, c.rank_hi,
       (c.rank_lo < e.target
        AND c.rank_hi >= e.target
            - CAST(FLOOR(CAST({_SK_EPS} AS DOUBLE) * e.n) AS BIGINT))
           AS bounds_ok
FROM est e JOIN chk c USING (p_label)
"""


@q("q_sketch_merge_quantiles", oracle_sql=_MERGE_Q_ORACLE)
def sketch_merge_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 scale path [EXT]: MERGEABLE deterministic quantile sketch with
    a provable rank bound — p10/p50/p90/p99 of ``o_totalprice`` from a
    systematic rank sample per deterministic hash cell (the
    Munro–Paterson/MRL family; see module docstring for why this
    deterministic member stands in for KLL/t-digest here).

    The sketch: rows hash (shared md5) into P={P} cells; each cell
    sorts its n_p rows by ``(v, key)`` and keeps every step-th row
    (step = max(1, ⌊ε·n_p⌋), ε={EPS}) with weight = the size of the
    rank block it represents (weights sum to n_p exactly). Cell
    sketches MERGE by union — the estimate is the minimum kept value
    whose merged cumulative weight reaches target = ⌈q·n⌉.

    Rank guarantee (each kept row is the MINIMUM of its rank block, so
    a block only ever straddles a value threshold upward, at most one
    block per cell): count(v < est) < target exactly, and
    count(v ≤ est) ≥ target − Σ(step_p − 1) ≥ target − ⌊ε·n⌋. The
    output carries the exact ranks (``rank_lo``/``rank_hi``, one
    verification scan) and the ``bounds_ok`` verdict; DuckDB replays
    the ENTIRE sketch — cells, compaction, merge, estimate — so est
    itself is hash-graded, not just bounds-checked.

    Plan shape: the per-cell number/count windows partition by the hash
    cell (balanced, never global); the kept sketch is ≤ P·(1/ε + 1)
    rows (~{SZ} here) — a config-bounded relation — so its cumulative
    merge runs through ``operators/ranking.global_running``; targets
    and estimates ride one-row/4-row broadcast crossJoins (the Q22
    scalar pattern), and verification is one more streamed fact scan
    with map-side combine to 4 groups. At 100 TB: two fact scans + one
    bounded exchange; the sketch is also the INCREMENTAL shape — new
    partitions sketch independently and merge by union."""
    from modevetl_spark.operators.ranking import global_running

    prep(spark)
    o = load(spark, sf_dir, "orders")
    pid = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % _SK_P
    )
    src = o.select("o_orderkey", F.col("o_totalprice").alias("v"), pid.alias("pid"))
    w_rank = Window.partitionBy("pid").orderBy("v", "o_orderkey")
    w_cell = Window.partitionBy("pid")
    numbered = src.select(
        "pid",
        "v",
        "o_orderkey",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_cell).alias("n_p"),
    ).withColumn(
        "step",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(F.lit(_SK_EPS) * F.col("n_p")).cast("bigint"),
        ),
    )
    kept = numbered.where((F.col("rn") - 1) % F.col("step") == 0).select(
        "v",
        "o_orderkey",
        F.least(F.col("step"), F.col("n_p") - F.col("rn") + 1).alias("w"),
    )
    cum = global_running(kept, ["v", "o_orderkey"], sums={"cum": "w"})
    tot = o.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    probs = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lbl).alias("p_label"),
                        F.lit(p).cast("double").alias("p"),
                    )
                    for lbl, p in [
                        ("p10", 0.10),
                        ("p50", 0.50),
                        ("p90", 0.90),
                        ("p99", 0.99),
                    ]
                ]
            )
        ).alias("pr")
    ).select("pr.*")
    tgt = probs.crossJoin(F.broadcast(tot)).select(
        "p_label",
        F.ceil(F.col("p") * F.col("n")).cast("bigint").alias("target"),
        "n",
    )
    est = (
        cum.join(F.broadcast(tgt), F.col("cum") >= F.col("target"))
        .groupBy("p_label", "target", "n")
        .agg(F.min("v").alias("est"))
    )
    chk = (
        o.crossJoin(F.broadcast(est))
        .groupBy("p_label", "target", "n", "est")
        .agg(
            F.sum(F.when(F.col("o_totalprice") < F.col("est"), 1).otherwise(0))
            .cast("bigint")
            .alias("rank_lo"),
            F.sum(F.when(F.col("o_totalprice") <= F.col("est"), 1).otherwise(0))
            .cast("bigint")
            .alias("rank_hi"),
        )
    )
    slack = F.floor(F.lit(_SK_EPS) * F.col("n")).cast("bigint")
    return chk.select(
        "p_label",
        "n",
        "est",
        "rank_lo",
        "rank_hi",
        (
            (F.col("rank_lo") < F.col("target"))
            & (F.col("rank_hi") >= F.col("target") - slack)
        ).alias("bounds_ok"),
    )


sketch_merge_quantiles.__doc__ = sketch_merge_quantiles.__doc__.format(
    P=_SK_P, EPS=_SK_EPS, SZ=_SK_P * (int(1 / _SK_EPS) + 1)
)


# --- KMV set-operation Jaccard: sketch-path corpus overlap --------------

_J_K = 256
_J_A, _J_B = "src0", "src1"

_KMV_JACCARD_ORACLE = rf"""
WITH w AS (
    SELECT source,
           list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '') AS w
    FROM documents WHERE source IN ('{_J_A}', '{_J_B}')
),
sh AS (
    SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tok
    FROM w, UNNEST(range(1, GREATEST(len(w) - 1, 1))) AS t(i)
    WHERE i + 2 <= len(w)
),
h AS (
    SELECT DISTINCT source,
           CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
    FROM sh
),
ka AS (SELECT h FROM h WHERE source = '{_J_A}' ORDER BY h LIMIT {_J_K}),
kb AS (SELECT h FROM h WHERE source = '{_J_B}' ORDER BY h LIMIT {_J_K}),
m AS (
    SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
    ORDER BY h LIMIT {_J_K}
),
sk AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m_cnt,
           CAST(SUM(CASE WHEN h IN (SELECT h FROM ka)
                          AND h IN (SELECT h FROM kb)
                         THEN 1 ELSE 0 END) AS BIGINT) AS inter_sk
    FROM m
),
ex AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS union_exact,
           CAST(SUM(CASE WHEN n_src = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS inter_exact
    FROM (SELECT tok, COUNT(DISTINCT source) AS n_src FROM sh GROUP BY 1)
),
est AS (
    SELECT CAST({_J_K} AS BIGINT) AS k, sk.m_cnt, sk.inter_sk,
           CASE WHEN sk.m_cnt > 0
                THEN ROUND(CAST(sk.inter_sk AS DOUBLE) / sk.m_cnt, 6)
                ELSE CAST(0 AS DOUBLE) END AS j_est,
           ex.inter_exact, ex.union_exact,
           CASE WHEN ex.union_exact > 0
                THEN ROUND(CAST(ex.inter_exact AS DOUBLE) / ex.union_exact, 6)
                ELSE CAST(0 AS DOUBLE) END AS j_exact
    FROM sk, ex
)
SELECT k, m_cnt, inter_sk, j_est, inter_exact, union_exact, j_exact,
       ROUND(ABS(j_est - j_exact), 6) AS abs_err,
       (ROUND(ABS(j_est - j_exact), 6)
        <= 1.5 / sqrt(CAST({_J_K} AS DOUBLE))) AS bounds_ok
FROM est
"""


@q("q_sketch_jaccard_kmv", oracle_sql=_KMV_JACCARD_ORACLE)
def sketch_jaccard_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1++ sketch path [EXT]: corpus-overlap estimation WITHOUT
    shuffling either corpus's key space — Jaccard similarity between
    two sources' trigram-shingle vocabularies from their KMV sketches
    (the set-operation face of ``q_sketch_distinct_kmv``; Beyer et al.
    2007). ``q_dedup_source_overlap`` answers "which sources ship the
    same documents" exactly; this answers "how much does source A's
    CONTENT DISTRIBUTION overlap B's" with k-bounded state per source —
    the shape that screens all S² source pairs at 100 TB before any
    exact work, since per-source sketches are computed once (one fold
    each) and every pairwise estimate needs only two k-row sets.

    Estimator: with M the k smallest of S_A ∪ S_B (the MERGED sketch —
    a uniform sample of the union), Ĵ = |M ∩ S_A ∩ S_B| / |M|;
    additive 3σ error ≤ 3·√(J(1−J)/k) ≤ 1.5/√k, carried as the
    ``bounds_ok`` verdict next to the exact-tier Jaccard. A non-full
    merged sketch contains the whole union, making Ĵ exact by rule (no
    special case needed — the estimator degenerates correctly).

    Plan shape: shingles explode straight into the per-partition KMV
    fold (``operators/sketches.kmv_state`` dedupes as it goes — there
    is NO distinct-key shuffle on the sketch path, the explode feeds
    the fold pipelined); per-source k-min and the merged k-min are
    distinct+TakeOrdered over ≤ k·P-row checkpointed unions; membership
    is two broadcast semi-joins of k-row sets. The exact tier (one
    (source, shingle) distinct + one hash agg) is the only data-sized
    exchange and exists to be graded. Hash collisions fold into sketch
    error identically in both engines (both operate on the hash sets)."""
    from modevetl_spark.operators.sketches import kmv_state
    from modevetl_spark.operators.text import tokens, word_shingles

    prep(spark)
    d = load(spark, sf_dir, "documents").where(
        F.col("source").isin(_J_A, _J_B)
    )
    sh = d.select(
        "source", F.explode(word_shingles(tokens("text"), 3)).alias("tok")
    )
    hashed = sh.select(
        "source",
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h"),
    )

    def kmin(src: str):
        st = kmv_state(hashed.where(F.col("source") == src), _J_K)
        return (
            st.localCheckpoint(eager=True).distinct().orderBy("h").limit(_J_K)
        )

    ka, kb = kmin(_J_A), kmin(_J_B)
    merged = ka.unionByName(kb).distinct().orderBy("h").limit(_J_K)
    sk = (
        merged.join(F.broadcast(ka), "h", "left_semi")
        .join(F.broadcast(kb), "h", "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter_sk"))
        .crossJoin(
            F.broadcast(
                merged.agg(F.count(F.lit(1)).cast("bigint").alias("m_cnt"))
            )
        )
    )
    ex = (
        sh.distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_src"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("union_exact"),
            F.sum(F.when(F.col("n_src") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("inter_exact"),
        )
    )
    j_est = F.when(
        F.col("m_cnt") > 0,
        F.round(F.col("inter_sk").cast("double") / F.col("m_cnt"), 6),
    ).otherwise(F.lit(0.0))
    j_exact = F.when(
        F.col("union_exact") > 0,
        F.round(F.col("inter_exact").cast("double") / F.col("union_exact"), 6),
    ).otherwise(F.lit(0.0))
    out = (
        sk.crossJoin(F.broadcast(ex))
        .select(
            F.lit(_J_K).cast("bigint").alias("k"),
            "m_cnt",
            "inter_sk",
            j_est.alias("j_est"),
            "inter_exact",
            "union_exact",
            j_exact.alias("j_exact"),
        )
        .withColumn(
            "abs_err", F.round(F.abs(F.col("j_est") - F.col("j_exact")), 6)
        )
    )
    return out.withColumn(
        "bounds_ok",
        F.col("abs_err") <= F.lit(1.5) / F.sqrt(F.lit(float(_J_K))),
    )


# --- Grouped rank-quantile sketch (sketches as aggregation states) ------

_GSK_P = 8  # sketch cells per group

_GROUP_Q_ORACLE = f"""
WITH src AS (
    SELECT o_orderpriority AS grp, o_totalprice AS v, o_orderkey,
           CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                AS BIGINT) % {_GSK_P} AS pid
    FROM orders
),
numbered AS (
    SELECT grp, pid, v, o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY grp, pid ORDER BY v, o_orderkey)
               AS rn,
           COUNT(*) OVER (PARTITION BY grp, pid) AS n_p
    FROM src
),
kept AS (
    SELECT grp, v, o_orderkey, LEAST(step, n_p - rn + 1) AS w
    FROM (SELECT *,
                 GREATEST(1, CAST(FLOOR(CAST({_SK_EPS} AS DOUBLE) * n_p)
                                  AS BIGINT)) AS step
          FROM numbered)
    WHERE (rn - 1) % step = 0
),
cum AS (
    SELECT grp, v,
           SUM(w) OVER (PARTITION BY grp ORDER BY v, o_orderkey) AS cum
    FROM kept
),
tot AS (
    SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
),
probs AS (
    SELECT UNNEST(['p50', 'p95']) AS p_label,
           UNNEST([CAST(0.50 AS DOUBLE), CAST(0.95 AS DOUBLE)]) AS p
),
tgt AS (
    SELECT t.grp, p.p_label, CAST(CEIL(p.p * t.n) AS BIGINT) AS target, t.n
    FROM probs p, tot t
),
est AS (
    SELECT t.grp, t.p_label, t.target, t.n, MIN(c.v) AS est
    FROM tgt t JOIN cum c ON c.grp = t.grp AND c.cum >= t.target
    GROUP BY 1, 2, 3, 4
),
chk AS (
    SELECT e.grp, e.p_label,
           CAST(COUNT(CASE WHEN o.o_totalprice < e.est THEN 1 END)
                AS BIGINT) AS rank_lo,
           CAST(COUNT(CASE WHEN o.o_totalprice <= e.est THEN 1 END)
                AS BIGINT) AS rank_hi
    FROM orders o JOIN est e ON o.o_orderpriority = e.grp
    GROUP BY 1, 2
)
SELECT e.grp, e.p_label, e.n, e.est, c.rank_lo, c.rank_hi,
       (c.rank_lo < e.target
        AND c.rank_hi >= e.target
            - CAST(FLOOR(CAST({_SK_EPS} AS DOUBLE) * e.n) AS BIGINT))
           AS bounds_ok
FROM est e JOIN chk c ON c.grp = e.grp AND c.p_label = e.p_label
"""


@q("q_sketch_group_quantiles", oracle_sql=_GROUP_Q_ORACLE)
def sketch_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7++ grouped scale path [EXT]: the rank-sample quantile sketch as
    a GROUPED aggregation state — p50/p95 of ``o_totalprice`` per
    ``o_orderpriority``, one sketch per group, every guarantee of
    ``q_sketch_merge_quantiles`` held per group. This is the shape a
    100 TB pipeline actually runs (quantiles per tenant / per day / per
    source), and it falls out of the same machinery because the sketch
    is mergeable: a GROUP BY over sketches is just the per-group merge.

    Plan shape: cells key by (group, hash cell) so the number/count
    windows stay balanced; the kept relation is ≤ |groups|·P·(1/ε+1)
    rows (per cell: ≤ 1/ε+1 kept when n_p > 1/ε, else all n_p < 1/ε
    rows — so ≤ ~{SZ} per group here), which makes the per-group
    cumulative window config-bounded per partition — NOT data-sized —
    and the est/verify joins ride group-keyed broadcasts. Two fact
    scans + bounded exchanges, like the global sketch; the rank bound
    count(v < est) < target ≤ count(v ≤ est) + ⌊ε·n_g⌋ is verified per
    (group, prob) and carried as ``bounds_ok`` data. DuckDB replays the
    whole grouped sketch, so every estimate is hash-graded."""
    prep(spark)
    o = load(spark, sf_dir, "orders")
    pid = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % _GSK_P
    )
    src = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"),
        "o_orderkey",
        pid.alias("pid"),
    )
    w_rank = Window.partitionBy("grp", "pid").orderBy("v", "o_orderkey")
    w_cell = Window.partitionBy("grp", "pid")
    numbered = src.select(
        "grp",
        "v",
        "o_orderkey",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_cell).alias("n_p"),
    ).withColumn(
        "step",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(F.lit(_SK_EPS) * F.col("n_p")).cast("bigint"),
        ),
    )
    kept = numbered.where((F.col("rn") - 1) % F.col("step") == 0).select(
        "grp",
        "v",
        "o_orderkey",
        F.least(F.col("step"), F.col("n_p") - F.col("rn") + 1).alias("w"),
    )
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("v", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = kept.select("grp", "v", F.sum("w").over(w_cum).alias("cum"))
    tot = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    probs = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lbl).alias("p_label"),
                        F.lit(p).cast("double").alias("p"),
                    )
                    for lbl, p in [("p50", 0.50), ("p95", 0.95)]
                ]
            )
        ).alias("pr")
    ).select("pr.*")
    tgt = probs.crossJoin(F.broadcast(tot)).select(
        "grp",
        "p_label",
        F.ceil(F.col("p") * F.col("n")).cast("bigint").alias("target"),
        "n",
    )
    est = (
        cum.join(
            F.broadcast(tgt),
            (cum["grp"] == tgt["grp"]) & (F.col("cum") >= F.col("target")),
        )
        .drop(tgt["grp"])
        .groupBy("grp", "p_label", "target", "n")
        .agg(F.min("v").alias("est"))
    )
    chk = (
        o.join(
            F.broadcast(est), o["o_orderpriority"] == est["grp"]
        )
        .groupBy("grp", "p_label", "target", "n", "est")
        .agg(
            F.sum(F.when(F.col("o_totalprice") < F.col("est"), 1).otherwise(0))
            .cast("bigint")
            .alias("rank_lo"),
            F.sum(F.when(F.col("o_totalprice") <= F.col("est"), 1).otherwise(0))
            .cast("bigint")
            .alias("rank_hi"),
        )
    )
    slack = F.floor(F.lit(_SK_EPS) * F.col("n")).cast("bigint")
    return chk.select(
        "grp",
        "p_label",
        "n",
        "est",
        "rank_lo",
        "rank_hi",
        (
            (F.col("rank_lo") < F.col("target"))
            & (F.col("rank_hi") >= F.col("target") - slack)
        ).alias("bounds_ok"),
    )


sketch_group_quantiles.__doc__ = sketch_group_quantiles.__doc__.format(
    SZ=_GSK_P * (int(1 / _SK_EPS) + 1)
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


# --- Mergeable KMV distinct-count sketch (full replay + verdict) ---------

_KMV_K = 256

_KMV_ORACLE = f"""
WITH hashed AS (
    SELECT DISTINCT
           CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))
                AS BIGINT) AS h
    FROM lineitem WHERE l_orderkey IS NOT NULL
),
kmin AS (SELECT h FROM hashed ORDER BY h LIMIT {_KMV_K}),
hk AS (SELECT MAX(h) AS h_k, CAST(COUNT(*) AS BIGINT) AS k_got FROM kmin),
exact AS (
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
           CAST(COUNT(l_orderkey) AS BIGINT) AS n_rows
    FROM lineitem
),
est AS (
    SELECT hk.k_got AS k, exact.n_rows, hk.h_k,
           CASE WHEN hk.k_got < {_KMV_K} THEN CAST(hk.k_got AS DOUBLE)
                ELSE ROUND(CAST(hk.k_got - 1 AS DOUBLE)
                           * CAST(4294967296 AS DOUBLE)
                           / CAST(hk.h_k AS DOUBLE), 4)
           END AS est_distinct,
           exact.exact_distinct
    FROM hk, exact
)
SELECT k, n_rows, h_k, est_distinct, exact_distinct,
       ROUND(ABS(est_distinct - CAST(exact_distinct AS DOUBLE))
             / CAST(exact_distinct AS DOUBLE), 6) AS rel_err,
       (ROUND(ABS(est_distinct - CAST(exact_distinct AS DOUBLE))
              / CAST(exact_distinct AS DOUBLE), 6)
        <= 3.0 / sqrt(CAST({_KMV_K - 2} AS DOUBLE))) AS bounds_ok
FROM est
"""


@q("q_sketch_distinct_kmv", oracle_sql=_KMV_ORACLE)
def sketch_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 scale path [EXT]: MERGEABLE distinct-count sketch —
    K-minimum-values (k={K}) over ``lineitem.l_orderkey``, completing
    the mergeable-sketch family (Misra–Gries heavy hitters, the rank /
    histogram quantile sketches, now cardinality). HyperLogLog
    (``approx_count_distinct``) is the built-in answer but its estimate
    is not replayable by a second engine; KMV carries the same
    mergeability (union the value sets, re-take the k smallest — state
    ≤ k values regardless of data size) while being a pure function of
    the shared md5-prefix hash, so DuckDB replays the ENTIRE sketch —
    hash, k-min set, estimator — and the estimate itself is
    hash-graded, not just bounds-checked.

    Estimator (Bar-Yossef et al. 2002): D̂ = (k−1)·2³²/h_k, relative
    standard error ≈ 1/√(k−2); the output carries the exact distinct
    count and a 3σ ``bounds_ok`` verdict as data (the recall-as-data
    convention). A non-full sketch is exact by rule.

    Plan shape (``operators/sketches.kmv_distinct``): the sketch pass
    is one bounded mapInPandas fold per partition (state ≤ 2k int64s,
    output ≤ k·P rows) behind an eager localCheckpoint — the plan the
    driver sees starts at the checkpointed ≤ k·P-row union, global
    k-min is a TakeOrderedAndProject over it, and the estimate is
    scalar arithmetic on a one-row broadcast. The exact-verify tier is
    the only distinct-key shuffle and exists to be graded; at 100 TB
    the sketch runs alone (two narrow fact scans total: hash pass +
    verify) and per-segment states merge by union instead of
    re-scanning — the same incremental story as the quantile sketch."""
    from modevetl_spark.operators.sketches import kmv_distinct

    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    return kmv_distinct(li, "l_orderkey", k=_KMV_K)


sketch_distinct_kmv.__doc__ = sketch_distinct_kmv.__doc__.format(K=_KMV_K)
