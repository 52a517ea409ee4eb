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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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
    from modevetl_spark.operators.clustering import dec_fold_sum

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
