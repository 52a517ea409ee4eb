"""Round-5 breadth, part 5: frequency/overlap mining shapes — interval
sweep-line concurrency, edit-distance near-dup verification (the fourth
dedup blocking+verify family), inverted-index construction (the
retrieval-side twin of TF-IDF/BM25), and bigram-surprisal LM scoring
(the statistical-language-model quality filter of a training-data
pipeline).

Reference parity: the reference's qb pipeline stops at aggregate
reports ([UPSTREAM MoDevETL/pyLibrary/queries]); these extend the
mandated LLM-pipeline family ([LOCAL BASELINE.json]) with the mining
altitudes a corpus run needs.

Float discipline: surprisal terms are differences of integer-argument
log2 calls (engine-identical on integers, unlike rationals — the
q_token_entropy lesson), rounded to 9dp and decimal-summed; everything
else is integer/count arithmetic.

Also here:

- ``q_decayed_value`` — exponentially time-decayed customer value.
- ``q_churn_hazard`` — discrete-time churn hazard and survival curves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modevetl_spark.operators.text import tokens
from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()


# --- sweep-line concurrency over user activity intervals ----------------

_SWEEP_ORACLE = """
WITH spans AS (
    SELECT user_id,
           CAST(date_trunc('day', MIN(CAST(ts AS TIMESTAMP))) AS TIMESTAMP)
             AS start_day,
           CAST(date_trunc('day', MAX(CAST(ts AS TIMESTAMP))) AS TIMESTAMP)
             AS end_day
    FROM events GROUP BY user_id
),
deltas AS (
    SELECT start_day AS day, 1 AS delta FROM spans
    UNION ALL
    SELECT end_day + INTERVAL 1 DAY AS day, -1 AS delta FROM spans
),
steps AS (
    SELECT day, CAST(SUM(delta) AS BIGINT) AS d FROM deltas GROUP BY day
)
SELECT day,
       CAST(SUM(d) OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_active
FROM steps
"""


@q("q_concurrent_users_sweep", oracle_sql=_SWEEP_ORACLE)
def concurrent_users_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7+ [EXT]: how many users are concurrently "active" (inside their
    [first-event-day, last-event-day] span) at every change point — the
    classic sweep-line interval-overlap count (concurrent sessions,
    open connections, license seats all share this shape).

    Plan shape: one user-keyed aggregate builds the spans; the +1/-1
    delta stream aggregates per day (map-side combined); the running
    sum is a single-partition window over the DAY-CARDINALITY step
    table — bounded by the calendar, not the data (a few thousand rows
    at any corpus size), which is the one place a global window is the
    right plan. The fact is touched once."""
    prep(spark)
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    spans = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("start_day"),
        F.date_trunc("day", F.max("ts")).alias("end_day"),
    )
    deltas = spans.select(
        F.col("start_day").alias("day"), F.lit(1).alias("delta")
    ).unionAll(
        spans.select(
            (F.col("end_day") + F.expr("INTERVAL 1 DAY")).alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    steps = deltas.groupBy("day").agg(F.sum("delta").cast("long").alias("d"))
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return steps.select(
        "day", F.sum("d").over(w).cast("long").alias("n_active")
    )


# --- edit-distance near-dup verification (4th blocking family) ----------

_LEV_ORACLE = """
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
FROM documents a
JOIN documents b
  ON substr(a.text, 1, 16) = substr(b.text, 1, 16)
 AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= 20
WHERE levenshtein(a.text, b.text) <= 50
"""


@q("q_dedup_levenshtein", oracle_sql=_LEV_ORACLE)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+ [EXT]: edit-distance near-dup verification — candidate pairs
    from prefix + length blocking, verified with levenshtein ≤ 50. The
    fourth blocking family next to LSH banding, SimHash chunks and
    sorted-neighborhood windows; edit distance is the verifier of
    choice when near-dups are CHARACTER-level (OCR noise, template
    fills) rather than token-level.

    Plan shape: blocking is an equi-join on the 16-char prefix (hash
    exchange on a short key) with the length band as a join filter —
    the quadratic is bounded per prefix bucket, the same contract as
    every other blocking family here. Levenshtein runs JVM-side
    (O(len²) per pair) on candidates only — the design point is that
    blocking keeps the expensive verifier off all-pairs. A 100 TB run
    caps bucket width the same way LSH caps band width (split hot
    prefixes by the length band)."""
    prep(spark)
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    a = d.select(
        F.col("doc_id").alias("a_id"),
        F.col("text").alias("a_text"),
        F.col("n_chars").alias("a_len"),
        F.substring("text", 1, 16).alias("a_pfx"),
    )
    b = d.select(
        F.col("doc_id").alias("b_id"),
        F.col("text").alias("b_text"),
        F.col("n_chars").alias("b_len"),
        F.substring("text", 1, 16).alias("b_pfx"),
    )
    pairs = a.join(
        b,
        (F.col("a_pfx") == F.col("b_pfx"))
        & (F.col("a_id") < F.col("b_id"))
        & (F.abs(F.col("a_len") - F.col("b_len")) <= 20),
    )
    return pairs.select(
        "a_id",
        "b_id",
        F.levenshtein("a_text", "b_text").cast("long").alias("edit_dist"),
    ).where(F.col("edit_dist") <= 50)


# --- inverted index (posting lists) -------------------------------------

_INVIDX_ORACLE = r"""
WITH postings AS (
    SELECT DISTINCT tok, doc_id FROM (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents
    )
),
ranked AS (
    SELECT tok, doc_id,
           ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
    FROM postings
),
agg AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             FILTER (WHERE rn <= 20) AS posting_head
    FROM ranked GROUP BY tok
)
SELECT tok, df, posting_head
FROM agg
ORDER BY df DESC, tok
LIMIT 50
"""


@q("q_inverted_index", oracle_sql=_INVIDX_ORACLE)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+ [EXT]: inverted-index construction — per token, the document
    frequency and the head of the sorted posting list (capped at 20 ids,
    emitted as an ordered CSV string for hash stability — arrays are
    sort/hash hazards at the compare layer). The retrieval-side data
    structure TF-IDF/BM25 score against; graded over the 50 most common
    tokens.

    Plan shape: explode → (token, doc) distinct (one hash exchange),
    then ONE token-keyed window ranks postings and the aggregate builds
    df + the capped head in the same pass — at 100 TB the posting cap
    is what bounds per-token state (an uncapped hot-token posting list
    is the inverted-index skew problem; production layouts shard it,
    here the head cap documents the same bound). Top-50 is TakeOrdered."""
    prep(spark)
    d = load(spark, sf_dir, "documents")
    postings = (
        d.select(F.explode(tokens("text")).alias("tok"), "doc_id").distinct()
    )
    w = Window.partitionBy("tok").orderBy("doc_id")
    ranked = postings.withColumn("rn", F.row_number().over(w))
    agg = ranked.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") <= 20,
                            F.struct("doc_id"),
                        )
                    )
                ),
                lambda t: t.doc_id.cast("string"),
            ),
            ",",
        ).alias("posting_head"),
    )
    return agg.orderBy(F.col("df").desc(), "tok").limit(50)


# --- bigram surprisal (LM quality score) --------------------------------

_SURPRISAL_ORACLE = r"""
WITH toks AS (
    SELECT doc_id, tok, i FROM (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                  x -> x <> '')) AS tok,
               generate_subscripts(
                   list_filter(regexp_split_to_array(lower(text), '\s+'),
                               x -> x <> ''), 1) AS i
        FROM documents
    )
),
bigrams AS (
    SELECT a.doc_id, a.tok AS w1, b.tok AS w2
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
bg_counts AS (
    SELECT w1, w2, COUNT(*) AS c2 FROM bigrams GROUP BY w1, w2
),
ug_counts AS (
    SELECT w1, SUM(c2) AS c1 FROM bg_counts GROUP BY w1
),
scored AS (
    SELECT g.doc_id,
           CAST(ROUND(log2(CAST(u.c1 AS DOUBLE))
                      - log2(CAST(b.c2 AS DOUBLE)), 9)
                AS DECIMAL(18,9)) AS t
    FROM bigrams g
    JOIN bg_counts b ON b.w1 = g.w1 AND b.w2 = g.w2
    JOIN ug_counts u ON u.w1 = g.w1
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(CAST(SUM(t) AS DOUBLE) / COUNT(*), 6) AS mean_surprisal
FROM scored GROUP BY doc_id
"""


@q("q_bigram_surprisal", oracle_sql=_SURPRISAL_ORACLE)
def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+ [EXT]: per-document mean bigram surprisal under the corpus's
    own bigram LM — −log2 P(w2|w1) with P = C(w1,w2)/C(w1·) — the
    statistical ancestor of perplexity filtering: docs whose word
    sequences are unusually predictable (templates, boilerplate) or
    unusually random (garbage) sit at the distribution's ends.

    Float discipline: each term is log2(C1) − log2(C2) — log2 of
    INTEGER arguments, which the engines agree on (it is log2 of
    rationals that diverges by 1 ulp; the q_token_entropy lesson) —
    rounded to 9dp and decimal-summed, mean rounded to 6dp.

    Plan shape: bigrams derive per-row (zip of the token array with its
    own tail — no self-join; the oracle's positional join is the SQL
    spelling of the same pairing); counts are two stacked hash aggs
    (bigram, then its w1 rollup); the doc stream joins both count
    tables keyed on the bigram/w1 — co-partitioned on w1 at scale, and
    the unigram table broadcasts when vocabulary-sized. The fact is
    scanned once (bigram relation reused via its own aggregation,
    never re-derived)."""
    prep(spark)
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    bigram_arr = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bigrams = d.select(
        "doc_id", F.explode(bigram_arr).alias("bg")
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bg_counts = bigrams.groupBy(
        F.col("w1").alias("c_w1"), F.col("w2").alias("c_w2")
    ).agg(F.count(F.lit(1)).alias("c2"))
    ug_counts = bg_counts.groupBy(F.col("c_w1").alias("u_w1")).agg(
        F.sum("c2").alias("c1")
    )
    term = F.round(
        F.log2(F.col("c1").cast("double")) - F.log2(F.col("c2").cast("double")),
        9,
    ).cast("decimal(18,9)")
    scored = (
        bigrams.join(
            bg_counts,
            (F.col("w1") == F.col("c_w1")) & (F.col("w2") == F.col("c_w2")),
        )
        .join(F.broadcast(ug_counts), F.col("w1") == F.col("u_w1"))
        .select("doc_id", term.alias("t"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.sum("t").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_surprisal"
        ),
    )


# --- co-purchase PMI lift (association strength) ------------------------

_LIFT_ORACLE = """
WITH pp AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_baskets AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM pp),
item AS (SELECT l_partkey, COUNT(*) AS c1 FROM pp GROUP BY l_partkey),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS c12
    FROM pp a
    JOIN pp b ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
    GROUP BY 1, 2
)
SELECT part_a, part_b, CAST(c12 AS BIGINT) AS c12,
       ROUND(log2(CAST(n.n AS DOUBLE)) + log2(CAST(c12 AS DOUBLE))
             - log2(CAST(ia.c1 AS DOUBLE)) - log2(CAST(ib.c1 AS DOUBLE)),
             6) AS pmi
FROM pairs
JOIN item ia ON ia.l_partkey = part_a
JOIN item ib ON ib.l_partkey = part_b
CROSS JOIN n_baskets n
WHERE c12 >= 2
ORDER BY pmi DESC, part_a, part_b
LIMIT 20
"""


@q("q_copurchase_lift", oracle_sql=_LIFT_ORACLE)
def copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+ [EXT]: association STRENGTH on top of co-purchase support —
    pointwise mutual information log2(N·c12/(c1·c2)) for pairs with
    support ≥ 2, top 20. Raw support favors popular items; PMI surfaces
    the pairs bought together far beyond chance (the association-rule /
    recommender signal).

    Float discipline: PMI is a ± chain of log2 over INTEGER counts
    (engine-identical, the entropy lesson), rounded once at 6dp —
    comparisons and the top-20 tie-break are then engine-exact.

    Plan shape: identical base to q_copurchase_pairs (in-basket JVM
    pair expansion, no fact self-join); item counts and the basket
    total broadcast back onto the pair aggregate (pair-count-sized);
    TakeOrdered top-20."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    pp = li.select("l_orderkey", "l_partkey").distinct()
    baskets = (
        pp.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .where(F.size("parts") >= 2)
    )
    pairs_expr = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pairs_expr).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("c12"))
        .where(F.col("c12") >= 2)
    )
    item = pp.groupBy(F.col("l_partkey").alias("ik")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    n_baskets = pp.agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    lg = lambda c: F.log2(c.cast("double"))  # noqa: E731
    return (
        pairs.join(F.broadcast(item), F.col("part_a") == F.col("ik"))
        .withColumnRenamed("c1", "c1a")
        .drop("ik")
        .join(F.broadcast(item), F.col("part_b") == F.col("ik"))
        .withColumnRenamed("c1", "c1b")
        .drop("ik")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            F.col("c12").cast("long").alias("c12"),
            F.round(
                lg(F.col("n")) + lg(F.col("c12"))
                - lg(F.col("c1a")) - lg(F.col("c1b")),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "part_a", "part_b")
        .limit(20)
    )


# --- running distinct (cumulative unique users) -------------------------

_RUNNING_DISTINCT_ORACLE = """
WITH firsts AS (
    SELECT user_id,
           CAST(date_trunc('day', MIN(CAST(ts AS TIMESTAMP))) AS TIMESTAMP)
             AS first_day
    FROM events GROUP BY user_id
),
per_day AS (
    SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
    FROM firsts GROUP BY first_day
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users
FROM per_day
"""


@q("q_running_distinct", oracle_sql=_RUNNING_DISTINCT_ORACLE)
def running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+ [EXT]: cumulative distinct users by day — the growth curve.
    The scale lesson IS the rewrite: a naive distinct-over-expanding-
    window recounts the whole history per day; marking each user's
    FIRST day (one user-keyed agg) turns it into new-users-per-day plus
    a running sum over the bounded day-cardinality table (the same
    bounded global window as the sweep-line query). The fact is touched
    once."""
    prep(spark)
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_day")
    )
    per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_day.select(
        "day", "new_users", F.sum("new_users").over(w).cast("long").alias("cum_users")
    )


# --- decile lift (score calibration table) ------------------------------

_DECILE_ORACLE = """
WITH spend AS (
    SELECT o_custkey,
           ROUND(CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS spend,
           MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
             AS urgent
    FROM orders GROUP BY o_custkey
),
scored AS (
    SELECT *, NTILE(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
    FROM spend
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(urgent) AS DOUBLE) / COUNT(*), 6) AS urgent_rate,
       ROUND(CAST(SUM(TRY_CAST(spend AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6)
         AS avg_spend
FROM scored GROUP BY decile
"""


@q("q_decile_lift", oracle_sql=_DECILE_ORACLE)
def decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+ [EXT]: the decile lift/calibration table — rank customers by
    total spend, cut into NTILE(10) deciles, report each decile's size,
    urgent-order rate and average spend. The standard "is the score
    monotone in the outcome" eval for any ranking model.

    Plan shape: one custkey aggregate builds (spend, outcome); the
    decile cut is operators/ranking.global_rank (ONE range exchange
    over the customer-cardinality aggregate — never a single-partition
    NTILE window) + the exact ntile_from_rank closed form fed by a
    one-row broadcast count, so the plan survives a customer base that
    grows with the data. The decile rollup is 10 rows. Spend is
    decimal-rounded BEFORE ranking so the sort keys are engine-exact;
    custkey breaks ties. Plan-gated: no global Window node
    (tests/test_plans.py::test_no_data_sized_global_windows)."""
    prep(spark)
    from modevetl_spark.operators.ranking import global_rank, ntile_from_rank

    o = load(spark, sf_dir, "orders")
    # try_cast at the fold seam: one 1e300 price row NULLs out instead
    # of aborting the stage (COVERAGE.md M11)
    spend = o.groupBy("o_custkey").agg(
        F.round(
            F.sum(F.col("o_totalprice").try_cast("decimal(18,6)")).cast("double"),
            2,
        ).alias("spend"),
        F.max(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("urgent"),
    )
    ranked = global_rank(
        spend, [F.col("spend").desc(), F.col("o_custkey")], rank_col="_rn"
    )
    # the count aggregates over global_rank's internal checkpoint — no
    # second scan of the fact
    n1 = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    scored = ranked.crossJoin(F.broadcast(n1)).withColumn(
        "decile", ntile_from_rank("_rn", "_n", 10)
    )
    return scored.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(
            F.sum("urgent").cast("double") / F.count(F.lit(1)), 6
        ).alias("urgent_rate"),
        F.round(
            # try convention on the second-level refold too (r13
            # inline-fold cohort): a decile whose spend SUM overflows
            # (18,6) at scale NULLs the refold instead of aborting;
            # denominator stays the decile row count (avg spend per
            # customer), mirrored in the oracle
            F.sum(F.col("spend").try_cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_spend"),
    )


# --- RFM segmentation ----------------------------------------------------

_RFM_ORACLE = """
WITH base AS (
    SELECT o_custkey,
           date_diff('day', MAX(o_orderdate),
                     (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
           COUNT(*) AS frequency,
           ROUND(CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS monetary
    FROM orders GROUP BY o_custkey
),
buckets AS (
    SELECT o_custkey,
           NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r,
           NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f,
           NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS m,
           monetary
    FROM base
)
SELECT 'R' || CAST(r AS VARCHAR) || 'F' || CAST(f AS VARCHAR)
         || 'M' || CAST(m AS VARCHAR) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(TRY_CAST(monetary AS DECIMAL(18,6))) AS DOUBLE), 2)
         AS total_monetary
FROM buckets
GROUP BY segment
"""


@q("q_customer_rfm", oracle_sql=_RFM_ORACLE)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+ [EXT]: RFM segmentation — recency (days since last order,
    vs the corpus max date), frequency, monetary quintiles, each cut
    with NTILE(5), concatenated into the classic R#F#M# segment label,
    with segment sizes and total spend (a decimal-exact sum — a
    2-customer segment's AVERAGE can land on an exact .005 boundary
    where the engines' final rounds split; the total cannot).

    Plan shape (r14): one custkey aggregate; the corpus max date is an
    in-DAG broadcast one-row aggregate (no driver collect); the three
    quintile cuts are ONE operators/ranking.global_rank pass over the
    3n-row unpivoted (metric, sort-value, custkey) relation — one range
    exchange + one checkpoint where the r13 form paid three of each
    plus three custkey joins — pivoted back by a single custkey
    hash aggregate and converted to buckets by the exact
    ntile_from_rank closed form with a one-row broadcast count.
    Monetary is rounded before ranking; custkey breaks every tie, so
    all three bucket assignments are engine-exact (the order-isomorphic
    unpivot mapping is documented inline and differential-pinned).
    Plan-gated: no global Window node
    (tests/test_plans.py::test_no_data_sized_global_windows)."""
    prep(spark)
    from modevetl_spark.operators.ranking import global_rank, ntile_from_rank

    o = load(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("corpus_max"))
    base = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            # try_cast: one 1e300 price row NULLs out of the monetary
            # fold instead of aborting the stage (COVERAGE.md M11)
            F.round(
                F.sum(F.col("o_totalprice").try_cast("decimal(18,6)")).cast(
                    "double"
                ),
                2,
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff("corpus_max", "last_order").alias("recency_days"),
            "frequency",
            "monetary",
        )
        # three rank consumers + the final join re-read this relation:
        # pin it once (customer-cardinality) so the orders aggregate
        # runs exactly once
        .localCheckpoint(eager=True)
    )
    n1 = base.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    # r14 (guide §2.1/§2.4): ONE rank pass over the unpivoted
    # (metric, sort-value, custkey) relation instead of three
    # global_rank passes — one range exchange + one checkpoint where
    # the r13 thread-pool form still paid three of each plus three
    # custkey joins. Each metric slice holds exactly n rows (the
    # 3-struct explode emits all three rows per customer
    # unconditionally), metric is the leading range key with
    # lexicographic order f < m < r, so the in-metric rank is
    # rn − n·idx. The per-metric sort value maps to a double
    # ORDER-PRESERVINGLY with the original null placement mirrored:
    # frequency desc ≡ −frequency asc (a count: non-null, < 2⁵³ so the
    # double cast is exact); monetary desc NULLS LAST ≡ −monetary asc
    # with NULL→+inf (monetary is a 2dp-rounded finite double, so +inf
    # is unreachable otherwise); recency asc NULLS FIRST ≡ recency asc
    # with NULL→−inf (an int day-diff, exact in double). Ties break on
    # o_custkey in both forms. Pinned by
    # tests/test_differentials.py::test_rfm_unpivot_rank_matches_three_pass.
    unp = base.select(
        "o_custkey",
        "monetary",
        F.explode(
            F.array(
                F.struct(
                    F.lit("f").alias("metric"),
                    (-F.col("frequency").cast("double")).alias("sval"),
                ),
                F.struct(
                    F.lit("m").alias("metric"),
                    F.coalesce(
                        -F.col("monetary"), F.lit(float("inf"))
                    ).alias("sval"),
                ),
                F.struct(
                    F.lit("r").alias("metric"),
                    F.coalesce(
                        F.col("recency_days").cast("double"),
                        F.lit(float("-inf")),
                    ).alias("sval"),
                ),
            )
        ).alias("e"),
    ).select("o_custkey", "monetary", "e.metric", "e.sval")
    ranked = global_rank(unp, ["metric", "sval", "o_custkey"], rank_col="_rn")
    idx = (
        F.when(F.col("metric") == "f", F.lit(0))
        .when(F.col("metric") == "m", F.lit(1))
        .otherwise(F.lit(2))
        .cast("bigint")
    )
    rankw = ranked.crossJoin(F.broadcast(n1)).select(
        "o_custkey",
        "monetary",
        "metric",
        (F.col("_rn") - idx * F.col("_n")).alias("_rw"),
        "_n",
    )
    buckets = rankw.groupBy("o_custkey").agg(
        F.max("monetary").alias("monetary"),
        F.max(F.when(F.col("metric") == "r", F.col("_rw"))).alias("_rr"),
        F.max(F.when(F.col("metric") == "f", F.col("_rw"))).alias("_rf"),
        F.max(F.when(F.col("metric") == "m", F.col("_rw"))).alias("_rm"),
        F.max("_n").alias("_n"),
    ).select(
        "o_custkey",
        "monetary",
        ntile_from_rank("_rr", "_n", 5).alias("r"),
        ntile_from_rank("_rf", "_n", 5).alias("f"),
        ntile_from_rank("_rm", "_n", 5).alias("m"),
    )
    return buckets.groupBy(
        F.concat(
            F.lit("R"), F.col("r").cast("string"),
            F.lit("F"), F.col("f").cast("string"),
            F.lit("M"), F.col("m").cast("string"),
        ).alias("segment")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(
            # try convention on the segment-level refold (r13 cohort)
            F.sum(F.col("monetary").try_cast("decimal(18,6)")).cast("double"),
            2,
        ).alias("total_monetary"),
    )


# --- discount elasticity (per-brand OLS slope) --------------------------

_ELASTICITY_ORACLE = """
WITH base AS (
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(l.l_discount AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS sx,
           ROUND(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS sy,
           ROUND(CAST(SUM(CAST(l.l_discount AS DECIMAL(18,6))
                         * CAST(l.l_discount AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS sxx,
           ROUND(CAST(SUM(CAST(l.l_discount AS DECIMAL(18,6))
                         * CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS sxy
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
)
SELECT p_brand, n,
       CASE WHEN n * sxx - sx * sx <> 0
            THEN ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
       END AS slope
FROM base
"""


@q("q_discount_elasticity", oracle_sql=_ELASTICITY_ORACLE)
def discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+ [EXT]: per-brand OLS slope of quantity on discount — the
    one-pass simple-regression shape (elasticity screens, drift
    detectors, trend fits all reduce to it).

    Float discipline: the four power sums are decimal-exact and rounded
    to 6dp BEFORE the slope formula, which is then a fixed tree of
    exact IEEE ops (*, -, /) over bit-identical operands — with the
    degenerate-variance guard explicit (Spark ANSI raises on the zero
    division where DuckDB NULLs; the z-test lesson).

    Plan shape: part's (partkey, brand) broadcasts onto the fact; ONE
    hash aggregate computes all four sums with map-side combine —
    single fact scan, single brand-keyed exchange of 4-number rows."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_discount", "l_quantity"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    dec = "decimal(18,6)"
    x = F.col("l_discount").cast(dec)
    y = F.col("l_quantity").cast(dec)
    base = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum(x).cast("double"), 6).alias("sx"),
            F.round(F.sum(y).cast("double"), 6).alias("sy"),
            F.round(F.sum(x * x).cast("double"), 6).alias("sxx"),
            F.round(F.sum(x * y).cast("double"), 6).alias("sxy"),
        )
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return base.select(
        "p_brand",
        "n",
        F.when(
            denom != 0,
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom,
                6,
            ),
        ).alias("slope"),
    )


# --- seasonal index (month-of-year demand normalization) ----------------

_SEASONAL_ORACLE = """
WITH monthly AS (
    SELECT CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS month,
           ROUND(CAST(SUM(TRY_CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS qty
    FROM lineitem
    GROUP BY 1
),
overall AS (
    SELECT ROUND(CAST(SUM(TRY_CAST(qty AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_qty
    FROM monthly
)
SELECT m.month, m.qty,
       ROUND(m.qty / o.mean_qty, 6) AS seasonal_index
FROM monthly m CROSS JOIN overall o
"""


@q("q_seasonal_index", oracle_sql=_SEASONAL_ORACLE)
def seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3+/A10+ [EXT]: month-of-year seasonal index — each calendar
    month's shipped quantity as a ratio to the mean month (>1 = high
    season), the normalization behind de-seasonalized forecasting.

    Plan shape: one fact scan into a 12-row month aggregate; the grand
    mean is a one-row aggregate OVER THAT RESULT, broadcast-cross-
    joined back (in-DAG, no driver collect, no fact re-scan — the
    q_tpch_top_supplier pattern on an aggregate-of-aggregate). Ratios
    divide two already-rounded doubles."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem").select("l_shipdate", "l_quantity")
    monthly = li.groupBy(
        F.month("l_shipdate").cast("long").alias("month")
    ).agg(
        F.round(
            F.sum(F.col("l_quantity").try_cast("decimal(18,6)")).cast("double"), 2
        ).alias("qty")
    )
    overall = monthly.agg(
        F.round(
            F.sum(F.col("qty").try_cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_qty")
    )
    return monthly.crossJoin(F.broadcast(overall)).select(
        "month",
        "qty",
        F.round(F.col("qty") / F.col("mean_qty"), 6).alias("seasonal_index"),
    )


# --- shingle containment (quote / subset detection) ---------------------

_CONTAIN_ORACLE = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '') AS w
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        FROM toks, UNNEST(range(1, GREATEST(len(w) - 1, 1))) AS t(i)
        WHERE i + 2 <= len(w)
    )
),
disc AS (
    SELECT s.doc_id, s.sh
    FROM sh s JOIN (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh) d
      ON d.sh = s.sh
    WHERE d.df BETWEEN 2 AND 20
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM disc GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
    FROM disc a JOIN disc b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT a_id, b_id, CAST(shared AS BIGINT) AS shared,
       ROUND(CAST(shared AS DOUBLE) / sa.n, 6) AS containment
FROM inter
JOIN sz sa ON sa.doc_id = a_id
WHERE ROUND(CAST(shared AS DOUBLE) / sa.n, 6) >= 0.5
"""


@q("q_text_containment", oracle_sql=_CONTAIN_ORACLE)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+ [EXT]: asymmetric shingle containment |A∩B|/|A| ≥ 0.5 over
    DISCRIMINATIVE trigram shingles (document frequency 2..20) — the
    quote/subset detector: symmetric Jaccard misses a short doc wholly
    contained in a long one, containment is built for exactly that.

    The df band is the semantics, not a shortcut: df=1 shingles can't
    witness a pair, and df>20 shingles are corpus boilerplate whose
    postings blow up the pair expansion (the documented hot-token
    bound, same as the inverted-index head cap). Containment divides
    two integers — one exact IEEE op, engine-identical.

    Plan shape: shingles derive per-row (the zip_with builder — no
    shuffle); one shingle-keyed agg computes df; the pair expansion is
    an equi-self-join on the df-banded posting list (each shingle
    contributes ≤ C(20,2) pairs); sizes broadcast back onto the
    pair-count aggregate."""
    prep(spark)
    from modevetl_spark.operators.text import word_shingles

    d = load(spark, sf_dir, "documents")
    sh = (
        d.select(
            "doc_id", F.explode(word_shingles(tokens("text"), 3)).alias("sh")
        )
        .distinct()
    )
    df_tab = sh.groupBy(F.col("sh").alias("d_sh")).agg(
        F.count(F.lit(1)).alias("df")
    )
    disc = (
        sh.join(df_tab, F.col("sh") == F.col("d_sh"))
        .where(F.col("df").between(2, 20))
        .select("doc_id", "sh")
    )
    sz = disc.groupBy(F.col("doc_id").alias("s_doc")).agg(
        F.count(F.lit(1)).alias("n")
    )
    a = disc.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
    b = disc.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    inter = (
        a.join(
            b, (F.col("a_sh") == F.col("b_sh")) & (F.col("a_id") < F.col("b_id"))
        )
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    out = inter.join(
        F.broadcast(sz), F.col("a_id") == F.col("s_doc")
    ).select(
        "a_id",
        "b_id",
        "shared",
        F.round(F.col("shared").cast("double") / F.col("n"), 6).alias(
            "containment"
        ),
    )
    return out.where(F.col("containment") >= 0.5)


# --- trending tokens (corpus drift between halves) ----------------------

_TRENDING_ORACLE = r"""
WITH toks AS (
    SELECT doc_id, tok FROM (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents
    )
),
med AS (SELECT CAST(FLOOR(MAX(doc_id) / 2.0) AS BIGINT) AS m FROM documents),
counts AS (
    SELECT tok,
           CAST(SUM(CASE WHEN doc_id <= m THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN doc_id > m THEN 1 ELSE 0 END) AS BIGINT) AS c2
    FROM toks CROSS JOIN med
    GROUP BY tok
)
SELECT tok, c1, c2,
       ROUND(log2(CAST(c2 + 1 AS DOUBLE)) - log2(CAST(c1 + 1 AS DOUBLE)), 6)
         AS trend
FROM counts
WHERE c1 + c2 >= 10
ORDER BY trend DESC, tok
LIMIT 20
"""


@q("q_trending_tokens", oracle_sql=_TRENDING_ORACLE)
def trending_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+ [EXT]: corpus-drift detection — tokens whose frequency rises
    most from the first half of the corpus (by doc id) to the second,
    scored by the smoothed log ratio log2((c2+1)/(c1+1)), minimum total
    frequency 10, top 20. The monitoring query of a continuously-
    ingested corpus (topic shift, contamination onset, crawl drift).

    Float discipline: the smoothed ratio is kept as a DIFFERENCE of
    integer-argument log2 (engine-identical; never log2 of the
    rational). The split point is an in-DAG broadcast scalar. One
    explode → one token-keyed agg with both halves' counts as
    conditional sums in the same pass — single fact scan, TakeOrdered
    top-20."""
    prep(spark)
    d = load(spark, sf_dir, "documents")
    med = d.agg(F.floor(F.max("doc_id") / 2).cast("long").alias("m"))
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    counts = (
        toks.crossJoin(F.broadcast(med))
        .groupBy("tok")
        .agg(
            F.sum(F.when(F.col("doc_id") <= F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("doc_id") > F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("c2"),
        )
    )
    return (
        counts.where(F.col("c1") + F.col("c2") >= 10)
        .select(
            "tok",
            "c1",
            "c2",
            F.round(
                F.log2((F.col("c2") + 1).cast("double"))
                - F.log2((F.col("c1") + 1).cast("double")),
                6,
            ).alias("trend"),
        )
        .orderBy(F.desc("trend"), "tok")
        .limit(20)
    )


# --- revenue concentration (Gini / top-decile share) --------------------

_GINI_ORACLE = """
WITH spend AS (
    SELECT o_custkey,
           ROUND(CAST(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS s
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT s, ROW_NUMBER() OVER (ORDER BY s, o_custkey) AS i,
           COUNT(*) OVER () AS n
    FROM spend WHERE s IS NOT NULL
),
agg AS (
    SELECT MAX(n) AS n,
           ROUND(CAST(SUM(TRY_CAST(s AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS total,
           ROUND(CAST(SUM(TRY_CAST(i AS DECIMAL(18,0))
                          * TRY_CAST(s AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS weighted,
           ROUND(CAST(SUM(CASE WHEN i > n - CAST(FLOOR(n / 10.0) AS BIGINT)
                               THEN TRY_CAST(s AS DECIMAL(18,6)) END)
                      AS DOUBLE), 2) AS top_decile
    FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
       ROUND(2.0 * weighted / (n * total)
             - (CAST(n AS DOUBLE) + 1.0) / n, 6) AS gini,
       ROUND(top_decile / total, 6) AS top_decile_share
FROM agg
"""


@q("q_revenue_gini", oracle_sql=_GINI_ORACLE)
def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+ [EXT]: revenue concentration — the Gini coefficient over
    per-customer spend (rank formula G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n on
    the ascending-sorted spends) plus the top-decile customer share.
    The whale-curve question every marketplace asks.

    Float discipline: rank·spend products and both totals are decimal-
    exact and 2dp-rounded before the closed-form expression, which is
    then a fixed tree of exact IEEE ops. The rank is
    operators/ranking.global_rank over the customer-cardinality
    aggregate (ONE range exchange — never a single-partition
    row_number window), and n arrives as a one-row broadcast count;
    custkey breaks spend ties so ranks are engine-exact. Single-row
    output. Plan-gated: no global Window node (tests/test_mining.py)."""
    prep(spark)
    from modevetl_spark.operators.ranking import global_rank

    o = load(spark, sf_dir, "orders")
    # try_cast at the fold seam: one 1e300 price row NULLs out instead
    # of aborting the stage (COVERAGE.md M11); a customer whose ENTIRE
    # spend is unrepresentable (all-hostile orders → NULL s) has no
    # defined rank and is excluded on BOTH engines — without the
    # filter the Lorenz ranks diverge on NULL order (Spark ASC = NULLS
    # FIRST, DuckDB ASC = NULLS LAST)
    spend = o.groupBy("o_custkey").agg(
        F.round(
            F.sum(F.col("o_totalprice").try_cast("decimal(18,6)")).cast("double"),
            2,
        ).alias("s")
    ).where(F.col("s").isNotNull())
    ranked_rn = global_rank(spend, ["s", "o_custkey"], rank_col="i")
    # n aggregates over global_rank's internal checkpoint — no second
    # scan of the fact — and rides every row as a broadcast scalar
    n1 = ranked_rn.agg(F.count(F.lit(1)).alias("n"))
    ranked = ranked_rn.crossJoin(F.broadcast(n1))
    agg = ranked.agg(
        F.max("n").alias("n"),
        # try convention on the second-level refolds (r13 inline-fold
        # cohort): s is a 2dp double from an already-try-folded sum, but
        # a whale customer's total can overflow (18,6) at scale; i is a
        # rank (in-range until 1e18 customers) — both seams NULL instead
        # of aborting, mirrored as TRY_CAST in the oracle
        F.round(
            F.sum(F.col("s").try_cast("decimal(18,6)")).cast("double"), 2
        ).alias("total"),
        F.round(
            F.sum(
                F.col("i").try_cast("decimal(18,0)")
                * F.col("s").try_cast("decimal(18,6)")
            ).cast("double"),
            2,
        ).alias("weighted"),
        F.round(
            F.sum(
                F.when(
                    F.col("i")
                    > F.col("n") - F.floor(F.col("n") / 10).cast("long"),
                    F.col("s").try_cast("decimal(18,6)"),
                )
            ).cast("double"),
            2,
        ).alias("top_decile"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(
            F.lit(2.0) * F.col("weighted") / (F.col("n") * F.col("total"))
            - (F.col("n").cast("double") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
        F.round(F.col("top_decile") / F.col("total"), 6).alias(
            "top_decile_share"
        ),
    )


# --- order inter-arrival statistics -------------------------------------

_INTERARRIVAL_ORACLE = """
WITH seq AS (
    SELECT o_custkey,
           date_diff('day',
                     LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey),
                     o_orderdate) AS gap_days
    FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
       ROUND(CAST(SUM(TRY_CAST(gap_days AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_gap,
       CAST(median(gap_days) AS DOUBLE) AS median_gap,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap
FROM seq WHERE gap_days IS NOT NULL
"""


@q("q_order_interarrival", oracle_sql=_INTERARRIVAL_ORACLE)
def order_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4+/A5+ [EXT]: inter-arrival statistics — days between a
    customer's consecutive orders (LAG over the per-customer order
    sequence), summarized as count / exact mean / exact median / max.
    The purchase-cadence input to churn and replenishment models.

    Plan shape: one custkey-partitioned window computes the gaps (the
    fact's only exchange); the summary is a one-row aggregate. Median
    is exact (integer day gaps — both engines interpolate identically
    on integers at the midpoint, and the .5 case is exactly
    representable). Order-date ties break by orderkey so every gap is
    engine-deterministic."""
    prep(spark)
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        F.datediff(
            "o_orderdate", F.lag("o_orderdate").over(w)
        ).alias("gap_days")
    ).where(F.col("gap_days").isNotNull())
    return seq.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.round(
            # try convention (r13 cohort); gap_days is datediff-bounded
            # (≤ ~3.65e6 even for year-9999 poison) so the fold cannot
            # overflow today — converted for the one-convention invariant
            F.sum(F.col("gap_days").try_cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_gap"),
        F.expr("percentile(gap_days, 0.5)").cast("double").alias("median_gap"),
        F.max("gap_days").cast("long").alias("max_gap"),
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
    # widen, so the admitted range is engine-identical (the r11 money
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
