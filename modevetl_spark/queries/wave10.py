"""Corpus-statistics and linkage operators.

- ``q_sketch_hll`` — deterministic HyperLogLog (Flajolet et al. 2007):
  the canonical production cardinality sketch beside the KMV estimator
  — md5-derived registers, leading-zero ranks from integer-arg log2,
  harmonic mean over exact powers of two. The full register state is
  replayable in ANSI SQL, unlike ``approx_count_distinct``'s opaque
  HLL++ blob (q_agg_approx_sketches), so the estimate itself is graded
  as data, not just bounded.
- ``q_cooccur_pmi`` — windowed co-occurrence PPMI associations: the
  word-association table (PPMI matrix rows) distributional-semantics
  pipelines precompute; pairs generated ROW-LOCALLY from the token
  array (no self-join), PMI as integer-arg log2 ± chains.
- ``q_linkage_weights`` — Fellegi–Sunter-style record-linkage scoring
  over blocked candidate pairs: frequency-based agreement weights
  (rarer agreeing values ⇒ stronger match evidence), exact integer
  micro-bit weights via the decimal fold.
- ``q_token_burstiness`` — Fisher variance-to-mean dispersion of
  per-document token counts (zeros included algebraically): the
  Church–Gale content-vs-function-word diagnostic.
- ``q_bpe_merges`` — BPE merge training (Sennrich et al. 2016): the
  tokenizer-learning loop over the word-frequency table; strings and
  integer counts only, so cross-engine parity is structural.
- ``q_textrank_keywords`` — TextRank keyword extraction (Mihalcea &
  Tarau 2004): weighted PageRank over the skip-gram co-occurrence
  graph, composing the shared pair front-end with the
  operators/graph.pagerank iteration discipline.
- ``q_doc_lm_score`` — per-document unigram cross-entropy against the
  corpus LM in bits/token: the CCNet-style LM quality filter, the
  document-level companion to the source-level KL drift score.
- ``q_unseen_mass`` — Good–Turing unseen-mass estimate per source
  (P₀ = hapax/N): the vocabulary-saturation signal that tells a
  curation loop which sources still surprise.

Reference parity: SURVEY.md §2's sketch/dedup families; re-expressed
per SURVEY §0's protocol with bounded formulations chosen for the
1000-executor case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()


# --- Deterministic HyperLogLog over lineitem part keys --------------------

_HLL_B = 6  # register-index bits
_HLL_M = 1 << _HLL_B  # 64 registers
_HLL_WBITS = 32 - _HLL_B  # 26-bit rank word
_HLL_ALPHA = 0.709  # alpha_64 (Flajolet et al. 2007, m = 64)

_HLL_ORACLE = f"""
WITH h AS (
    -- NULL keys carry no identity (COUNT DISTINCT semantics) — mirrors
    -- the engine-side .where(isNotNull) filter in hll_state; without it
    -- md5(NULL)=NULL yields a j=NULL register row that inflates n_regs
    -- while contributing nothing to s_hit.
    SELECT CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
                AS BIGINT) AS h32
    FROM lineitem
    WHERE l_partkey IS NOT NULL
),
jr AS (
    SELECT h32 // {1 << _HLL_WBITS} AS j,
           h32 % {1 << _HLL_WBITS} AS w
    FROM h
),
reg AS (
    SELECT j,
           MAX(CASE WHEN w = 0 THEN {_HLL_WBITS + 1}
                    ELSE {_HLL_WBITS + 1} - CAST(length(bin(w)) AS BIGINT)
               END) AS mj
    FROM jr GROUP BY 1
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_regs,
           SUM(CAST(1 AS DOUBLE)
               / CAST((CAST(1 AS BIGINT) << mj) AS DOUBLE)) AS s_hit
    FROM reg
),
ex AS (
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
    FROM lineitem
)
SELECT CAST({_HLL_M} AS BIGINT) AS m,
       s.n_regs,
       CAST({_HLL_M} - s.n_regs AS BIGINT) AS v_zeros,
       CAST({_HLL_M} - s.n_regs AS DOUBLE) + s.s_hit AS harmonic_sum,
       CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M} * {_HLL_M}
           / (CAST({_HLL_M} - s.n_regs AS DOUBLE) + s.s_hit) AS est_hll,
       ex.exact_distinct,
       (CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M} * {_HLL_M}
            / (CAST({_HLL_M} - s.n_regs AS DOUBLE) + s.s_hit)
        - ex.exact_distinct) / ex.exact_distinct AS rel_err,
       ABS(CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M} * {_HLL_M}
               / (CAST({_HLL_M} - s.n_regs AS DOUBLE) + s.s_hit)
           - ex.exact_distinct) / ex.exact_distinct
           <= {2 * 1.04} / sqrt({_HLL_M}) AS ok_2sigma
FROM s CROSS JOIN ex
"""


@q("q_sketch_hll", oracle_sql=_HLL_ORACLE)
def sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9++++ [EXT]: deterministic HyperLogLog (Flajolet–Fusy–Gandouet–
    Meunier 2007) distinct count of lineitem part keys, m={M}
    registers — the canonical production cardinality sketch beside the
    KMV estimator (q_sketch_distinct_kmv) and Spark's own opaque HLL++
    (q_agg_approx_sketches). Here the WHOLE sketch is replayable: the
    shared 32-bit md5 idiom splits into a {B}-bit register index j and
    a {W}-bit rank word w; the register rank is the leading-zero count
    rho = {W}+1 (w=0) else {W}+1 − length(bin(w)) — derived from BIT
    LENGTH (pure integer/string ops, both engines drop leading zeros),
    no transcendental at all; registers are a {M}-row max-aggregate.

    Float discipline: every harmonic term 2^−M[j] is computed as
    1.0 / (1 << M[j]) — an EXACT power of two (no pow(), the
    q_decayed_value rule) — and the sum of ≤{M} exact powers of two
    spanning 2^−{Wp1}..2^6 fits a 52-bit mantissa, so the harmonic sum
    is EXACT regardless of accumulation order: no decimal fold needed.
    The estimate α_m·m²/S is then a fixed tree of IEEE ops on exact
    inputs — bit-identical across engines, emitted raw (the round-7
    no-rounding lesson). Both fixture SFs sit in the raw-estimator
    regime (distinct ≥ 200 > 2.5m = 160), so the linear-counting
    small-range branch — whose ln() is NOT portable — never fires;
    v_zeros is emitted as data so the regime is itself graded. The
    estimator's 2σ band (2·1.04/√m ≈ 26%) is asserted as a verdict
    column, and exactness/mergeability (registers merge by elementwise
    max) are pinned by pytest.

    Plan shape: one streaming scan → {M}-row register max-aggregate
    (map-side combine collapses everything: the exchange carries at
    most {M} rows per task); the exact-verify tier is the one
    data-sized distinct and exists to be graded. At 100 TB the sketch
    path alone is a scan plus a {M}-row exchange — and the register
    table is the mergeable shard/stream state."""
    from modevetl_spark.operators.sketches import hll_state

    prep(spark)
    li = load(spark, sf_dir, "lineitem")
    reg = hll_state(li, "l_partkey", b=_HLL_B)
    s = reg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_regs"),
        F.sum(
            F.lit(1.0) / F.expr("shiftleft(cast(1 as bigint), mj)").cast("double")
        ).alias("s_hit"),
    )
    ex = li.agg(
        F.count_distinct("l_partkey").cast("bigint").alias("exact_distinct")
    )
    m = F.lit(_HLL_M)
    harmonic = (m - F.col("n_regs")).cast("double") + F.col("s_hit")
    est = F.lit(_HLL_ALPHA) * m * m / harmonic
    rel = (est - F.col("exact_distinct")) / F.col("exact_distinct")
    return s.crossJoin(F.broadcast(ex)).select(
        m.cast("bigint").alias("m"),
        "n_regs",
        (m - F.col("n_regs")).cast("bigint").alias("v_zeros"),
        harmonic.alias("harmonic_sum"),
        est.alias("est_hll"),
        "exact_distinct",
        rel.alias("rel_err"),
        (
            F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct")
            <= F.lit(2 * 1.04) / F.sqrt(m.cast("double"))
        ).alias("ok_2sigma"),
    )


_doc = sketch_hll.__doc__
for _k, _v in (
    ("{M}", str(_HLL_M)),
    ("{B}", str(_HLL_B)),
    ("{W}", str(_HLL_WBITS)),
    ("{Wp1}", str(_HLL_WBITS + 1)),
):
    _doc = _doc.replace(_k, _v)
sketch_hll.__doc__ = _doc


# --- Windowed co-occurrence PPMI associations ------------------------------

_PMI_W = 4  # skip-gram window: pairs (tok_i, tok_{i+d}), d = 1..W
_PMI_MIN = 5  # minimum pair count (kills one-off noise pairs)
_PMI_K = 50


def _skipgram_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered non-self skip-gram pair counts (window ``_PMI_W``) over
    the document corpus — the shared co-occurrence front-end of
    ``q_cooccur_pmi`` and ``q_textrank_keywords``. Pairs are generated
    ROW-LOCALLY (a flatten of W offset zip_withs — never a positional
    self-join), so the only exchange is the map-side-combined pair
    aggregate."""
    from modevetl_spark.operators.text import tokens

    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    _BIG = 1 << 30
    pair_lists = F.flatten(
        F.array(
            *[
                F.filter(
                    F.zip_with(
                        toks,
                        F.slice(toks, dd + 1, _BIG),
                        lambda a, b: F.struct(
                            F.least(a, b).alias("a"),
                            F.greatest(a, b).alias("b"),
                            (a == b).alias("selfp"),
                            b.isNull().alias("pad"),
                        ),
                    ),
                    lambda s: ~s["pad"] & ~s["selfp"],
                )
                for dd in range(1, _PMI_W + 1)
            ]
        )
    )
    return (
        d.select(F.explode(pair_lists).alias("pr"))
        .select(F.col("pr.a").alias("tok_a"), F.col("pr.b").alias("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
    )

_PMI_ORACLE = rf"""
WITH t AS (
    SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '') AS tk
    FROM documents
),
p0 AS (
    SELECT unnest(flatten(list_transform(range(1, {_PMI_W + 1}),
               d -> list_transform(range(1, len(tk) - d + 1),
                    i -> {{'a': tk[i], 'b': tk[i+d]}})))) AS pr
    FROM t
),
pairs AS (
    SELECT least(pr.a, pr.b) AS tok_a, greatest(pr.a, pr.b) AS tok_b
    FROM p0 WHERE pr.a <> pr.b
),
cab AS (
    SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS c_ab
    FROM pairs GROUP BY 1, 2
),
marg AS (
    SELECT tok, CAST(SUM(c_ab) AS BIGINT) AS c_t FROM (
        SELECT tok_a AS tok, c_ab FROM cab
        UNION ALL
        SELECT tok_b AS tok, c_ab FROM cab
    ) GROUP BY 1
),
tot AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n FROM cab)
SELECT c.tok_a, c.tok_b, c.c_ab, ma.c_t AS c_a, mb.c_t AS c_b,
       CAST(FLOOR((CAST(ROUND(log2(c.c_ab), 9) AS DECIMAL(18,9))
                   + CAST(ROUND(log2(t.n), 9) AS DECIMAL(18,9))
                   - CAST(ROUND(log2(ma.c_t), 9) AS DECIMAL(18,9))
                   - CAST(ROUND(log2(mb.c_t), 9) AS DECIMAL(18,9)))
                  * 1000000) AS BIGINT) AS pmi_microbits
FROM cab c
JOIN marg ma ON ma.tok = c.tok_a
JOIN marg mb ON mb.tok = c.tok_b
CROSS JOIN tot t
WHERE c.c_ab >= {_PMI_MIN}
ORDER BY pmi_microbits DESC, c.tok_a, c.tok_b
LIMIT {_PMI_K}
"""


@q("q_cooccur_pmi", oracle_sql=_PMI_ORACLE)
def cooccur_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+4 [EXT]: windowed co-occurrence PMI — the top-{K} strongest
    word associations by pointwise mutual information over unordered
    skip-gram pairs (tok_i with tok_{{i+d}}, d ≤ {W}, self-pairs
    dropped), with a c_ab ≥ {MIN} support floor. This is the PPMI-
    matrix row construction of distributional semantics (Church &
    Hanks 1990; Levy & Goldberg 2014): the association table embedding
    and collocation pipelines precompute.

    PMI = log2(c_ab·N / (c_a·c_b)) expands to the ± chain
    log2(c_ab) + log2(N) − log2(c_a) − log2(c_b): log2 of INTEGER
    arguments only — but log2 is NOT a correctly-rounded IEEE op, and
    at argument magnitudes ~10⁵ the engines' log2 disagree by 1 ulp
    (~4e-15), which a 4-term sum amplifies (caught by the exact local
    gate; the driver's 8dp hash would have hidden it). So each term
    folds at 9dp into DECIMAL (exact, order-free — the
    q_token_entropy discipline) and the score is emitted as exact
    BIGINT MICRO-BITS (floor(sum·10⁶) — the q_graph_adamic_adar
    shape), making the DESC ordering + (tok_a, tok_b) tie-break replay
    structural. Marginals here are PAIR-slot counts (each pair feeds
    both tokens' totals), the convention that makes Σ marginals = 2N
    exactly.

    Plan shape: pairs are generated ROW-LOCALLY from each token array
    (a flatten of {W} zip_with offsets — never a positional self-join,
    which would shuffle |tokens| against itself); ONE exchange reaches
    the (tok_a, tok_b) hash agg with map-side combine; both marginals
    are rollups OF THAT AGG's output (union of its two slots — no
    second fact scan), joined back broadcast; N rides a one-row
    broadcast. The final top-k is ORDER BY + LIMIT =
    TakeOrderedAndProject. At 100 TB the only data-sized relations are
    the pair stream (scan-side, pipelined into the partial agg) and
    the pair-count table (vocabulary-bounded)."""
    prep(spark)
    cab = _skipgram_pair_counts(spark, sf_dir).localCheckpoint()
    marg = (
        cab.select(F.col("tok_a").alias("tok"), "c_ab")
        .unionByName(cab.select(F.col("tok_b").alias("tok"), "c_ab"))
        .groupBy("tok")
        .agg(F.sum("c_ab").cast("bigint").alias("c_t"))
    )
    tot = cab.agg(F.sum("c_ab").cast("bigint").alias("n"))
    ma = marg.select(F.col("tok").alias("ma_tok"), F.col("c_t").alias("c_a"))
    mb = marg.select(F.col("tok").alias("mb_tok"), F.col("c_t").alias("c_b"))

    def t9(col: str):
        return F.round(F.log2(col), 9).cast("decimal(18,9)")

    pmi_micro = (
        F.floor((t9("c_ab") + t9("n") - t9("c_a") - t9("c_b")) * 1000000)
        .cast("bigint")
    )
    return (
        cab.where(F.col("c_ab") >= _PMI_MIN)
        .join(F.broadcast(ma), F.col("tok_a") == F.col("ma_tok"))
        .join(F.broadcast(mb), F.col("tok_b") == F.col("mb_tok"))
        .crossJoin(F.broadcast(tot))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            "c_a",
            "c_b",
            pmi_micro.alias("pmi_microbits"),
        )
        .orderBy(F.col("pmi_microbits").desc(), "tok_a", "tok_b")
        .limit(_PMI_K)
    )


_doc = cooccur_pmi.__doc__
for _k, _v in (("{K}", str(_PMI_K)), ("{W}", str(_PMI_W)), ("{MIN}", str(_PMI_MIN))):
    _doc = _doc.replace(_k, _v)
cooccur_pmi.__doc__ = _doc


# --- Frequency-weighted record-linkage scoring (Fellegi–Sunter u-weights) --

_LINK_K = 100
_LINK_SHIFT = 100_000  # cents shift: acctbal >= -1000 => shifted >= 0

_LINK_ORACLE = f"""
WITH c AS (
    SELECT c_custkey, c_nationkey, c_mktsegment,
           TRY_CAST(ROUND(c_acctbal * 100) AS BIGINT) + {_LINK_SHIFT} AS cents
    FROM customer
),
f AS (
    SELECT c_custkey, c_nationkey, c_mktsegment, cents,
           cents // 10000 AS band
    FROM c
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM f),
wseg AS (
    SELECT CAST(FLOOR(CAST(ROUND(2 * log2(n.n) - log2(s.s2), 9)
                           AS DECIMAL(18,9)) * 1000000) AS BIGINT) AS w
    FROM (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS s2
          FROM (SELECT COUNT(*) AS cnt FROM f GROUP BY c_mktsegment)) s
    CROSS JOIN n
),
wband AS (
    SELECT CAST(FLOOR(CAST(ROUND(2 * log2(n.n) - log2(s.s2), 9)
                           AS DECIMAL(18,9)) * 1000000) AS BIGINT) AS w
    FROM (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS s2
          FROM (SELECT COUNT(*) AS cnt FROM f GROUP BY band)) s
    CROSS JOIN n
),
wcents AS (
    SELECT CAST(FLOOR(CAST(ROUND(2 * log2(n.n) - log2(s.s2), 9)
                           AS DECIMAL(18,9)) * 1000000) AS BIGINT) AS w
    FROM (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS s2
          FROM (SELECT COUNT(*) AS cnt FROM f GROUP BY cents)) s
    CROSS JOIN n
),
pairs AS (
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           CAST(a.c_mktsegment = b.c_mktsegment AS BIGINT) AS same_seg,
           CAST(a.band = b.band AS BIGINT) AS same_band,
           CAST(a.cents = b.cents AS BIGINT) AS same_cents
    FROM f a JOIN f b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
)
SELECT p.cust_a, p.cust_b, p.same_seg, p.same_band, p.same_cents,
       CAST(p.same_seg * ws.w + p.same_band * wb.w + p.same_cents * wc.w
            AS BIGINT) AS score_microbits
FROM pairs p CROSS JOIN wseg ws CROSS JOIN wband wb CROSS JOIN wcents wc
ORDER BY score_microbits DESC, p.cust_a, p.cust_b
LIMIT {_LINK_K}
"""


@q("q_linkage_weights", oracle_sql=_LINK_ORACLE)
def linkage_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+18 [EXT]: frequency-weighted record-linkage scoring — the
    Fellegi–Sunter (1969) agreement-weight construction in its
    frequency-based (u-weight) form: within nation blocks, candidate
    customer pairs score Σ_f agree_f · w_f over three fields
    (market segment, $100 balance band, exact balance cents), where
    w_f = −log2(u_f) and u_f = Σ_v c_v²/N² is the chance-agreement
    probability — agreeing on a RARE value (exact cents) is strong
    match evidence, agreeing on a 5-value segment is weak. This is the
    classic entity-resolution scoring tier that sits on top of any
    blocking family (SNM, LSH, containment) already in the registry.

    Exactness: u expands to w = 2·log2(N) − log2(Σ c_v²) — integer-arg
    log2 (engine-identical) — rounded at 9dp, scaled to exact BIGINT
    MICRO-BITS; the pair score is then pure integer arithmetic
    (parity structural, the q_mixture_weights shape). Balances shift
    by +$1000 in cents before banding so integer division never sees
    a negative operand (Spark div truncates toward zero, DuckDB //
    floors — they agree only on non-negatives). Deterministic top-k
    tie-break by (cust_a, cust_b).

    Plan shape: the pair stage is a BLOCKED equi-self-join on the
    nation key (fan-out Σ_blocks b², never N² — the blocking-join
    family's contract; at 100 TB the block key widens to
    nation × balance-band to bound b). ALL THREE field histograms come
    from ONE grouping-sets aggregate (grouping sets expand map-side —
    the q_privacy_kanonymity trick — so the dim is scanned once for
    every weight, not twice per field), pivoted by grouping_id into a
    single one-row weight table broadcast into the pair stream; the
    top-k compiles to TakeOrderedAndProject."""
    prep(spark)
    cust = load(spark, sf_dir, "customer")
    f = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        # try_cast: a 1e300 balance overflows BIGINT at the cents
        # quantization and must NULL out (the row then agrees with
        # nothing on cents/band), not abort the stage (COVERAGE.md M11)
        (
            F.round(F.col("c_acctbal") * 100).try_cast("bigint")
            + F.lit(_LINK_SHIFT)
        ).alias("cents"),
    ).withColumn("band", F.expr("cents div 10000"))

    # one pass for all three per-field value histograms; gid bit = 1
    # marks an AGGREGATED column, so (seg)=3, (band)=5, (cents)=6
    cells = f.groupingSets(
        [["c_mktsegment"], ["band"], ["cents"]],
        "c_mktsegment",
        "band",
        "cents",
    ).agg(F.count(F.lit(1)).alias("cnt"), F.grouping_id().alias("gid"))
    stats = cells.groupBy("gid").agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("s2"),
        F.sum("cnt").cast("bigint").alias("n"),
    )
    wmicro = (
        F.floor(
            F.round(2 * F.log2("n") - F.log2("s2"), 9).cast("decimal(18,9)")
            * 1000000
        )
        .cast("bigint")
        .alias("w")
    )
    ws = stats.select("gid", wmicro)
    wrow = ws.agg(
        F.max(F.when(F.col("gid") == 3, F.col("w"))).alias("w_seg"),
        F.max(F.when(F.col("gid") == 5, F.col("w"))).alias("w_band"),
        F.max(F.when(F.col("gid") == 6, F.col("w"))).alias("w_cents"),
    )

    a = f.select(
        F.col("c_custkey").alias("cust_a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
        F.col("cents").alias("cents_a"),
        F.col("band").alias("band_a"),
    )
    b = f.select(
        F.col("c_custkey").alias("cust_b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
        F.col("cents").alias("cents_b"),
        F.col("band").alias("band_b"),
    )
    pairs = a.join(
        b,
        (F.col("nat_a") == F.col("nat_b"))
        & (F.col("cust_a") < F.col("cust_b")),
    ).select(
        "cust_a",
        "cust_b",
        (F.col("seg_a") == F.col("seg_b")).cast("bigint").alias("same_seg"),
        (F.col("band_a") == F.col("band_b")).cast("bigint").alias("same_band"),
        (F.col("cents_a") == F.col("cents_b"))
        .cast("bigint")
        .alias("same_cents"),
    )
    score = (
        F.col("same_seg") * F.col("w_seg")
        + F.col("same_band") * F.col("w_band")
        + F.col("same_cents") * F.col("w_cents")
    ).cast("bigint")
    return (
        pairs.crossJoin(F.broadcast(wrow))
        .select(
            "cust_a",
            "cust_b",
            "same_seg",
            "same_band",
            "same_cents",
            score.alias("score_microbits"),
        )
        .orderBy(F.col("score_microbits").desc(), "cust_a", "cust_b")
        .limit(_LINK_K)
    )


# --- Token burstiness (variance-to-mean dispersion) ------------------------

_BURST_MIN_T = 50  # minimum corpus frequency to be rated
_BURST_K = 40

_BURST_ORACLE = rf"""
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '') AS tk
    FROM documents
),
d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM t),
tok AS (SELECT doc_id, unnest(tk) AS tok FROM t),
per AS (
    SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS c
    FROM tok GROUP BY 1, 2
),
st AS (
    SELECT tok,
           CAST(SUM(c) AS BIGINT) AS total,
           CAST(SUM(c * c) AS BIGINT) AS sumsq,
           CAST(COUNT(*) AS BIGINT) AS n_docs_with
    FROM per GROUP BY 1
)
SELECT st.tok, st.total, st.n_docs_with,
       ((st.sumsq - CAST(st.total AS DOUBLE) * st.total / d.n_docs)
        / (d.n_docs - 1))
       / (CAST(st.total AS DOUBLE) / d.n_docs) AS vmr
FROM st CROSS JOIN d
WHERE st.total >= {_BURST_MIN_T} AND d.n_docs > 1
ORDER BY vmr DESC, st.tok
LIMIT {_BURST_K}
"""


@q("q_token_burstiness", oracle_sql=_BURST_ORACLE)
def token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+5 [EXT]: token burstiness — the variance-to-mean ratio
    (Fisher dispersion index) of per-document token counts, zeros
    included, for every token with corpus frequency ≥ {MIN}; top-{K}
    by dispersion. Burstiness separates CONTENT words (they arrive in
    bursts: a document is about something or it isn't — VMR ≫ 1) from
    FUNCTION words (spread Poisson-like, VMR ≈ 1): the Church–Gale
    (1995) diagnostic that complements frequency-rank statistics
    (q_tokens_zipf, q_vocab_growth) and drives stopword discovery and
    quality features.

    Exactness: per-token sums (total, Σc², docs-with) are exact
    BIGINTs; the zero-inclusive variance needs no per-doc zero rows —
    Σ(x−μ)² over ALL D docs = Σc² − T²/D, since absent docs contribute
    exactly μ² each. VMR is then ONE fixed tree of IEEE divisions on
    exact integers, written in the identical shape in both engines
    (raw, no rounding — the round-7 lesson); ordering and the top-k
    cut replay exactly, ties broken by token.

    Plan shape: explode → (token, doc) hash agg (map-side combine) →
    per-token rollup of that agg — the two-level aggregation never
    rescans the fact; D rides a one-row broadcast cross join; the
    top-k compiles to TakeOrderedAndProject. At 100 TB: two keyed
    exchanges, both collapsing (tokens-per-doc, then tokens), nothing
    data-sized after the first agg."""
    from modevetl_spark.operators.text import tokens

    prep(spark)
    docs = load(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("tk")).localCheckpoint()
    d = t.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    per = (
        t.select("doc_id", F.explode("tk").alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    st = per.groupBy("tok").agg(
        F.sum("c").cast("bigint").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sumsq"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs_with"),
    )
    vmr = (
        (
            F.col("sumsq")
            - F.col("total").cast("double") * F.col("total") / F.col("n_docs")
        )
        / (F.col("n_docs") - 1)
    ) / (F.col("total").cast("double") / F.col("n_docs"))
    return (
        st.crossJoin(F.broadcast(d))
        # n_docs > 1: a single-document corpus has no between-doc
        # variance (D-1 = 0) — filtered identically in both engines
        # rather than letting the engines' /0 semantics diverge
        .where((F.col("total") >= _BURST_MIN_T) & (F.col("n_docs") > 1))
        .select("tok", "total", "n_docs_with", vmr.alias("vmr"))
        .orderBy(F.col("vmr").desc(), "tok")
        .limit(_BURST_K)
    )


_doc = token_burstiness.__doc__
token_burstiness.__doc__ = _doc.replace("{MIN}", str(_BURST_MIN_T)).replace(
    "{K}", str(_BURST_K)
)


# --- BPE merge training (tokenizer vocabulary learning) --------------------

_BPE_ROUNDS = 8
_BPE_END = "</w>"


def _bpe_oracle() -> str:
    rounds = []
    prev = "w0"
    for r in range(1, _BPE_ROUNDS + 1):
        rounds.append(f"""
p{r} AS (
    SELECT pr.a AS a, pr.b AS b, CAST(SUM(freq) AS BIGINT) AS cnt
    FROM (
        SELECT freq,
               unnest(list_transform(range(1, len(string_split(repr, '  '))),
                   i -> {{'a': string_split(repr, '  ')[i],
                          'b': string_split(repr, '  ')[i+1]}})) AS pr
        FROM {prev}
    ) GROUP BY 1, 2
),
b{r} AS (
    SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
),
w{r} AS (
    SELECT w.word, w.freq,
           array_to_string(string_split_regex(trim(
               replace(' ' || w.repr || ' ',
                       ' ' || b.a || '  ' || b.b || ' ',
                       ' ' || b.a || b.b || ' ')), ' +'), '  ') AS repr
    FROM {prev} w CROSS JOIN b{r} b
)""")
        prev = f"w{r}"
    merges = "\nUNION ALL\n".join(
        f"SELECT {r} AS step, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, cnt AS pair_count FROM b{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return rf"""
WITH tok AS (
    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                              x -> x <> '')) AS word
    FROM documents
),
w0 AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
           array_to_string(list_transform(range(1, len(word) + 1),
                                          i -> word[i]), '  ')
               || '  {_BPE_END}' AS repr
    FROM tok GROUP BY 1
),{",".join(rounds)}
{merges}
"""


@q("q_bpe_merges", oracle_sql=_bpe_oracle())
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+6 [EXT]: BPE merge TRAINING (Sennrich et al. 2016) — learn
    the first {R} byte-pair-encoding merges from the corpus vocabulary:
    each round counts frequency-weighted adjacent symbol pairs over
    the word representations, merges the most frequent pair
    (tie-break: count DESC, then left/right symbol — fully
    deterministic), and rewrites every word. This is the LEARNING step
    in front of q_vocab_encode's encoding step: the pipeline that
    builds the tokenizer a data engine's token-counting ops assume.

    Exactness: the whole operator is strings and integer counts — NO
    floats anywhere, so cross-engine parity is structural. The merge
    rewrite is the DOUBLE-SPACE scheme: symbols are joined by two
    spaces and the pattern ' a··b ' (one leading, two inner, one
    trailing space) is replaced by ' ab ' — the match consumes only
    ONE of the two boundary spaces, so the leftover space starts the
    next match and ADJACENT matches all merge in one pass: 'a b a b'
    → [ab, ab] and a run of four a's → [aa, aa], the canonical
    leftmost-greedy BPE contract (a single-space scheme silently
    skips every other adjacent match — caught by the hypothesis
    differential, verified identical in both engines on the
    abab / a×3 / a×4 / a×5 cases). Reprs re-normalize to double-space
    after each round. The end-of-word marker {E} is multi-character
    so it can never collide with a single-character symbol.

    Plan shape: BPE trains on the WORD-FREQUENCY table, not the
    corpus — one explode + hash agg reduces the fact to |vocabulary|
    rows (checkpointed), and every round after that touches only that
    table: pair explode (row-local transform over the symbol array) →
    map-side-combined count → a ONE-ROW argmax (TakeOrdered) COLLECTED
    to the driver (the scalar-watermark collect class: one bounded row
    per round, exactly what every real BPE trainer does with the merge
    table) and fed back into the rewrite as string LITERALS. Per-round
    word state is checkpointed (the k-means iteration pattern), so {R}
    rounds are 2 flat tiny jobs each — argmax collect + rewrite
    checkpoint; the r13 form this replaces spent ~37 scheduler
    round-trips materializing each 1-row argmax as its own checkpoint
    plus a broadcast exchange, and unioning 8 one-row DataFrames at the
    end (now a single {R}-row createDataFrame from the collected merge
    rows). At 100 TB the vocabulary table is millions of rows, not
    petabytes — the corpus is scanned exactly once."""
    from modevetl_spark.operators.text import tokens

    prep(spark)
    docs = load(spark, sf_dir, "documents")
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    words = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select(
            "word",
            "freq",
            F.concat(
                F.array_join(chars, "  "), F.lit("  " + _BPE_END)
            ).alias("repr"),
        )
        .localCheckpoint()
    )
    merges = []
    for step in range(1, _BPE_ROUNDS + 1):
        syms = F.split(F.col("repr"), "  ")
        pair_structs = F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("a"),
                F.element_at(syms, i + F.lit(1)).alias("b"),
            ),
        )
        best = (
            # fully-merged one-symbol words carry no pairs; filtering
            # them mirrors the oracle's empty range(1, 1) — without it
            # Spark's sequence(1, 0) runs DESCENDING and element_at
            # throws (the q_sample_reservoir_weighted lesson; caught
            # by the hypothesis differential on single-char words)
            words.where(F.size(syms) >= 2)
            .select("freq", F.explode(pair_structs).alias("pr"))
            .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            # no word carries a pair: every later round's argmax is
            # empty too (the rewrite against an empty argmax emptied
            # the word table in the pre-r13 form) — no further merges
            break
        a, b, cnt = best[0].a, best[0].b, best[0].cnt
        merges.append((step, a, b, a + b, cnt))
        words = words.select(
            "word",
            "freq",
            F.array_join(
                F.split(
                    F.trim(
                        F.replace(
                            F.concat(F.lit(" "), F.col("repr"), F.lit(" ")),
                            F.lit(" " + a + "  " + b + " "),
                            F.lit(" " + a + b + " "),
                        )
                    ),
                    " +",
                ),
                "  ",
            ).alias("repr"),
            # lazy: the next round's argmax collect materializes (and
            # persists) the rewrite inside its own job — one scheduler
            # round-trip per round instead of two; later references
            # read the persisted RDD, so nothing re-evaluates
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges,
        "step int, left_sym string, right_sym string, merged string, "
        "pair_count bigint",
    )


_doc = bpe_merges.__doc__
bpe_merges.__doc__ = _doc.replace("{R}", str(_BPE_ROUNDS)).replace(
    "{E}", _BPE_END
)


# --- TextRank keyword extraction (weighted PageRank on the word graph) -----

_TR_ITERS = 6
_TR_K = 20


def _textrank_oracle() -> str:
    """Unrolls the weighted-PageRank recurrence CTE-per-iteration (the
    q_graph_pagerank oracle pattern): per-edge terms round at 9dp into
    DECIMAL(18,9) (exact, order-free), the teleport is written as
    arithmetic `1.0 - 0.85` (0.15 literal differs in binary), and each
    new score re-rounds at 9dp so every iteration is bit-replayable."""
    head = rf"""WITH t AS (
    SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '') AS tk
    FROM documents
),
p0 AS (
    SELECT unnest(flatten(list_transform(range(1, {_PMI_W + 1}),
               d -> list_transform(range(1, len(tk) - d + 1),
                    i -> {{'a': tk[i], 'b': tk[i+d]}})))) AS pr
    FROM t
),
cab AS MATERIALIZED (
    SELECT least(pr.a, pr.b) AS tok_a, greatest(pr.a, pr.b) AS tok_b,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM p0 WHERE pr.a <> pr.b
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_PMI_MIN}
),
adj AS MATERIALIZED (
    SELECT tok_a AS s, tok_b AS d2, c FROM cab
    UNION ALL
    SELECT tok_b AS s, tok_a AS d2, c FROM cab
),
wt AS MATERIALIZED (SELECT s, CAST(SUM(c) AS BIGINT) AS wtot FROM adj GROUP BY 1),
verts AS MATERIALIZED (SELECT DISTINCT s AS node FROM adj),
r0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS score FROM verts)"""
    step = """r{k} AS MATERIALIZED (
    SELECT v.node,
           ROUND((CAST(1.0 AS DOUBLE) - 0.85e0)
                 + 0.85e0 * COALESCE(c.s_in, 0.0e0), 9) AS score
    FROM verts v
    LEFT JOIN (
        SELECT a.d2 AS node,
               CAST(SUM(CAST(ROUND(r.score * a.c / w.wtot, 9)
                             AS DECIMAL(18,9))) AS DOUBLE) AS s_in
        FROM adj a
        JOIN r{p} r ON r.node = a.s
        JOIN wt w ON w.s = a.s
        GROUP BY a.d2
    ) c ON c.node = v.node
)"""
    parts = [head] + [
        step.format(k=k, p=k - 1) for k in range(1, _TR_ITERS + 1)
    ]
    return ",\n".join(parts) + f"""
SELECT r.node AS tok, w2.wtot AS weight_total, ROUND(r.score, 8) AS score
FROM r{_TR_ITERS} r JOIN wt w2 ON w2.s = r.node
ORDER BY score DESC, tok
LIMIT {_TR_K}"""


@q("q_textrank_keywords", oracle_sql=_textrank_oracle())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+7 [EXT]: TextRank keyword extraction (Mihalcea & Tarau 2004)
    — the top-{K} corpus keywords by weighted PageRank over the word
    co-occurrence graph: nodes are tokens, undirected edges weighted by
    skip-gram co-occurrence counts (the q_cooccur_pmi pair convention,
    support floor {MIN}), scores iterated {R} rounds of
    WS(v) = (1−d) + d·Σ_u (w_uv / Σ_x w_ux)·WS(u), d = 0.85. This
    composes two existing disciplines: the shared co-occurrence
    front-end and operators/graph.pagerank's bit-replayable iteration
    contract (per-edge terms rounded 9dp → DECIMAL(18,9) exact sums →
    new scores re-rounded 9dp; teleport written `1.0 − 0.85`, never
    the 0.15 literal, which differs in binary).

    The undirected co-occurrence graph has no dangling nodes (every
    node entered via an edge), so the dangling-mass term of the
    PageRank recurrence vanishes structurally — one fewer per-iteration
    aggregate than q_graph_pagerank.

    Plan shape: one corpus scan to the pair aggregate; the graph
    relations (adjacency, weight totals, vertices) are
    vocabulary-bounded and checkpointed once; each iteration is ONE
    src-keyed join + ONE dst-keyed map-side-combined aggregate over
    the bounded adjacency — the q_graph_pagerank per-iteration shape
    minus the dangling scalar. Top-k compiles to
    TakeOrderedAndProject. At 100 TB the corpus is touched once;
    iterations cost |edges| ≤ |vocabulary|² rows bounded by the
    support floor."""
    prep(spark)
    cab = _skipgram_pair_counts(spark, sf_dir).where(
        F.col("c_ab") >= _PMI_MIN
    )
    adj = (
        cab.select(
            F.col("tok_a").alias("s"), F.col("tok_b").alias("d2"), "c_ab"
        )
        .unionByName(
            cab.select(
                F.col("tok_b").alias("s"), F.col("tok_a").alias("d2"), "c_ab"
            )
        )
        .localCheckpoint()
    )
    wt = adj.groupBy("s").agg(F.sum("c_ab").cast("bigint").alias("wtot"))
    adjw = (
        adj.join(wt.select(F.col("s").alias("ws"), "wtot"),
                 F.col("s") == F.col("ws"))
        .select("s", "d2", "c_ab", "wtot")
        .localCheckpoint()
    )
    verts = adj.select(F.col("s").alias("node")).distinct().localCheckpoint()
    scores = verts.select("node", F.lit(1.0).alias("score"))
    for _ in range(_TR_ITERS):
        s_in = (
            adjw.join(
                scores.select(F.col("node").alias("rn"), "score"),
                F.col("s") == F.col("rn"),
            )
            .select(
                F.col("d2").alias("sn"),
                F.round(F.col("score") * F.col("c_ab") / F.col("wtot"), 9)
                .cast("decimal(18,9)")
                .alias("term"),
            )
            .groupBy("sn")
            .agg(F.sum("term").cast("double").alias("s_in"))
        )
        scores = (
            verts.join(s_in, F.col("node") == F.col("sn"), "left")
            .select(
                "node",
                F.round(
                    (F.lit(1.0) - F.lit(0.85))
                    + F.lit(0.85) * F.coalesce(F.col("s_in"), F.lit(0.0)),
                    9,
                ).alias("score"),
            )
            .localCheckpoint()
        )
    return (
        scores.join(
            F.broadcast(wt.select(F.col("s").alias("wn"), "wtot")),
            F.col("node") == F.col("wn"),
        )
        .select(
            F.col("node").alias("tok"),
            F.col("wtot").alias("weight_total"),
            F.round("score", 8).alias("score"),
        )
        .orderBy(F.col("score").desc(), "tok")
        .limit(_TR_K)
    )


_doc = textrank_keywords.__doc__
for _k, _v in (("{K}", str(_TR_K)), ("{MIN}", str(_PMI_MIN)),
               ("{R}", str(_TR_ITERS))):
    _doc = _doc.replace(_k, _v)
textrank_keywords.__doc__ = _doc


# --- Per-document LM score (unigram cross-entropy quality filter) ----------

_LM_ORACLE = r"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                              x -> x <> '')) AS tok
    FROM documents
),
dw AS (
    SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c_wd
    FROM tok GROUP BY 1, 2
),
corpus AS (
    SELECT tok, CAST(SUM(c_wd) AS BIGINT) AS c_w FROM dw GROUP BY 1
),
tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n FROM corpus),
nd AS (
    SELECT doc_id, CAST(SUM(c_wd) AS BIGINT) AS n_tokens FROM dw GROUP BY 1
),
terms AS (
    SELECT dw.doc_id,
           CAST(dw.c_wd AS DECIMAL(10,0))
             * CAST(ROUND(log2(CAST(t.n AS DOUBLE))
                          - log2(CAST(c.c_w AS DOUBLE)), 9)
                    AS DECIMAL(18,9)) AS contrib
    FROM dw
    JOIN corpus c ON c.tok = dw.tok
    CROSS JOIN tot t
)
SELECT tm.doc_id, nd.n_tokens,
       ROUND(CAST(SUM(tm.contrib) AS DOUBLE) / nd.n_tokens, 6)
           AS bits_per_token
FROM terms tm JOIN nd ON nd.doc_id = tm.doc_id
GROUP BY 1, 2
"""


@q("q_doc_lm_score", oracle_sql=_LM_ORACLE)
def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+19 [EXT]: per-document language-model score — the unigram
    cross-entropy H(doc ‖ corpus LM) in bits per token: the
    CCNet-style LM quality filter (Wenzek et al. 2020) that ranks
    documents by how surprising they are under the corpus's own
    distribution (high bits/token ⇒ rare-token-heavy outliers, low ⇒
    boilerplate). The document-level companion to
    q_source_kl_divergence's source-level drift score, feeding the
    same curation decisions as q_text_quality's heuristic tier.

    H_d = Σ_w (c_wd/n_d)·(log2(N) − log2(c_w)): each per-token term is
    the integer-arg log2 ± pair rounded at 9dp (log2 is not correctly
    rounded — the q_cooccur_pmi lesson), scaled by the exact count via
    a decimal multiply, decimal-summed order-free, and the final /n_d
    mean rounded at 6dp — the q_source_kl_divergence shape exactly.

    Plan shape: ONE fact scan to the (doc, token) hash agg
    (checkpointed); the corpus marginal, the grand total, and per-doc
    totals are all rollups of that output — no second corpus scan;
    the term join touches the agg stream against the broadcast
    vocabulary table and a one-row broadcast total. At 100 TB one
    data-sized exchange total, same fallback note as the KL key if
    the vocabulary outgrows broadcast."""
    from modevetl_spark.operators.text import tokens

    prep(spark)
    d = load(spark, sf_dir, "documents")
    dw = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_wd"))
        .localCheckpoint()
    )
    corpus = dw.groupBy(F.col("tok").alias("c_tok")).agg(
        F.sum("c_wd").cast("bigint").alias("c_w")
    )
    tot = corpus.agg(F.sum("c_w").cast("bigint").alias("n"))
    nd = dw.groupBy(F.col("doc_id").alias("nd_doc")).agg(
        F.sum("c_wd").cast("bigint").alias("n_tokens")
    )
    term9 = F.round(
        F.log2(F.col("n").cast("double")) - F.log2(F.col("c_w").cast("double")),
        9,
    ).cast("decimal(18,9)")
    terms = (
        dw.join(F.broadcast(corpus), F.col("tok") == F.col("c_tok"))
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            (F.col("c_wd").cast("decimal(10,0)") * term9).alias("contrib"),
        )
    )
    return (
        terms.groupBy("doc_id")
        .agg(F.sum("contrib").alias("csum"))
        .join(F.broadcast(nd), F.col("doc_id") == F.col("nd_doc"))
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("csum").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ).alias("bits_per_token"),
        )
    )


# --- Good–Turing unseen-mass estimate per source ----------------------------

_GT_ORACLE = r"""
WITH tok AS (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                              x -> x <> '')) AS tok
    FROM documents
),
sw AS (
    SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM tok GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / SUM(c)
           AS unseen_mass
FROM sw
GROUP BY 1
"""


@q("q_unseen_mass", oracle_sql=_GT_ORACLE)
def unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3+8 [EXT]: Good–Turing unseen-mass estimate per source — the
    probability that the NEXT token drawn from a source is a
    never-seen type, P₀ = N₁/N (Good 1953; Gale & Sampson 1995),
    where N₁ is the hapax-legomena count. The vocabulary-saturation
    signal beside q_vocab_growth (Heaps) and q_tokens_zipf: a source
    with high unseen mass is still surprising (keep sampling it); one
    near zero is exhausted. Hapax and dis legomena counts ride along
    as the raw frequency-of-frequency inputs any smoother (Katz,
    Simple Good–Turing) starts from.

    Exactness: all inputs are exact BIGINT counts; the estimate is
    ONE raw double division of two BIGINTs — correctly-rounded IEEE
    division of identical inputs is bit-identical across engines (the
    q_rater_agreement rule; no transcendentals anywhere). N ≥ 1 for
    every emitted source (sources with zero tokens simply don't
    appear), so the division is total.

    Plan shape: one fact scan → (source, token) hash agg with
    map-side combine → per-source rollup of that agg (counts-of-counts
    as conditional sums — no second scan, no explode of the frequency
    spectrum). At 100 TB: two collapsing keyed exchanges, nothing
    else."""
    from modevetl_spark.operators.text import tokens

    prep(spark)
    d = load(spark, sf_dir, "documents")
    sw = (
        d.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return sw.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("hapax"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("dis"),
        (
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
            / F.sum("c")
        ).alias("unseen_mass"),
    )
