"""Deduplication operators for LLM data pipelines ([EXT]).

Exact (hash groupBy), MinHash+LSH, SimHash, and n-gram Jaccard — all as
shuffle-conscious DataFrame compositions:

- **Exact**: group on sha2(text); at 100 TB this is one hash-partitioned
  shuffle of (hash, id) pairs only — never the payload.
- **MinHash+LSH**: per-doc signature (k minhashes) from one hash
  aggregation over the exploded shingles (each shingle hashed once,
  partial aggregation before the shuffle); banding
  explodes to b rows/doc; candidate pairs come from a self-join on
  (band_id, band_hash) — the classic sub-quadratic near-dup path.
- **SimHash**: 64 weighted-bit sums per doc in a single aggregation;
  candidates from 16-bit chunk banding (Hamming<=3 ⇒ some chunk equal).
- **Jaccard**: exact set similarity for candidate verification.

Hash choice: xxhash64 (JVM intrinsic) for scale paths; md5 where the
DuckDB oracle must reproduce the value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from modevetl_spark.operators._util import spread
from modevetl_spark.operators.ranking import global_rank  # noqa: F401  (re-export)
from modevetl_spark.operators.text import tokens, word_shingles


def exact_dedup_key(text: Column | str) -> Column:
    """Content hash for exact dedup (sha256, engine-portable)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.sha2(c, 256)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 16,
) -> DataFrame:
    """Corpus MinHash signatures, explode-based: each shingle string is
    hashed exactly once into a long; the k permutations are cheap
    (int, long) hashes aggregated with ``min`` (whole-stage codegen'd
    hash-agg; partial aggregation collapses to one row per doc before the
    shuffle). Docs with no shingles drop out: they have no signature.

    Returns (id_col, m0..m{k-1}).
    """
    hashed = spread(docs).select(
        F.col(id_col),
        F.explode(word_shingles(tokens(text_col), shingle_n)).alias("sh"),
    ).select(id_col, F.xxhash64("sh").alias("h"))
    return hashed.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"m{i}")
            for i in range(k)
        ]
    )


#: Modulus of the engine-portable affine MinHash family (2^31 - 1).
#: Constants are sized so every intermediate stays < 2^63: a_i < P and
#: h0 < 2^32, so a_i*h0 + b_i <= ~9.22e18 < 2^63-1 — safe in Spark's
#: wrapping AND DuckDB's overflow-checked bigint arithmetic.
MINHASH_P = 2147483647


def shingle_sets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sh): each doc's DISTINCT word-shingle array — the shared
    upstream of banding (which explodes it) and exact-Jaccard verify
    (which intersects it). Callers that need both can compute this once
    and pass it to :func:`minhash_band_keys_md5` / :func:`jaccard_pairs`
    via ``sets=`` so the tokenize+shingle pass runs a single time
    (r13, guide §2.4)."""
    return spread(docs).select(
        F.col(id_col),
        F.array_distinct(word_shingles(tokens(text_col), shingle_n)).alias(
            "sh"
        ),
    )


def minhash_band_keys_md5(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
    sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash LSH band keys from the md5 affine family — the
    engine-portable twin of the xxhash64 path, letting a DuckDB oracle
    replay the ENTIRE signature/banding computation (Spark
    ``conv(substr(md5(s),1,8),16,10)`` == DuckDB
    ``('0x'||substr(md5(s),1,8))::BIGINT``, then
    mh_i = (a_i*h0 + b_i) mod P with a_i, b_i derived from i).

    Same plan shape as :func:`minhash_signatures` (r13, guide §2.3/2.4):
    explode shingles, hash each string once, then ONE codegen'd hash-agg
    with map-side combine computes all k mins as WIDE aggregate
    expressions — the permutation constants a_i/b_i fold to literals, so
    there is no k-way row fanout and no second (doc, i) exchange (the
    former form exploded every shingle k× and aggregated twice). Band
    keys are projected from the wide mins (same i-ascending '-' concat,
    NULL mins skipped by concat_ws exactly as before) and unpivoted
    JVM-side. Returns (id_col, band, band_key).
    """
    p = MINHASH_P
    base = (
        sets
        if sets is not None
        else shingle_sets(docs, id_col, text_col, shingle_n)
    )
    sh = base.select(F.col(id_col), F.explode("sh").alias("s"))
    h0 = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("bigint")
    mins = sh.select(id_col, h0.alias("h0")).groupBy(id_col).agg(
        *[
            F.min(
                (
                    F.lit((2654435761 * (i + 1)) % p) * F.col("h0")
                    + F.lit((40503 * (i + 7)) % p)
                )
                % p
            ).alias(f"m{i}")
            for i in range(k)
        ]
    )
    rows_per = k // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("bigint").alias("band"),
                F.md5(
                    F.concat_ws(
                        "-",
                        *[
                            F.col(f"m{b * rows_per + r}").cast("string")
                            for r in range(rows_per)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return mins.select(
        id_col, F.explode(band_structs).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def minhash_candidates_md5(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via md5-family MinHash
    LSH — the banded self-join over :func:`build_minhash_index`'s
    xxhash64 rows, but every hash is reproducible in DuckDB SQL so
    downstream queries can be oracle-graded end to end. Use the xxhash64
    rows when portability isn't needed: one JVM-intrinsic hash per
    shingle beats md5-hex + string slicing + base-16 conv."""
    bk = minhash_band_keys_md5(docs, id_col, text_col, shingle_n, k, bands)
    return _banded_pairs(bk, id_col, ["band", "band_key"])


def _banded_pairs(banded: DataFrame, id_col: str, band_cols: list[str]) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from a banded self-join —
    the shared tail of every LSH candidate generator."""
    a = banded.withColumnRenamed(id_col, "id_a")
    b = banded.withColumnRenamed(id_col, "id_b")
    return (
        a.join(b, on=band_cols)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_bands(sig: Column, bands: int, rows: int) -> Column:
    """Split a signature into ``bands`` hashes of ``rows`` elements each ->
    array<struct<band_id int, band_hash bigint>>."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    *[F.element_at(sig, b * rows + r + 1) for r in range(rows)]
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )


def jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs -> (id_a, id_b, jaccard)."""
    if sets is None:
        sets = shingle_sets(docs, id_col, text_col, shingle_n)
    a = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return joined.select(
        "id_a",
        "id_b",
        F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
    )


def simhash_bits(
    docs: DataFrame, id_col: str, text_col: str, hash_family: str = "xxhash64"
) -> DataFrame:
    """SimHash: explode tokens, hash each once, then 64 conditional sums
    (one aggregation pass; each sum is sign(+1/-1) of a hash bit weighted
    by token multiplicity).

    ``hash_family='md5'`` draws bit j from the md5 hex digest instead
    (nibble j//4, bit j%4) — slower than the xxhash64 JVM intrinsic but
    byte-reproducible in DuckDB SQL (``('0x'||substr(md5(tok),1+j//4,1))
    ::INT``), which upgrades simhash queries from rows-only to
    oracle-graded."""
    tok = spread(docs).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    )
    if hash_family == "md5":
        tok = tok.withColumn("h", F.md5("tok"))

        def bit(j: int) -> Column:
            nib = F.conv(F.substring(F.col("h"), 1 + j // 4, 1), 16, 10).cast("int")
            return F.shiftright(nib, j % 4).bitwiseAND(F.lit(1))

    else:
        tok = tok.withColumn("h", F.xxhash64("tok"))

        def bit(j: int) -> Column:
            return F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))

    bit_sums = tok.groupBy(id_col).agg(
        *[
            F.sum(F.when(bit(j) == 1, 1).otherwise(-1)).alias(f"b{j}")
            for j in range(64)
        ]
    )
    # fold sign bits back into one BIGINT fingerprint
    fp = None
    for j in range(64):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, j)
        fp = term if fp is None else fp.bitwiseXOR(term)
    return bit_sums.select(F.col(id_col), fp.alias("simhash"))


def simhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidates: equal 16-bit chunk => possible Hamming<=3 pair
    (pigeonhole over 4 chunks), verified with bit_count. LOSSLESS for
    max_hamming <= 3: 3 differing bits touch at most 3 of the 4 chunks,
    so every qualifying pair shares an equal chunk — the banded join
    returns exactly the all-pairs Hamming<=3 result (which is what the
    md5-family oracle computes, brute-force, to grade this)."""
    sh = simhash_bits(docs, id_col, text_col, hash_family)
    chunks = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright(F.col("simhash"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select(id_col, "simhash", "ch.chunk_id", "ch.chunk")
    a = chunks.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("sh_a"),
        "chunk_id",
        "chunk",
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("sh_b"),
        "chunk_id",
        "chunk",
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, on=["chunk_id", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dedup_corpus(
    docs: DataFrame,
    dup_pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end near-duplicate removal: given verified duplicate PAIRS,
    return the corpus with one canonical representative per duplicate
    cluster (the minimum id — deterministic) and all non-duplicates.

    Duplicate pairs form an undirected graph whose connected components
    are the duplicate clusters (A~B, B~C must collapse to one survivor
    even if A and C were never directly paired). Reuses the label-
    propagation ``connected_components`` operator — the component label
    IS the min id, so survivors are exactly the nodes equal to their
    label, plus every doc never seen in a pair (left anti join).

    Scale shape: pairs are tiny relative to the corpus (post-LSH,
    post-verify), so the components fixpoint runs on the small pair
    graph; the corpus itself is touched by one broadcast-able semi/anti
    join pass.
    """
    from modevetl_spark.operators.components import connected_components

    comp = connected_components(
        dup_pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
    )
    losers = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, on=id_col, how="left_anti")


def build_minhash_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Persistable LSH index over a corpus: one (id, band_id, band_hash)
    row per document band. Write it out partitioned/bucketed by
    (band_id, band_hash) and incremental batches join against it without
    ever recomputing the corpus — the 100 TB daily-delta pattern (the
    full-corpus self-join re-pays O(corpus) signature compute every run;
    the index makes each run O(delta) compute + one equi-join).
    """
    rows_per_band = k // bands
    sig = minhash_signatures(docs, id_col, text_col, shingle_n, k)
    return sig.select(
        id_col,
        F.explode(
            lsh_bands(
                F.array(*[F.col(f"m{i}") for i in range(k)]),
                bands,
                rows_per_band,
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")


def incremental_minhash_candidates(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Near-duplicate candidates for an incremental batch against a
    persisted LSH index (plus within-batch pairs), WITHOUT touching the
    historical corpus text.

    Returns ``(pairs, new_index_rows)``:

    - ``pairs`` — (id_a, id_b) with id_a < id_b, the union of
      batch-vs-index collisions and batch-internal collisions. Because
      banding is a pure function of the text, this equals the pairs a
      banded self-join of the full corpus's :func:`build_minhash_index`
      rows would emit restricted to pairs touching the batch
      (equivalence pytest-gated).
    - ``new_index_rows`` — the batch's band rows. The standing job
      (:func:`run_dedup_incremental`) appends ALL of them to the stored
      index — indexing every arriving doc is what keeps the
      full-recompute equivalence invariant true (a doc judged duplicate
      today must still collide with tomorrow's near-copies). A caller
      that instead wants an index bounded to canonical docs may filter
      to survivors before appending, accepting that dropped docs stop
      generating future pairs.

    Scale shape: signature compute is O(|batch|); the index probe is one
    equi-join on (band_id, band_hash) — the batch side is delta-sized so
    AQE broadcasts it, and the index side prunes to matching buckets when
    stored bucketed on the join key. No corpus re-scan, no self-join of
    the index with itself.
    """
    new_rows = build_minhash_index(
        new_docs, id_col, text_col, shingle_n, k, bands
    )
    idx = index.select(
        F.col(id_col).alias("_old_id"), "band_id", "band_hash"
    )
    vs_index = (
        new_rows.join(idx, on=["band_id", "band_hash"])
        .where(F.col("_old_id") != F.col(id_col))
        .select(
            F.least(F.col("_old_id"), F.col(id_col)).alias("id_a"),
            F.greatest(F.col("_old_id"), F.col(id_col)).alias("id_b"),
        )
        .distinct()
    )
    within = _banded_pairs(new_rows, id_col, ["band_id", "band_hash"])
    return vs_index.unionByName(within).distinct(), new_rows


def run_dedup_incremental(
    spark,
    batch_docs: DataFrame,
    index_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> int:
    """One run of the standing near-dup job: probe the stored LSH index
    with an arriving batch, append the new candidate pairs, append ALL
    of the batch's band rows to the index. Returns the number of new
    pairs.

    Invariant (pytest-gated): after any batch split of a corpus, the
    union of every run's pairs equals the pair set of a banded self-join
    over the full corpus's :func:`build_minhash_index` rows — each pair
    (a, b) surfaces on
    the run where the later of the two docs arrives. Indexing every
    arriving doc (not just dedup survivors) is REQUIRED for this
    invariant; see :func:`incremental_minhash_candidates`.

    The index and pair stores are append-only parquet: each run writes
    only O(batch) rows. A crashed run can leave a partial append — rerun
    and read with ``.distinct()`` (pairs and band rows are both
    idempotent under duplication). Re-ingesting an id with CHANGED text
    appends the new band rows while the superseded ones remain, so the
    old content keeps generating candidate pairs; bound that staleness
    by periodically rewriting the index without the re-ingested ids'
    old band rows (an anti-join on ``id_col``) — candidate pairs are
    verification inputs, so stale rows
    cost extra verify work, never a wrong final answer. Downstream,
    verify pairs with :func:`jaccard_pairs` against a doc store and
    collapse clusters with :func:`dedup_corpus` — candidates need no
    historical text, so this loop never re-reads the corpus.

    The existence probe and both appends go through the Hadoop-FS seam /
    Spark writers, so ``s3a://`` / ``hdfs://`` store paths work
    unmodified for the probe-and-append loop itself.
    """
    from modevetl_spark.sources.fs import fs_exists

    if fs_exists(spark, index_path):
        # No .distinct() on the index: that would shuffle the
        # corpus-sized store every run. Duplicate band rows from a crash
        # replay only produce duplicate join matches, which the pair
        # output's own distinct already collapses.
        index = spark.read.parquet(index_path)
        pairs, new_rows = incremental_minhash_candidates(
            batch_docs, index, id_col, text_col, shingle_n, k, bands
        )
    else:
        new_rows = build_minhash_index(
            batch_docs, id_col, text_col, shingle_n, k, bands
        )
        pairs = _banded_pairs(new_rows, id_col, ["band_id", "band_hash"])
    # cache: new_rows feeds the pair DAG, the pair count, the pair write,
    # and its own write — without it the batch's signature computation
    # runs three times
    new_rows = new_rows.cache()
    pairs = pairs.cache()
    try:
        n = pairs.count()
        if n:
            pairs.write.mode("append").parquet(pairs_path)
        new_rows.write.mode("append").parquet(index_path)
    finally:
        pairs.unpersist()
        new_rows.unpersist()
    return n


# global_rank moved to operators/ranking.py (round 6) where it sits with
# global_running and ntile_from_rank — the range-partitioned replacements
# for every data-sized global window in the repo. Re-exported here because
# the dedup blocking families (SNM below, systematic sampling) were its
# first consumers and import it from this module.
def sorted_neighborhood_pairs(
    docs: DataFrame,
    key: Column,
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sorted-neighborhood (SNM) candidate generation — the third
    blocking family next to MinHash-LSH and SimHash banding: sort the
    corpus by a locality-preserving key, compare each record only with
    its ``window`` successors in that order. Classic record-linkage
    blocking (Hernández & Stolfo's merge/purge); recall depends on the
    key clustering true duplicates, precision is restored by the exact
    verify the caller applies to the emitted pairs.

    Plan shape (rewritten round 7 after the A/B in BASELINE.md): the
    sorted neighborhood is computed with NO data-sized join at all.
    The old shape self-joined the ranked corpus on exploded rank
    offsets — correct, but it shuffles w+1 copies of the corpus and
    its join strategy turned out to hinge on Catalyst's size estimate
    of the checkpointed rank relation (observed flipping
    BroadcastHashJoin ↔ SortMergeJoin across offset-table variants —
    a broadcast of the CORPUS side, fast at sf0.1 and fatal at scale).
    Now: range-partition + number once (``ranking._numbered``), take
    each row's w successors WITHIN its range partition from one
    ``lead()`` window pass (balanced — partitioned by the range cell),
    and repair the partition seams with a bounded broadcast join:
    only the last w rows of each partition (``tails``) can reach into
    a later partition, and every reachable cross-partition successor
    is among the first w rows of its partition (``heads``, proof: a
    successor within w global ranks past a boundary has local offset
    < w) — both ≤ w·P rows, a config-bounded relation. One range
    exchange total; at 100 TB there is no corpus-sized shuffle or
    broadcast anywhere in the plan."""
    from modevetl_spark.operators.ranking import _numbered, _offsets

    base = docs.select(
        F.col(id_col).alias("_id"),
        key.alias("_k"),
        F.array_distinct(tokens(text_col)).alias("_toks"),
    )
    # _numbered checkpoints the ranged rows; the three consumers below
    # (leads, heads, tails) all read that one materialization
    local = _numbered(base, ["_k", "_id"], None)
    stats = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    side = _offsets(stats, [], keep_n=True)
    ranked = local.join(F.broadcast(side), "_pid").select(
        "_pid",
        "_lrn",
        "_n",
        (F.col("_lrn") + F.col("_off") + 1).cast("bigint").alias("rn"),
        "_id",
        "_toks",
    )
    w_succ = Window.partitionBy("_pid").orderBy("_lrn")
    nbrs = F.array(
        *[
            F.lead(
                F.struct(
                    F.col("_id").alias("id_b"), F.col("_toks").alias("toks_b")
                ),
                k,
            ).over(w_succ)
            for k in range(1, window + 1)
        ]
    )
    within = (
        ranked.select(
            F.col("_id").alias("id_a"),
            F.col("_toks").alias("toks_a"),
            nbrs.alias("_nbs"),  # window pass first; generators can't host windows
        )
        .select("id_a", "toks_a", F.explode("_nbs").alias("_nb"))
        .where(F.col("_nb").isNotNull())
        .select("id_a", "toks_a", F.col("_nb.id_b"), F.col("_nb.toks_b"))
    )
    heads = ranked.where(F.col("_lrn") < window).select(
        F.col("_pid").alias("_pid_b"),
        F.col("rn").alias("_rn_b"),
        F.col("_id").alias("id_b"),
        F.col("_toks").alias("toks_b"),
    )
    tails = ranked.where(F.col("_lrn") >= F.col("_n") - window).select(
        "_pid",
        "rn",
        F.col("_id").alias("id_a"),
        F.col("_toks").alias("toks_a"),
    )
    seams = tails.join(
        F.broadcast(heads),
        (F.col("_pid_b") > F.col("_pid"))
        & (F.col("_rn_b") > F.col("rn"))
        & (F.col("_rn_b") <= F.col("rn") + window),
    ).select("id_a", "toks_a", "id_b", "toks_b")
    return within.unionByName(seams)
