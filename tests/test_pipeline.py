"""End-to-end training-data pipeline integration: the LLM operators must
COMPOSE — dedup the corpus, chunk the survivors to a token budget, encode
chunks against a built vocabulary, pack the encoded chunks into training
bins — with the cross-stage invariants a real data pipeline needs.

Each stage is oracle- or unit-verified on its own elsewhere; this suite
pins the seams (schemas line up, ids survive, budgets hold end to end).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from modevetl_spark.operators.dedup import (
    dedup_corpus,
    jaccard_pairs,
    minhash_candidates_md5,
)
from modevetl_spark.operators.sampling import pack_by_budget
from modevetl_spark.operators.text import (
    build_vocab,
    chunk_spans,
    encode_tokens,
    tokens,
)
from modevetl_spark.sources.catalog import load

CHUNK, OVERLAP, BUDGET = 40, 8, 512


def test_dedup_chunk_encode_pack_pipeline(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()

    # 1) near-dup removal: LSH candidates -> exact-Jaccard verify -> one
    #    canonical survivor per duplicate cluster
    cands = minhash_candidates_md5(docs, shingle_n=3, k=16, bands=4)
    pairs = jaccard_pairs(docs, cands, shingle_n=3).where(F.col("jaccard") >= 0.8)
    survivors = dedup_corpus(docs, pairs).cache()
    n_surv = survivors.count()
    assert 0 < n_surv <= n_docs
    # no surviving pair is still a >=0.8 near-duplicate of another survivor
    surv_pairs = jaccard_pairs(
        survivors, pairs.join(survivors, pairs.id_a == survivors.doc_id, "semi")
        .join(survivors.select(F.col("doc_id").alias("id_b")), "id_b", "semi"),
        shingle_n=3,
    )
    assert surv_pairs.where(F.col("jaccard") >= 0.8).count() == 0

    # 2) chunk surviving docs into CHUNK-token spans with OVERLAP context
    base = survivors.select("doc_id", tokens("text").alias("toks"))
    chunks = (
        base.select(
            "doc_id",
            "toks",
            F.explode(chunk_spans(F.col("toks"), CHUNK, OVERLAP)).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.slice("toks", F.col("c.start") + 1, F.col("c.len")).alias("chunk"),
        )
        .withColumn("chunk_text", F.array_join("chunk", " "))
        .cache()
    )
    per_chunk = chunks.select("doc_id", "chunk_id", F.size("chunk").alias("n"))
    assert per_chunk.where(F.col("n") > CHUNK).count() == 0
    # chunks cover every token of every multi-chunk doc: sum of lens minus
    # overlaps equals the doc's token count
    cover = (
        per_chunk.groupBy("doc_id")
        .agg(F.sum("n").alias("total"), F.count("*").alias("k"))
        .join(base.select("doc_id", F.size("toks").alias("n_toks")), "doc_id")
    )
    bad = cover.where(
        F.col("total") - (F.col("k") - 1) * OVERLAP != F.col("n_toks")
    )
    assert bad.count() == 0

    # 3) encode chunks against a vocabulary built from the SURVIVOR corpus
    vocab = build_vocab(survivors, "text").cache()
    vocab_size = vocab.count()
    enc = encode_tokens(
        chunks.withColumn(
            "cid", F.col("doc_id") * 10_000 + F.col("chunk_id")
        ),
        "cid",
        "chunk_text",
        vocab,
    )
    stats = enc.select(
        F.min(F.array_min("token_ids")).alias("lo"),
        F.max(F.array_max("token_ids")).alias("hi"),
        F.sum("n_tokens").alias("total"),
    ).collect()[0]
    # vocabulary came from the same corpus -> nothing is out-of-vocabulary
    assert stats.lo >= 0 and stats.hi < vocab_size
    assert stats.total == per_chunk.agg(F.sum("n")).collect()[0][0]

    # 4) pack encoded chunks into training bins under the token budget
    packed = pack_by_budget(
        enc.select(F.col("cid").alias("doc_id"), "n_tokens"),
        weight_col="n_tokens",
        budget=BUDGET,
    )
    over = (
        packed.groupBy("bin_id")
        .agg(F.sum("n_tokens").alias("w"), F.count("*").alias("k"))
        .where((F.col("w") > BUDGET) & (F.col("k") > 1))
    )
    assert over.count() == 0  # only single-doc bins may exceed the budget
    assert packed.count() == enc.count()  # every chunk landed in a bin


def test_quality_gate_and_redaction_front_end(spark, sf_dir):
    """Round-4 front-end stages compose with the dedup pipeline: hard
    quality filters gate the corpus, PII redaction touches every doc,
    and the gated corpus flows into near-dup removal unchanged."""
    from modevetl_spark.queries.pipeline import pii_redact, quality_filter

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()

    qf = quality_filter(spark, sf_dir).select("doc_id", "keep")
    kept = docs.join(qf.where(F.col("keep")), "doc_id")
    n_kept = kept.count()
    assert 0 < n_kept <= n_docs

    red = pii_redact(spark, sf_dir)
    # the deterministic synthetic contact line guarantees every doc has
    # at least one email and one phone match
    assert red.count() == n_docs
    assert red.where(
        (F.col("n_emails") == 0) | (F.col("n_phones") == 0)
    ).count() == 0
    # and redaction actually rewrote the text: the redacted md5 never
    # equals the md5 of the raw augmented body
    raw_body_md5 = F.md5(
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or phone 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        )
    )
    raw = docs.select("doc_id", raw_body_md5.alias("raw_md5"))
    assert (
        red.join(raw, "doc_id")
        .where(F.col("redacted_md5") == F.col("raw_md5"))
        .count()
        == 0
    )

    # gated corpus flows into the dedup stage with ids intact
    cands = minhash_candidates_md5(kept, shingle_n=3, k=16, bands=4)
    pairs = jaccard_pairs(kept, cands, shingle_n=3).where(
        F.col("jaccard") >= 0.8
    )
    survivors = dedup_corpus(kept, pairs)
    n_surv = survivors.count()
    assert 0 < n_surv <= n_kept
    # survivors are a subset of the quality-kept ids
    assert survivors.join(kept, "doc_id", "left_anti").count() == 0
