"""End-to-end training-data pipeline integration: the LLM operators must
COMPOSE — dedup the corpus, chunk the survivors to a token budget, encode
chunks against a built vocabulary, pack the encoded chunks into training
bins — with the cross-stage invariants a real data pipeline needs.

Each stage is oracle- or unit-verified on its own elsewhere; this suite
pins the seams (schemas line up, ids survive, budgets hold end to end).
"""

from __future__ import annotations

import math

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


class TestMixtureTemperature:
    def test_python_differential_exact_integers(self, spark, sf_dir):
        """Exact replay: token counts, one sqrt per source floored to
        nano BIGINTs, integer shares — every output column must match
        the python integers exactly (the post-sqrt pipeline is pure
        integer arithmetic, so there is no tolerance to grant)."""
        import duckdb

        from modevetl_spark.queries.pipeline import _TMPX_BUDGET, mixture_temperature

        rows = duckdb.connect().execute(
            f"SELECT source, text FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
        cnt: dict = {}
        for src, text in rows:
            cnt[src] = cnt.get(src, 0) + sum(1 for t in text.lower().split() if t)
        nano = {s: math.floor(math.sqrt(c) * 1.0e9) for s, c in cnt.items()}
        n, s_tot = sum(cnt.values()), sum(nano.values())
        got = {r["source"]: r for r in mixture_temperature(spark, sf_dir).collect()}
        assert set(got) == set(cnt)
        for s in cnt:
            r = got[s]
            assert r["n_tokens"] == cnt[s]
            assert r["share_linear_ppm"] == cnt[s] * 1000000 // n
            assert r["share_temp_ppm"] == nano[s] * 1000000 // s_tot
            assert r["tokens_target"] == nano[s] * _TMPX_BUDGET // s_tot

    def test_temperature_flattens_the_mixture(self, spark, sf_dir):
        """The defining property of alpha < 1 sampling: every source
        above the linear mean share is DOWN-weighted (boost <= 1) and
        every source below it is UP-weighted (boost >= 1) relative to
        proportional sampling, and the temperature shares are strictly
        flatter (smaller spread) than the linear ones."""
        from modevetl_spark.queries.pipeline import mixture_temperature

        rows = mixture_temperature(spark, sf_dir).collect()
        lin = [r["share_linear_ppm"] for r in rows]
        tmp = [r["share_temp_ppm"] for r in rows]
        assert max(tmp) - min(tmp) < max(lin) - min(lin)
        # boost direction flips at the sqrt-mean crossover; check the
        # extremes which must always obey it
        biggest = max(rows, key=lambda r: r["n_tokens"])
        smallest = min(rows, key=lambda r: r["n_tokens"])
        assert biggest["boost"] <= 1.0 + 1e-9
        assert smallest["boost"] >= 1.0 - 1e-9

    def test_plan_single_scan_broadcast_total(self, spark, sf_dir):
        from modevetl_spark.queries.pipeline import mixture_temperature
        from tests.test_plans import plan

        p = plan(mixture_temperature(spark, sf_dir))
        assert "Python" not in p
        assert "SortMergeJoin" not in p
        assert "Window" not in p

    def test_sub_ppm_source_boost_is_null_both_engines(
        self, spark, tmp_path
    ):
        """Round-9 advice: a source under 1 ppm of the corpus floors to
        share_linear_ppm == 0; Spark `/` NULLs on /0 while DuckDB IEEE
        division yields inf — both engines must emit NULL via the
        explicit guard. Synthetic corpus: one 1-token source against a
        >1M-token source."""
        import duckdb

        from modevetl_spark.queries.pipeline import _TMPX_ORACLE, mixture_temperature

        big = " ".join(["w"] * 11000)
        rows = [(i, "big", big) for i in range(100)] + [(100, "tiny", "x")]
        spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

        got = {
            r["source"]: r
            for r in mixture_temperature(spark, str(tmp_path)).collect()
        }
        assert got["tiny"]["share_linear_ppm"] == 0
        assert got["tiny"]["boost"] is None
        assert got["big"]["boost"] is not None
        # the oracle agrees: NULL, not inf
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS "
            f"SELECT * FROM read_parquet('{tmp_path}/documents.parquet/*.parquet')"
        )
        odf = con.execute(_TMPX_ORACLE).fetchdf().set_index("source")
        import math

        assert odf.loc["tiny", "share_linear_ppm"] == 0
        assert math.isnan(odf.loc["tiny", "boost"])  # pandas NULL -> NaN
        assert math.isfinite(odf.loc["big", "boost"])
