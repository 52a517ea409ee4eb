"""Tests for the join keys (queries/joins.py): the containment join's
losslessness and direction on hand-built inputs, and its plan shape.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from modevetl_spark.queries.joins import _T_CONTAIN, join_containment
from modevetl_spark.sources.catalog import load


class TestJoinContainment:
    def test_lossless_vs_brute_force(self, spark, sf_dir):
        """The prefix-filtered result must equal the unblocked all-pairs
        containment join — the losslessness claim, checked in-engine."""
        from modevetl_spark.operators.text import tokens, word_shingles

        got = {
            (r["a_id"], r["b_id"], r["shared"])
            for r in join_containment(spark, sf_dir).collect()
        }
        d = load(spark, sf_dir, "documents")
        docs = d.select(
            "doc_id",
            F.array_distinct(word_shingles(tokens("text"), 3)).alias("toks"),
        ).withColumn("n", F.size("toks"))
        a = docs.select(
            F.col("doc_id").alias("a_id"),
            F.col("toks").alias("ta"),
            F.col("n").alias("n_a"),
        )
        b = docs.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("tb"))
        shared = F.size(F.array_intersect("ta", "tb")).cast("bigint")
        brute = {
            (r["a_id"], r["b_id"], r["shared"])
            for r in a.crossJoin(b)
            .where(F.col("a_id") != F.col("b_id"))
            .where(shared.cast("double") / F.col("n_a") >= F.lit(_T_CONTAIN))
            .select("a_id", "b_id", shared.alias("shared"))
            .collect()
        }
        assert got == brute and len(got) > 0

    def test_directed_asymmetry(self, spark):
        """A short doc quoted inside a long one: (short→long) qualifies,
        (long→short) does not."""
        rows = [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
                "lamda mu nu xi omicron pi rho sigma tau upsilon"),
        ]
        spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
            "_containment_pair"
        )
        from modevetl_spark.operators.text import tokens, word_shingles

        d = spark.table("_containment_pair")
        docs = d.select(
            "doc_id",
            F.array_distinct(word_shingles(tokens("text"), 3)).alias("toks"),
        ).withColumn("n", F.size("toks"))
        a = docs.select(
            F.col("doc_id").alias("a_id"),
            F.col("toks").alias("ta"),
            F.col("n").alias("n_a"),
        )
        b = docs.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("tb"))
        shared = F.size(F.array_intersect("ta", "tb")).cast("bigint")
        out = {
            (r["a_id"], r["b_id"])
            for r in a.crossJoin(b)
            .where(F.col("a_id") != F.col("b_id"))
            .where(shared.cast("double") / F.col("n_a") >= F.lit(_T_CONTAIN))
            .select("a_id", "b_id")
            .collect()
        }
        assert (1, 2) in out and (2, 1) not in out


class TestWave8Plans:
    """Plan-shape gates: the scale claims in the docstrings, asserted."""

    def _plan(self, df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    def test_containment_no_cartesian(self, spark, sf_dir):
        p = self._plan(join_containment(spark, sf_dir))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p  # all joins are keyed
