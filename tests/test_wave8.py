"""Unit tests for queries/wave8.py and operators/similarity.ivf_sq_topk:
rank-bound / losslessness / sub-linearity properties on adversarial
inputs the fixture never produces, plus plan-shape gates.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from modevetl_spark.queries.wave8 import (
    QUERIES,
    _T_CONTAIN,
    join_containment,
    sim_topk_ivf_sq,
    sketch_merge_quantiles,
)
from modevetl_spark.sources.catalog import load


class TestSketchMergeQuantiles:
    def test_bounds_hold_on_fixture(self, spark, sf_dir):
        rows = sketch_merge_quantiles(spark, sf_dir).collect()
        assert {r["p_label"] for r in rows} == {"p10", "p50", "p90", "p99"}
        for r in rows:
            assert r["bounds_ok"] is True, r
            # est is an actual data value: strictly bracketed ranks
            assert r["rank_lo"] < r["rank_hi"], r

    def _sketch(self, df, eps=0.02, cells=32):
        """The wave8 sketch body over an arbitrary (k BIGINT, v DOUBLE)
        frame — re-derived here so tests can feed adversarial data."""
        pid = (
            F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % cells
        )
        w_rank = Window.partitionBy("pid").orderBy("v", "k")
        w_cell = Window.partitionBy("pid")
        return (
            df.select("k", "v", pid.alias("pid"))
            .select(
                "pid",
                "v",
                "k",
                F.row_number().over(w_rank).alias("rn"),
                F.count(F.lit(1)).over(w_cell).alias("n_p"),
            )
            .withColumn(
                "step",
                F.greatest(
                    F.lit(1).cast("bigint"),
                    F.floor(F.lit(eps) * F.col("n_p")).cast("bigint"),
                ),
            )
            .where((F.col("rn") - 1) % F.col("step") == 0)
            .select(
                "v",
                "k",
                F.least(F.col("step"), F.col("n_p") - F.col("rn") + 1).alias("w"),
            )
        )

    def _assert_bounds(self, spark, kept_rows, data_rows, eps, probs):
        """Given collected sketch rows [(v, k, w)] and raw values,
        check the rank guarantee of the merged estimate."""
        import math

        n = len(data_rows)
        kept = sorted(kept_rows, key=lambda r: (r["v"], r["k"]))
        assert sum(r["w"] for r in kept) == n  # weights partition the data
        values = sorted(data_rows)
        for p in probs:
            target = math.ceil(p * n)
            cum = 0
            est = None
            for r in kept:
                cum += r["w"]
                if cum >= target:
                    est = r["v"]
                    break
            assert est is not None
            rank_lo = sum(1 for v in values if v < est)
            rank_hi = sum(1 for v in values if v <= est)
            assert rank_lo < target, (p, rank_lo, target)
            assert rank_hi >= target - int(eps * n), (p, rank_hi, target)

    def test_rank_guarantee_heavy_tail(self, spark):
        # Zipf-ish heavy tail: the histogram sketch's K-grid collapses
        # here; the rank sketch must not care about the value scale.
        n, eps = 4000, 0.02
        df = spark.range(n).select(
            F.col("id").alias("k"),
            (F.lit(1.0) / ((F.col("id") % 997) + 1) * F.lit(1e9)).alias("v"),
        )
        kept = self._sketch(df, eps=eps).collect()
        data = [r["v"] for r in df.collect()]
        self._assert_bounds(spark, kept, data, eps, [0.1, 0.5, 0.9, 0.99])

    def test_rank_guarantee_all_duplicates(self, spark):
        n, eps = 1000, 0.02
        df = spark.range(n).select(
            F.col("id").alias("k"), F.lit(42.0).alias("v")
        )
        kept = self._sketch(df, eps=eps).collect()
        data = [r["v"] for r in df.collect()]
        self._assert_bounds(spark, kept, data, eps, [0.1, 0.5, 0.99])

    def test_mergeability_union_of_split_sketches(self, spark):
        """Sketching two disjoint halves separately and UNIONING the kept
        rows satisfies the same rank bound over the union — the
        mergeable-summary property (each cell's rows land in the same
        cell regardless of which half carried them, so the union of
        half-sketches is a valid—slightly finer—sketch of the whole)."""
        n, eps = 3000, 0.02
        df = spark.range(n).select(
            F.col("id").alias("k"),
            ((F.col("id") * 131) % 1013).cast("double").alias("v"),
        )
        lo = df.where(F.col("k") < n // 2)
        hi = df.where(F.col("k") >= n // 2)
        merged = self._sketch(lo, eps=eps).unionByName(
            self._sketch(hi, eps=eps)
        )
        data = [r["v"] for r in df.collect()]
        self._assert_bounds(spark, merged.collect(), data, eps, [0.1, 0.5, 0.9])

    def test_single_row_and_tiny_cells(self, spark):
        df = spark.range(1).select(F.col("id").alias("k"), F.lit(7.0).alias("v"))
        kept = self._sketch(df).collect()
        assert [(r["v"], r["w"]) for r in kept] == [(7.0, 1)]


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
            "_wave8_pair"
        )
        from modevetl_spark.operators.text import tokens, word_shingles

        d = spark.table("_wave8_pair")
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


class TestIvfSqTopk:
    def test_recall_and_sublinearity(self, spark, sf_dir):
        from modevetl_spark.operators.similarity import (
            brute_force_topk,
            ivf_sq_topk,
        )

        e = load(spark, sf_dir, "embeddings")
        qs = e.where(F.col("vec_id") < 20)
        res = ivf_sq_topk(e, qs, k=5, shortlist=10, nlist=16, nprobe=4)
        rows = res.collect()
        n_corpus = e.count()
        per_q = {}
        for r in rows:
            per_q.setdefault(r["query_id"], []).append(r)
            # the sub-linearity witness: candidates are a strict subset
            assert r["n_cand"] < n_corpus
        assert len(per_q) == 20
        assert all(len(v) == 5 for v in per_q.values())
        exact = brute_force_topk(e, qs, k=5)
        hits = exact.join(
            res.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        ).count()
        assert hits >= 0.5 * exact.count()

    def test_query_grading_columns(self, spark, sf_dir):
        rows = sim_topk_ivf_sq(spark, sf_dir).collect()
        assert len(rows) == 20
        for r in rows:
            assert r["recall_ok"] is True
            assert r["cand_bounded"] is True
            ids = r["exact_top5_ids"].split(",")
            assert len(ids) == 5
            assert ids[0] == str(r["exact_top1_id"])


class TestWave8Plans:
    """Plan-shape gates: the scale claims in the docstrings, asserted."""

    def _plan(self, df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    def test_sketch_no_data_sized_sort_or_cartesian(self, spark, sf_dir):
        p = self._plan(sketch_merge_quantiles(spark, sf_dir))
        # the only windows partition by the hash cell / _pid machinery;
        # the registry-wide no-global-window gate covers the Window
        # nodes — here assert no data-sized cartesian: every
        # BroadcastNestedLoopJoin input must be the bounded est/tgt side
        assert "CartesianProduct" not in p

    def test_containment_no_cartesian(self, spark, sf_dir):
        p = self._plan(join_containment(spark, sf_dir))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p  # all joins are keyed

    def test_ivf_sq_corpus_scanned_not_shuffled(self, spark, sf_dir):
        from modevetl_spark.operators.similarity import ivf_sq_topk

        e = load(spark, sf_dir, "embeddings")
        qs = e.where(F.col("vec_id") < 20)
        plan = self._plan(ivf_sq_topk(e, qs, k=5))
        # candidate generation must be a broadcast join on the cell id —
        # no shuffle (SortMergeJoin/ShuffledHashJoin) of the corpus side
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan


class TestKmvDistinct:
    def test_fixture_bounds_and_exact_tier(self, spark, sf_dir):
        from modevetl_spark.queries.wave8 import sketch_distinct_kmv

        r = sketch_distinct_kmv(spark, sf_dir).collect()[0]
        li = load(spark, sf_dir, "lineitem")
        true_d = li.select("l_orderkey").distinct().count()
        assert r["exact_distinct"] == true_d
        assert r["k"] == 256
        assert r["bounds_ok"] is True, r
        assert 0 < r["est_distinct"]

    def test_non_full_sketch_is_exact(self, spark):
        from modevetl_spark.operators.sketches import kmv_distinct

        d = spark.range(1000).select((F.col("id") % 37).alias("v"))
        r = kmv_distinct(d, "v", k=256).collect()[0]
        assert r["k"] == 37
        assert r["est_distinct"] == 37.0
        assert r["exact_distinct"] == 37
        assert r["rel_err"] == 0.0 and r["bounds_ok"] is True

    def test_partitioning_invariance(self, spark):
        """The k-min set — hence the whole output row — is a pure
        function of the value set: any globally-k-smallest hash is
        among its own partition's k smallest, so it survives every
        per-partition trim under any layout."""
        from modevetl_spark.operators.sketches import kmv_distinct

        base = spark.range(20000).select((F.col("id") * 7919 % 6007).alias("v"))
        a = kmv_distinct(base.repartition(1), "v", k=64).collect()
        b = kmv_distinct(base.repartition(13), "v", k=64).collect()
        assert a == b

    def test_estimator_closed_form(self, spark):
        """est = (k-1)*2^32/h_k with h_k the k-th smallest distinct
        md5-prefix hash, recomputed independently JVM-side."""
        from modevetl_spark.operators.sketches import kmv_distinct

        base = spark.range(5000).select(F.col("id").alias("v"))
        r = kmv_distinct(base, "v", k=128).collect()[0]
        hk = (
            base.select(
                F.conv(F.substring(F.md5(F.col("v").cast("string")), 1, 8), 16, 10)
                .cast("bigint")
                .alias("h")
            )
            .distinct()
            .orderBy("h")
            .limit(128)
            .agg(F.max("h"))
            .collect()[0][0]
        )
        assert r["h_k"] == hk
        assert r["est_distinct"] == round(127 * 2**32 / hk, 4)

    def test_nulls_excluded(self, spark):
        from modevetl_spark.operators.sketches import kmv_distinct

        d = spark.createDataFrame(
            [(1,), (2,), (None,), (2,)], "v int"
        )
        r = kmv_distinct(d, "v", k=8).collect()[0]
        assert r["exact_distinct"] == 2 and r["k"] == 2
        assert r["n_rows"] == 3  # non-null rows

    def test_plan_global_kmin_is_take_ordered(self, spark, sf_dir):
        from modevetl_spark.queries.wave8 import sketch_distinct_kmv

        from tests.test_plans import plan

        p = plan(sketch_distinct_kmv(spark, sf_dir))
        # the global k-min over the checkpointed <= k*P-row union is a
        # bottom-k TakeOrderedAndProject, and the fold itself hides
        # behind the checkpoint scan (no InPandas in the driven plan)
        assert "TakeOrderedAndProject" in p
        assert "InPandas" not in p


class TestSketchGroupQuantiles:
    def test_bounds_hold_per_group_on_fixture(self, spark, sf_dir):
        from modevetl_spark.queries.wave8 import sketch_group_quantiles

        rows = sketch_group_quantiles(spark, sf_dir).collect()
        grps = {r["grp"] for r in rows}
        assert len(grps) == 5  # the five order priorities
        assert len(rows) == 10  # x {p50, p95}
        for r in rows:
            assert r["bounds_ok"] is True, r
            assert r["rank_lo"] < r["rank_hi"], r

    def test_skewed_groups_rank_guarantee(self, spark, sf_dir, tmp_path):
        """One giant group next to a singleton group: the per-group
        sketch must honor the rank bound in both regimes (cells with
        n_p > 1/eps compact; the singleton keeps its only row and is
        exact). Route adversarial data through the registry callable by
        writing a minimal orders parquet."""
        import pandas as pd

        from modevetl_spark.queries.wave8 import sketch_group_quantiles

        big_n = 5000
        pdf = pd.DataFrame(
            {
                "o_orderkey": range(big_n + 1),
                "o_orderpriority": ["1-BIG"] * big_n + ["2-ONE"],
                # heavy tail: value = key^2 concentrates mass low
                "o_totalprice": [float(i * i % 97 + i / 7.0) for i in range(big_n)]
                + [42.0],
            }
        )
        d = str(tmp_path / "orders.parquet")
        pdf.to_parquet(d)
        rows = sketch_group_quantiles(spark, str(tmp_path)).collect()
        one = [r for r in rows if r["grp"] == "2-ONE"]
        assert len(one) == 2
        for r in one:
            assert r["est"] == 42.0 and r["bounds_ok"] is True
        for r in rows:
            assert r["bounds_ok"] is True, r


class TestKmvJaccard:
    def test_fixture_bounds(self, spark, sf_dir):
        from modevetl_spark.queries.wave8 import sketch_jaccard_kmv

        r = sketch_jaccard_kmv(spark, sf_dir).collect()[0]
        assert r["bounds_ok"] is True, r
        assert 0.0 <= r["j_est"] <= 1.0
        assert r["inter_exact"] <= r["union_exact"]

    def _docs(self, spark, tmp_path, texts_a, texts_b):
        import pandas as pd

        rows = [("src0", t) for t in texts_a] + [("src1", t) for t in texts_b]
        pdf = pd.DataFrame(
            {
                "doc_id": range(len(rows)),
                "text": [t for _, t in rows],
                "lang": "en",
                "source": [s for s, _ in rows],
                "n_chars": [len(t) for _, t in rows],
            }
        )
        pdf.to_parquet(str(tmp_path / "documents.parquet"))
        return str(tmp_path)

    def test_identical_sources_estimate_one(self, spark, tmp_path):
        from modevetl_spark.queries.wave8 import sketch_jaccard_kmv

        texts = [
            " ".join(f"w{(i * j) % 211}" for j in range(60)) for i in range(8)
        ]
        d = self._docs(spark, tmp_path, texts, texts)
        r = sketch_jaccard_kmv(spark, d).collect()[0]
        assert r["j_est"] == 1.0 and r["j_exact"] == 1.0
        assert r["bounds_ok"] is True

    def test_disjoint_sources_estimate_zero(self, spark, tmp_path):
        from modevetl_spark.queries.wave8 import sketch_jaccard_kmv

        a = [" ".join(f"a{i}_{j}" for j in range(80)) for i in range(6)]
        b = [" ".join(f"b{i}_{j}" for j in range(80)) for i in range(6)]
        d = self._docs(spark, tmp_path, a, b)
        r = sketch_jaccard_kmv(spark, d).collect()[0]
        assert r["j_est"] == 0.0 and r["j_exact"] == 0.0
        assert r["bounds_ok"] is True

    def test_non_full_merged_sketch_is_exact(self, spark, tmp_path):
        """With |union| < k the merged sketch IS the union, so the
        estimator degenerates to the exact Jaccard by rule."""
        from modevetl_spark.queries.wave8 import sketch_jaccard_kmv

        # ~50 shingles per side, half shared: union << k=256
        a = ["common one two three four five six seven eight nine ten"]
        b = ["common one two three four five alpha beta gamma delta eps"]
        d = self._docs(spark, tmp_path, a, b)
        r = sketch_jaccard_kmv(spark, d).collect()[0]
        assert r["m_cnt"] == r["union_exact"]
        assert r["j_est"] == r["j_exact"]
        assert r["abs_err"] == 0.0


def test_wave8_keys_registered():
    assert set(QUERIES) == {
        "q_sketch_merge_quantiles",
        "q_join_containment",
        "q_sim_topk_ivf_sq",
        "q_sketch_distinct_kmv",
        "q_sketch_group_quantiles",
        "q_sketch_jaccard_kmv",
    }
