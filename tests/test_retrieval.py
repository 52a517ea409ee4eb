"""Tests for the retrieval keys (queries/retrieval.py): quantized and
IVF top-k, RBO and NDCG against python
reference replays, hard-negative mining, and plan-shape gates.
"""

from __future__ import annotations

import math
from fractions import Fraction

from pyspark.sql import functions as F

from modevetl_spark.queries.retrieval import (
    _NDCG_K,
    _NDCG_Q,
    _RBO_D,
    sim_topk_ivf_sq,
)
from modevetl_spark.sources.catalog import load


class TestEmbeddingQuantize:
    def test_codes_match_numpy_and_constant_dim_is_zero(self, spark, sf_dir, duck):
        import numpy as np

        from modevetl_spark.queries.retrieval import QUERIES

        out = {
            r["vec_id"]: r
            for r in QUERIES["q_embedding_quantize"](spark, sf_dir).collect()
        }
        emb = duck.execute(
            "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
        ).fetchall()
        mat = np.array([list(e) for _, e in emb], dtype=np.float64)
        mn, mx = mat.min(axis=0), mat.max(axis=0)
        span = mx - mn
        for j, (vid, vec) in enumerate(emb[:20]):
            want = []
            for d, x in enumerate(vec):
                if span[d] > 0:
                    want.append(int(np.floor(((float(x) - mn[d]) / span[d]) * 255)))
                else:
                    want.append(0)
            got = [int(c) for c in out[vid]["codes"].split(",")]
            assert got == want, (vid, got[:8], want[:8])
            assert out[vid]["quant_ok"] is True
        # every code in 0..255
        allcodes = [
            int(c) for r in out.values() for c in r["codes"].split(",")
        ]
        assert min(allcodes) >= 0 and max(allcodes) <= 255


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

    def test_ivf_sq_corpus_scanned_not_shuffled(self, spark, sf_dir):
        from modevetl_spark.operators.similarity import ivf_sq_topk

        e = load(spark, sf_dir, "embeddings")
        qs = e.where(F.col("vec_id") < 20)
        plan = self._plan(ivf_sq_topk(e, qs, k=5))
        # candidate generation must be a broadcast join on the cell id —
        # no shuffle (SortMergeJoin/ShuffledHashJoin) of the corpus side
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan


class TestRankRbo:
    def test_python_differential_exact_fractions(self, spark, sf_dir):
        """Full replay from first principles with exact Fractions: load
        the raw lineitem via duckdb, build both rankings (exact decimal
        sums — python Fraction is exact too), compute the RBO agreement
        curve per Webber et al. (2010) eq. 4 truncated at depth D, and
        match the Spark pico-units exactly (every Spark-side rounding
        step is replayed: the 12dp HALF_UP of X_d/(d·2^(d−1)), the
        integer halve)."""
        import duckdb

        from modevetl_spark.queries.retrieval import rank_rbo

        con = duckdb.connect()
        rows = con.execute(
            f"""SELECT l_partkey, l_extendedprice, l_discount, l_quantity
                FROM read_parquet('{sf_dir}/lineitem.parquet')"""
        ).fetchall()
        rev: dict = {}
        qty: dict = {}
        for pk, price, disc, q_ in rows:
            # mirror the engine's DECIMAL(18,6) per-row quantization:
            # the double product truncates/rounds to 6dp on cast —
            # replicate with Fraction over the 6dp-rounded product
            prod = round(price * (1 - disc), 6)
            rev[pk] = rev.get(pk, Fraction(0)) + Fraction(str(prod))
            qty[pk] = qty.get(pk, Fraction(0)) + Fraction(str(round(q_, 6)))

        def ranks(d: dict) -> dict:
            top = sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))[:_RBO_D]
            return {pk: i + 1 for i, (pk, _) in enumerate(top)}

        ra, rb = ranks(rev), ranks(qty)
        m = {}
        for pk in set(ra) | set(rb):
            m[pk] = max(ra.get(pk, _RBO_D + 1), rb.get(pk, _RBO_D + 1))
        want = {}
        cum = 0
        for d in range(1, _RBO_D + 1):
            x_d = sum(1 for v in m.values() if v <= d)
            # 12dp round of the correctly-rounded double division;
            # python round() is half-even vs the engines' half-up, but a
            # .5e-12 tie needs the double to be odd/2^13 exactly — only
            # reachable at t = 2^-13 (perfect agreement at depth 14),
            # where both engines round up identically; assert exact
            t = x_d / (d * (1 << (d - 1)))
            term_pico = round(t * 10**12)
            if abs(t * 10**12 - math.floor(t * 10**12) - 0.5) < 1e-9:
                term_pico = math.floor(t * 10**12) + 1  # half-up like engines
            cum += term_pico
            want[d] = (x_d, term_pico, cum // 2)
        got = {
            r["d"]: (r["x_d"], r["term_pico"], r["rbo_pico"])
            for r in rank_rbo(spark, sf_dir).collect()
        }
        assert set(got) == set(want)
        for d in want:
            # term_pico: the python round() is half-even vs the engines'
            # HALF_UP — ties cannot occur (binary fractions never hit
            # .5e-12 exactly), so exact equality is demanded
            assert got[d] == want[d], (d, got[d], want[d])

    def test_identical_rankings_give_rbo_one(self, spark, sf_dir):
        """Structural sanity on the measure itself: when both rankings
        are the same list, X_d = d at every depth, each term is
        2^-(d-1), and RBO@D = (1-p)·Σ p^(d-1)·1 -> 1 - 2^-D. The Spark
        plan is exercised end-to-end by the real query; this pins the
        closed form the curve must approach when the two measures agree
        (top depth row has x_d <= D and rbo_pico <= the perfect
        curve's)."""
        from modevetl_spark.queries.retrieval import rank_rbo

        rows = {r["d"]: r for r in rank_rbo(spark, sf_dir).collect()}
        assert len(rows) == _RBO_D
        perfect_cum = 0
        for d in range(1, _RBO_D + 1):
            assert 0 <= rows[d]["x_d"] <= d
            # perfect-agreement term: X_d = d -> t = 2^-(d-1) in pico
            perfect_cum += round(10**12 / (1 << (d - 1)))
            assert rows[d]["rbo_pico"] <= perfect_cum // 2 + 1
        # monotone non-decreasing overlap and cumulative rbo
        xs = [rows[d]["x_d"] for d in range(1, _RBO_D + 1)]
        assert xs == sorted(xs)
        rb = [rows[d]["rbo_pico"] for d in range(1, _RBO_D + 1)]
        assert rb == sorted(rb)

    def test_plan_no_window_no_python_takeordered(self, spark, sf_dir):
        from modevetl_spark.queries.retrieval import rank_rbo
        from tests.test_plans import plan

        p = plan(rank_rbo(spark, sf_dir))
        # r13 shape: the agreement curve replays on the driver over the
        # two collected top-D prefixes (config-bounded), so the RETURNED
        # plan is the 32-row local relation — the top-D prefixes
        # themselves run as TakeOrdered collects off the pinned
        # single-pass part aggregate at build time
        assert "Window" not in p
        assert "CartesianProduct" not in p
        assert "Exchange" not in p
        assert "Join" not in p


class TestEvalNdcg:
    def test_python_differential(self, spark, sf_dir):
        """Replay NDCG@k from first principles: cosine in python floats
        with the engines' left-to-right fold, 6dp-rounded scores, rank
        by (score desc, id), graded gains, per-term 9dp folds, ideal
        from the rel-count histogram. Micro units must match within
        1 (python round() is half-even vs engine HALF_UP on the 9dp
        term rounds; k=10 terms bound the drift by 1 micro)."""
        import duckdb

        from modevetl_spark.queries.retrieval import eval_ndcg

        con = duckdb.connect()
        rows = con.execute(
            f"""SELECT vec_id, embedding, label
                FROM read_parquet('{sf_dir}/embeddings.parquet')"""
        ).fetchall()
        vecs = {r[0]: ([float(x) for x in r[1]], r[2]) for r in rows}

        def cos(a, b):
            dot = 0.0
            na = 0.0
            nb = 0.0
            for x, y in zip(a, b):
                dot += x * y
            for x in a:
                na += x * x
            for y in b:
                nb += y * y
            return dot / (math.sqrt(na) * math.sqrt(nb))

        want = {}
        for qid in range(_NDCG_Q):
            qv, ql = vecs[qid]
            scored = sorted(
                (
                    (-round(cos(qv, v), 6), nid, lbl)
                    for nid, (v, lbl) in vecs.items()
                    if nid != qid
                ),
            )[:_NDCG_K]
            dcg = 0
            for i, (_, nid, lbl) in enumerate(scored, start=1):
                g = 3 if lbl == ql else (1 if abs(lbl - ql) == 1 else 0)
                dcg += round(g / math.log2(i + 1), 9)
            n2 = sum(
                1 for nid, (v, lbl) in vecs.items() if nid != qid and lbl == ql
            )
            n1 = sum(
                1
                for nid, (v, lbl) in vecs.items()
                if nid != qid and abs(lbl - ql) == 1
            )
            idcg = 0
            for i in range(1, _NDCG_K + 1):
                g = 3 if i <= min(n2, _NDCG_K) else (
                    1 if i <= min(n2 + n1, _NDCG_K) else 0
                )
                idcg += round(g / math.log2(i + 1), 9)
            want[qid] = (n2, n1, math.floor(dcg * 1e6), math.floor(idcg * 1e6))
        got = {
            r["query_id"]: (r["n2"], r["n1"], r["dcg_micro"], r["idcg_micro"])
            for r in eval_ndcg(spark, sf_dir).collect()
        }
        assert set(got) == set(want)
        for qid in want:
            assert got[qid][:2] == want[qid][:2], qid
            assert abs(got[qid][2] - want[qid][2]) <= 1, (qid, got[qid], want[qid])
            assert abs(got[qid][3] - want[qid][3]) <= 1, (qid, got[qid], want[qid])

    def test_ndcg_bounds_and_guard(self, spark, sf_dir):
        """NDCG ∈ [0, 1] wherever defined, dcg <= idcg always (the
        ideal ordering is optimal — the histogram closed form must
        dominate the achieved ranking), idcg=0 rows carry NULL ndcg."""
        from modevetl_spark.queries.retrieval import eval_ndcg

        rows = eval_ndcg(spark, sf_dir).collect()
        assert len(rows) == _NDCG_Q
        for r in rows:
            assert r["dcg_micro"] <= r["idcg_micro"], r
            if r["idcg_micro"] > 0:
                assert 0.0 <= r["ndcg"] <= 1.0, r
            else:
                assert r["ndcg"] is None, r

    def test_plan_broadcast_queries_no_python(self, spark, sf_dir):
        from modevetl_spark.queries.retrieval import eval_ndcg
        from tests.test_plans import plan

        p = plan(eval_ndcg(spark, sf_dir))
        assert "Python" not in p
        assert "SortMergeJoin" not in p
        assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


class TestMineHardNegatives:
    def test_python_differential(self, spark, sf_dir):
        """Replay the triplet picks from first principles (python-float
        cosine with the engines' fold order, 6dp scores, id tie-break):
        pos/neg ids must match exactly, similarities and margin to the
        6dp contract."""
        import duckdb

        from modevetl_spark.queries.retrieval import _HNM_Q, mine_hard_negatives

        rows = duckdb.connect().execute(
            f"""SELECT vec_id, embedding, label
                FROM read_parquet('{sf_dir}/embeddings.parquet')"""
        ).fetchall()
        vecs = {r[0]: ([float(x) for x in r[1]], r[2]) for r in rows}

        def cos(a, b):
            dot = na = nb = 0.0
            for x, y in zip(a, b):
                dot += x * y
            for x in a:
                na += x * x
            for y in b:
                nb += y * y
            return dot / (math.sqrt(na) * math.sqrt(nb))

        want = {}
        for qid in range(_HNM_Q):
            qv, ql = vecs[qid]
            pos = neg = None
            for nid, (v, lbl) in vecs.items():
                if nid == qid:
                    continue
                key = (-round(cos(qv, v), 6), nid)
                if lbl == ql:
                    pos = min(pos, key) if pos else key
                else:
                    neg = min(neg, key) if neg else key
            want[qid] = (pos[1], -pos[0], neg[1], -neg[0])
        got = {
            r["anchor_id"]: r for r in mine_hard_negatives(spark, sf_dir).collect()
        }
        assert set(got) == set(want)
        for qid, (pid, psim, nid, nsim) in want.items():
            r = got[qid]
            assert (r["pos_id"], r["neg_id"]) == (pid, nid), qid
            assert abs(r["pos_sim"] - psim) < 1e-9 and abs(r["neg_sim"] - nsim) < 1e-9
            assert r["margin"] == r["pos_sim"] - r["neg_sim"]

    def test_margin_semantics(self, spark, sf_dir):
        """The hardest positive is at least as similar as ANY same-label
        vector and the negative at least as similar as any other-label
        vector — so margin > 0 iff the anchor's nearest same-label beat
        its nearest other-label (the label-noise signal)."""
        from modevetl_spark.queries.retrieval import _HNM_Q, mine_hard_negatives

        rows = mine_hard_negatives(spark, sf_dir).collect()
        assert len(rows) == _HNM_Q
        for r in rows:
            assert -1.0 <= r["neg_sim"] <= 1.0 and -1.0 <= r["pos_sim"] <= 1.0
            assert r["pos_id"] != r["neg_id"]

    def test_plan_one_scan_one_window(self, spark, sf_dir):
        from modevetl_spark.queries.retrieval import mine_hard_negatives
        from tests.test_plans import plan

        p = plan(mine_hard_negatives(spark, sf_dir))
        assert "Python" not in p
        assert "SortMergeJoin" not in p
        assert p.count("Window [row_number()") <= 1  # both picks, ONE window
