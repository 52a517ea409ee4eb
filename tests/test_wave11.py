"""Gates for the wave11 keys: registration, plan shape, and
python-reference differentials (the mandatory discipline for intricate
new operators — the oracle proves engine parity, the differential
proves the SEMANTICS are the published measure)."""

from __future__ import annotations

import math
from fractions import Fraction

from modevetl_spark.queries.wave11 import (
    _NDCG_K,
    _NDCG_Q,
    _PCA_D,
    _PCA_T,
    _RBO_D,
    QUERIES,
)


def test_wave11_drained_into_the_window():
    """The wave11 key set is registered with an oracle for every key
    (their graded evidence is checked registry-wide by
    test_contract.py::test_grading_evidence_current)."""
    from modevetl_spark import queries as Q

    qs, oracle = Q.all_queries(), Q.all_oracle()
    assert set(QUERIES) == {
        "q_rank_rbo",
        "q_eval_ndcg",
        "q_embedding_pca",
        "q_source_js_divergence",
        "q_mine_hard_negatives",
        "q_mixture_temperature",
    }
    assert set(QUERIES) <= set(oracle)
    assert set(QUERIES) <= set(qs)


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

        from modevetl_spark.queries.wave11 import rank_rbo

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
        from modevetl_spark.queries.wave11 import rank_rbo

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
        from modevetl_spark.queries.wave11 import rank_rbo
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

        from modevetl_spark.queries.wave11 import eval_ndcg

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
        from modevetl_spark.queries.wave11 import eval_ndcg

        rows = eval_ndcg(spark, sf_dir).collect()
        assert len(rows) == _NDCG_Q
        for r in rows:
            assert r["dcg_micro"] <= r["idcg_micro"], r
            if r["idcg_micro"] > 0:
                assert 0.0 <= r["ndcg"] <= 1.0, r
            else:
                assert r["ndcg"] is None, r

    def test_plan_broadcast_queries_no_python(self, spark, sf_dir):
        from modevetl_spark.queries.wave11 import eval_ndcg
        from tests.test_plans import plan

        p = plan(eval_ndcg(spark, sf_dir))
        assert "Python" not in p
        assert "SortMergeJoin" not in p
        assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


class TestEmbeddingPca:
    def _py_replay(self, sf_dir):
        """Exact python replay of the whole integer-quantized pipeline:
        9dp product folds (Fraction-exact sums), FLOOR(x·10^n) BIGINT
        quantization at every step, floats only for the identical IEEE
        trees — the same values both engines are REQUIRED to produce."""
        import math
        from fractions import Fraction

        import duckdb

        rows = duckdb.connect().execute(
            f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
        ).fetchall()
        xs = [[float(v) for v in r[0]] for r in rows]
        n = len(xs)
        D = _PCA_D
        m = [[Fraction(0)] * D for _ in range(D)]
        s = [Fraction(0)] * D
        for x in xs:
            for j in range(D):
                s[j] += Fraction(str(round(x[j], 9)))
                for k in range(D):
                    m[j][k] += Fraction(str(round(x[j] * x[k], 9)))
        cn = [[0] * D for _ in range(D)]
        for j in range(D):
            for k in range(D):
                mm = float(m[j][k])  # nearest double of the exact 9dp sum
                smj, smk = float(s[j]), float(s[k])
                cn[j][k] = math.floor((mm - smj * smk / n) / n * 1.0e9)
        v = [0.125] * D

        def matvec(vec):
            out = []
            for j in range(D):
                acc = 0
                for k in range(D):
                    acc += math.floor(cn[j][k] / 1.0e9 * vec[k] * 1.0e12)
                out.append(float(acc) / 1.0e12)
            return out

        for _ in range(_PCA_T):
            w = matvec(v)
            ss = sum(math.floor(wi * wi * 1.0e12) for wi in w)
            nrm = math.sqrt(float(ss) / 1.0e12)
            v = [float(math.floor(wi / nrm * 1.0e9)) / 1.0e9 for wi in w]
        w = matvec(v)
        lam_micro = math.floor(
            float(sum(math.floor(vi * wi * 1.0e12) for vi, wi in zip(v, w)))
            / 1.0e6
        )
        tr_micro = math.floor(float(sum(cn[j][j] for j in range(D))) / 1.0e3)
        jstar = max(range(D), key=lambda j: (abs(v[j]), -j))
        sgn = 1.0 if v[jstar] >= 0 else -1.0
        return [sgn * vi for vi in v], lam_micro, tr_micro

    def test_python_differential_exact(self, spark, sf_dir):
        """The Spark loadings, Rayleigh micro-units and trace must equal
        the python replay EXACTLY — every number in the pipeline is
        either an exact BIGINT or a double produced by the same IEEE
        tree, so there is no tolerance to grant."""
        from modevetl_spark.queries.wave11 import embedding_pca

        want_v, want_lam, want_tr = self._py_replay(sf_dir)
        rows = sorted(
            embedding_pca(spark, sf_dir).collect(), key=lambda r: r["dim"]
        )
        assert len(rows) == _PCA_D
        assert rows[0]["lambda_micro"] == want_lam
        assert rows[0]["trace_micro"] == want_tr
        for r in rows:
            assert r["loading"] == want_v[r["dim"] - 1], r["dim"]

    def test_rayleigh_bounded_by_numpy_top_eigenvalue(self, spark, sf_dir):
        """Semantics gate: the Rayleigh quotient of ANY unit vector is
        ≤ the top eigenvalue of the matrix (a theorem, asserted against
        numpy's eigh on the very covariance the query built), and after
        {T} iterations it must have climbed well past the average
        eigenvalue (= trace/D): the iteration is genuinely converging
        toward the dominant direction, not wandering."""
        import numpy as np

        from modevetl_spark.queries.wave11 import embedding_pca

        rows = sorted(
            embedding_pca(spark, sf_dir).collect(), key=lambda r: r["dim"]
        )
        lam = rows[0]["lambda_micro"] / 1.0e6
        tr = rows[0]["trace_micro"] / 1.0e6
        v = np.array([r["loading"] for r in rows])
        # unit norm (9dp-quantized, so within 64 quanta)
        assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-6
        # sign canonicalization: the largest-|.| component is >= 0
        jstar = int(np.argmax(np.abs(v)))
        assert v[jstar] >= 0
        # rebuild the covariance like the query and eigendecompose
        import duckdb

        raw = duckdb.connect().execute(
            f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
        ).fetchall()
        X = np.array([r[0] for r in raw], dtype=np.float64)
        C = np.cov(X, rowvar=False, bias=True)
        top = float(np.linalg.eigvalsh(C)[-1])
        assert lam <= top + 1e-4
        assert lam > tr / _PCA_D  # beats the average eigenvalue
        assert 0.0 < rows[0]["explained_share"] <= 1.0

    def test_plan_single_corpus_pass_arrow_fold(self, spark, sf_dir):
        """r13 shape: the corpus pass is ONE pruned scan feeding ONE
        MapInArrow fold (the 31M-row explode + JVM decimal fold is
        gone), with exactly the parallelism repartition and the
        D²-bounded partial-merge exchange; everything downstream is the
        driver-side bounded replay, so the returned DF carries no join
        or shuffle at all."""
        from modevetl_spark.queries.wave11 import (
            _pca_partials_df,
            embedding_pca,
        )
        from tests.test_plans import plan

        pp = plan(_pca_partials_df(spark, sf_dir))
        assert pp.count("MapInArrow") == 2  # one node: tree + detail
        # formatted mode prints each operator twice (tree + detail):
        # 2 Exchange nodes -> at most 4 mentions
        assert pp.count("Exchange") <= 4
        assert "Generate" not in pp  # the explode is gone
        assert "ReadSchema: struct<embedding" in pp  # scan pruned
        assert "SortMergeJoin" not in pp
        assert "CartesianProduct" not in pp
        p = plan(embedding_pca(spark, sf_dir))
        assert "SortMergeJoin" not in p
        assert "CartesianProduct" not in p
        assert "Exchange" not in p


class TestSourceJsDivergence:
    def test_python_differential_textbook_jsd(self, spark, sf_dir):
        """Semantics gate: the engine value must equal the TEXTBOOK
        Jensen-Shannon divergence computed directly in probability
        space (no folds, no algebraic zero-mass shortcut) — proving
        the integer-log2 chains + the (B − Σb) absent-token trick ARE
        JSD(p_source ‖ p_corpus), to well under the 6dp the query
        emits."""
        import duckdb

        from modevetl_spark.queries.wave11 import source_js_divergence

        rows = duckdb.connect().execute(
            f"SELECT source, text FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
        sw: dict = {}
        for src, text in rows:
            for t in text.lower().split():
                if t:
                    sw[(src, t)] = sw.get((src, t), 0) + 1
        a_tot: dict = {}
        b: dict = {}
        for (src, t), c in sw.items():
            a_tot[src] = a_tot.get(src, 0) + c
            b[t] = b.get(t, 0) + c
        n = sum(b.values())
        want = {}
        for src in a_tot:
            A = a_tot[src]
            klp = 0.0
            klq = 0.0
            for t, bc in b.items():
                q_ = bc / n
                p_ = sw.get((src, t), 0) / A
                m_ = (p_ + q_) / 2
                if p_ > 0:
                    klp += p_ * math.log2(p_ / m_)
                klq += q_ * math.log2(q_ / m_)
            want[src] = (klp + klq) / 2
        got = {
            r["source"]: r
            for r in source_js_divergence(spark, sf_dir).collect()
        }
        assert set(got) == set(want)
        for src in want:
            assert abs(got[src]["js_bits"] - want[src]) < 1e-5, src
            assert 0.0 <= got[src]["js_bits"] <= 1.0, src
            assert got[src]["n_tokens"] == a_tot[src]

    def test_plan_one_scan_margins_broadcast(self, spark, sf_dir):
        from modevetl_spark.queries.wave11 import source_js_divergence
        from tests.test_plans import plan

        p = plan(source_js_divergence(spark, sf_dir))
        assert "Python" not in p
        assert "SortMergeJoin" not in p
        assert "BroadcastHashJoin" in p


class TestMineHardNegatives:
    def test_python_differential(self, spark, sf_dir):
        """Replay the triplet picks from first principles (python-float
        cosine with the engines' fold order, 6dp scores, id tie-break):
        pos/neg ids must match exactly, similarities and margin to the
        6dp contract."""
        import duckdb

        from modevetl_spark.queries.wave11 import _HNM_Q, mine_hard_negatives

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
        from modevetl_spark.queries.wave11 import _HNM_Q, mine_hard_negatives

        rows = mine_hard_negatives(spark, sf_dir).collect()
        assert len(rows) == _HNM_Q
        for r in rows:
            assert -1.0 <= r["neg_sim"] <= 1.0 and -1.0 <= r["pos_sim"] <= 1.0
            assert r["pos_id"] != r["neg_id"]

    def test_plan_one_scan_one_window(self, spark, sf_dir):
        from modevetl_spark.queries.wave11 import mine_hard_negatives
        from tests.test_plans import plan

        p = plan(mine_hard_negatives(spark, sf_dir))
        assert "Python" not in p
        assert "SortMergeJoin" not in p
        assert p.count("Window [row_number()") <= 1  # both picks, ONE window


class TestMixtureTemperature:
    def test_python_differential_exact_integers(self, spark, sf_dir):
        """Exact replay: token counts, one sqrt per source floored to
        nano BIGINTs, integer shares — every output column must match
        the python integers exactly (the post-sqrt pipeline is pure
        integer arithmetic, so there is no tolerance to grant)."""
        import duckdb

        from modevetl_spark.queries.wave11 import (
            _TMPX_BUDGET,
            mixture_temperature,
        )

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
        from modevetl_spark.queries.wave11 import mixture_temperature

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
        from modevetl_spark.queries.wave11 import mixture_temperature
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

        from modevetl_spark.queries.wave11 import _TMPX_ORACLE, mixture_temperature

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


class TestRound9Mirror:
    """Pin the JVM rounding semantics the driver-side replays mirror.

    Spark's ROUND(double, n) and CAST(double AS DECIMAL) both route
    through BigDecimal.valueOf(d) = Double.toString(d): HALF_UP on the
    double's SHORTEST decimal representation, not its exact binary
    expansion. Probed on this build (Spark 4.1.2 / JDK 17): a 16k-value
    battery with 8k half-ulp boundary doubles matched repr-based HALF_UP
    16000/16000 while exact-expansion HALF_UP mismatched 2284. The two
    pinned values below are battery members verified against Spark SQL:
      round(CAST(7.5e-09 AS DOUBLE), 9)         = 8e-09
      round(CAST(0.1234567885 AS DOUBLE), 9)    = 0.123456789
    (their exact expansions are ...49999, which would round DOWN)."""

    def test_round9_uses_shortest_repr(self):
        from modevetl_spark.queries.wave11 import _round9

        assert _round9(7.5e-09) == 8e-09
        assert _round9(0.1234567885) == 0.123456789
        # non-boundary values are unaffected
        assert _round9(0.0128733049) == 0.012873305
        assert _round9(1.0 / 3.0) == 0.333333333

    def test_dec9_uses_shortest_repr(self):
        import decimal

        from modevetl_spark.queries.wave11 import _dec9

        assert _dec9(7.5e-09) == decimal.Decimal("8E-9")
        assert _dec9(0.1234567885) == decimal.Decimal("0.123456789")

    def test_nan_inf_passthrough(self):
        import math

        from modevetl_spark.queries.wave11 import _round9

        assert math.isnan(_round9(float("nan")))
        assert _round9(float("inf")) == float("inf")
        assert _round9(None) is None
