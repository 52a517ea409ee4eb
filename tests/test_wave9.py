"""Unit tests for fifteen keys that live in their family modules
(queries/retrieval.py, sketches.py, mining.py, extras.py, pipeline.py,
ml.py, warehouse.py, corpus.py, llm.py): MMR greedy-selection semantics
on adversarial shortlists, the Bloom filter's no-false-negative
guarantee under a deliberately undersized bit budget, hand-built
exactness fixtures for every operator, plan-shape gates, and the
registration contract. Moving each class to its family's test file is
open work (ROADMAP item 2).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from modevetl_spark.queries.retrieval import _MMR_K, _MMR_LAMBDA, sim_mmr_rerank
from modevetl_spark.queries.sketches import _BLOOM_M, filter_bloom


class TestMmrRerank:
    def test_fixture_shape_and_rule(self, spark, sf_dir):
        rows = sim_mmr_rerank(spark, sf_dir).collect()
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r["query_id"], {})[r["pick_rank"]] = r
        assert len(by_q) == 10
        for picks in by_q.values():
            assert sorted(picks) == [1, 2, 3]
            # distinct picks, and pick 1 is the pure-relevance argmax
            ids = {p["neighbor_id"] for p in picks.values()}
            assert len(ids) == 3
            assert picks[1]["mmr_score"] == _MMR_LAMBDA * picks[1]["rel"]
            # later picks never beat the unpenalized first score
            assert picks[2]["mmr_score"] <= picks[1]["mmr_score"] + 1e-12
            assert picks[3]["mmr_score"] <= picks[1]["mmr_score"] + 1e-12

    def test_duplicates_forced_out(self, spark, tmp_path):
        """A shortlist whose two most-relevant candidates are identical
        vectors: pure top-3 would take both; MMR must take only one of
        the pair and reach for the diverse axes. Query [1,1,1,0] sees
        e0/e0/e1/e2 at equal relevance (1/sqrt(3)): pick 1 is the first
        e0 copy (id tie-break), and the sim=1 penalty (0.3 under
        lambda=0.7) then drops the twin's score to 0.7/sqrt(3)-0.3 ~
        0.104, far below the orthogonal candidates' untouched 0.404."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        e0 = [1.0, 0.0, 0.0, 0.0]
        e1 = [0.0, 1.0, 0.0, 0.0]
        e2 = [0.0, 0.0, 1.0, 0.0]
        fillers = [
            [-1.0, 0.0, 0.0, 0.0],
            [0.0, -1.0, 0.0, 0.0],
            [0.0, 0.0, -1.0, 0.0],
            [0.1, -0.9, 0.0, 0.0],
        ]
        q = [1.0, 1.0, 1.0, 0.0]
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([0, 100, 101, 104, 105, 102, 103, 106, 107]),
                    "embedding": pa.array(
                        [q, e0, e0, e1, e2] + fillers, type=pa.list_(pa.float32())
                    ),
                    "label": pa.array([0] * 9, type=pa.int32()),
                }
            ),
            str(tmp_path / "embeddings.parquet"),
        )
        rows = sim_mmr_rerank(spark, str(tmp_path)).collect()
        picks = [
            r["neighbor_id"]
            for r in sorted(rows, key=lambda r: r["pick_rank"])
            if r["query_id"] == 0
        ]
        assert len(picks) == _MMR_K
        # only ONE of the identical pair {100, 101} survives
        assert len({100, 101} & set(picks)) == 1
        # the orthogonal candidates displace the twin
        assert 104 in picks and 105 in picks

    def test_plan_no_corpus_shuffle_after_shortlist(self, spark, sf_dir):
        from tests.test_plans import plan

        p = plan(sim_mmr_rerank(spark, sf_dir))
        # r13 shape: the greedy chain replays on the driver over the
        # config-bounded shortlist, so the RETURNED plan is the ≤
        # |q|·k-row local relation — no join, no exchange, no window
        # (the corpus-touching work is the shortlist pass and one
        # predicate-pushdown vector fetch at build time)
        assert "SortMergeJoin" not in p
        assert "Exchange" not in p
        assert "Window" not in p
        assert "Join" not in p


class TestFilterBloom:
    def test_fixture_ledger(self, spark, sf_dir):
        r = filter_bloom(spark, sf_dir).collect()[0]
        assert r["no_false_negatives"] is True
        assert r["n_pass"] >= r["n_exact"]  # superset guarantee
        assert r["n_false_pos"] == r["n_pass"] - r["n_exact"]
        assert 0.0 <= r["fp_rate"] <= 1.0
        assert r["m"] == _BLOOM_M

    def test_no_false_negatives_even_saturated(self, spark, tmp_path):
        """Saturate the filter (build keys >> m): fp_rate degrades
        toward 1 but the superset guarantee must hold exactly."""
        n = 30000
        orders = pd.DataFrame(
            {
                "o_custkey": range(n),
                "o_orderpriority": ["1-URGENT" if i % 2 == 0 else "3-MEDIUM" for i in range(n)],
            }
        )
        cust = pd.DataFrame({"c_custkey": range(n)})
        orders.to_parquet(str(tmp_path / "orders.parquet"))
        cust.to_parquet(str(tmp_path / "customer.parquet"))
        r = filter_bloom(spark, str(tmp_path)).collect()[0]
        assert r["no_false_negatives"] is True
        assert r["n_exact"] == n // 2
        assert r["n_pass"] >= r["n_exact"]

    def test_plan_probe_broadcast_pruned(self, spark, sf_dir):
        from tests.test_plans import plan

        p = plan(filter_bloom(spark, sf_dir))
        # membership tests are broadcast semi-joins; the probe side is
        # never sort-merge shuffled
        assert "SortMergeJoin" not in p
        assert "Python" not in p


class TestHeavyHittersGrouped:
    def test_fixture_matches_exact_rule(self, spark, sf_dir):
        from modevetl_spark.queries.sketches import _HHG_DENOM, heavy_hitters_grouped
        from modevetl_spark.operators._util import spread
        from modevetl_spark.operators.text import tokens
        from modevetl_spark.sources.catalog import load

        got = {
            (r["lang"], r["tok"]): r["cnt"]
            for r in heavy_hitters_grouped(spark, sf_dir).collect()
        }
        d = spread(load(spark, sf_dir, "documents"))
        toks = d.where(F.col("lang").isNotNull()).select(
            "lang", F.explode(tokens("text")).alias("tok")
        )
        cnt = toks.groupBy("lang", "tok").count()
        tot = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("n_grp"))
        want = {
            (r["lang"], r["tok"]): r["count"]
            for r in cnt.join(tot, "lang")
            .where(F.col("count") * _HHG_DENOM > F.col("n_grp"))
            .collect()
        }
        assert got == want and len(got) > 0

    def test_group_isolation_and_split_invariance(self, spark):
        """A token overwhelmingly heavy in ONE group must be reported
        for that group only, regardless of how rows are partitioned."""
        from modevetl_spark.operators.sketches import (
            heavy_hitters_grouped_exact,
        )

        rows = (
            [("a", "hot")] * 120
            + [("a", f"z{i}") for i in range(80)]
            + [("b", "hot")] * 2
            + [("b", f"y{i % 25}") for i in range(198)]
        )
        outs = []
        for parts in (1, 7):
            df = spark.createDataFrame(rows, "g string, t string").repartition(
                parts
            )
            got = sorted(
                (r["g"], r["t"], r["cnt"])
                for r in heavy_hitters_grouped_exact(
                    df, "g", "t", k=10, denom=10
                ).collect()
            )
            outs.append(got)
        assert outs[0] == outs[1]
        got = dict(((g, t), c) for g, t, c in outs[0])
        assert got[("a", "hot")] == 120  # 60% of group a
        assert ("b", "hot") not in got  # 1% of group b: not heavy there
        # group b's modal fillers are 198/25 < 10% — nothing qualifies
        assert not any(g == "b" for (g, _), _ in got.items())


class TestKmvGrouped:
    def test_fixture_per_group_contract(self, spark, sf_dir):
        from modevetl_spark.queries.sketches import sketch_group_distinct

        rows = sketch_group_distinct(spark, sf_dir).collect()
        assert len(rows) == 5  # one per priority
        for r in rows:
            assert r["bounds_ok"] is True, r
            assert r["exact_distinct"] > 0

    def test_mixed_regimes_and_partition_invariance(self, spark):
        """One group above k (estimator regime), one below (exact by
        rule) — both correct in the same result, identical under any
        partitioning (duplicate hashes across partitions must not crowd
        out a group's genuine k-th value)."""
        from modevetl_spark.operators.sketches import kmv_distinct_grouped

        k = 32
        rows = [("big", (i * 7919) % 997) for i in range(3000)] + [
            ("small", i % 9) for i in range(300)
        ]
        outs = []
        for parts in (1, 11):
            df = spark.createDataFrame(rows, "g string, v long").repartition(
                parts
            )
            outs.append(
                sorted(
                    map(repr, kmv_distinct_grouped(df, "g", "v", k=k).collect())
                )
            )
        assert outs[0] == outs[1]
        df = spark.createDataFrame(rows, "g string, v long").repartition(11)
        res = {
            r["grp"]: r for r in kmv_distinct_grouped(df, "g", "v", k=k).collect()
        }
        small = res["small"]
        assert small["k"] == 9 and small["est_distinct"] == 9.0
        assert small["rel_err"] == 0.0
        big = res["big"]
        assert big["k"] == k and big["exact_distinct"] == 997


class TestDecayedValue:
    def test_exact_against_fraction_arithmetic(self, spark, sf_dir):
        """The whole aggregate is integer-exact by construction: replay
        it in python with exact rational arithmetic (Fraction) — every
        customer's decayed_micro must match to the last microdollar,
        which no double-based implementation could promise."""
        from fractions import Fraction

        from modevetl_spark.queries.mining import (
            _DECAY_HL_DAYS,
            _DECAY_MAX_W,
            decayed_value,
        )
        from modevetl_spark.sources.catalog import load

        got = {
            r["o_custkey"]: (r["n_orders"], r["decayed_micro"])
            for r in decayed_value(spark, sf_dir).collect()
        }
        rows = load(spark, sf_dir, "orders").select(
            "o_custkey", "o_totalprice", "o_orderdate"
        ).collect()
        anchor = max(r["o_orderdate"] for r in rows)
        want: dict = {}
        for r in rows:
            w = (anchor - r["o_orderdate"]).days // _DECAY_HL_DAYS
            if 0 <= w <= _DECAY_MAX_W:
                cents = round(r["o_totalprice"] * 100)  # exact 2dp money
                n, s = want.get(r["o_custkey"], (0, Fraction(0)))
                want[r["o_custkey"]] = (
                    n + 1,
                    s + Fraction(cents, 100) / 2**w,
                )
        want_micro = {
            ck: (n, int(s * 10**6))  # s has <=12dp: *10^6 then floor
            for ck, (n, s) in want.items()
        }
        assert got == want_micro and len(got) > 50

    def test_plan_pruned_scan_no_shuffle_join(self, spark, sf_dir):
        from modevetl_spark.queries.mining import decayed_value
        from tests.test_plans import plan

        p = plan(decayed_value(spark, sf_dir))
        # one broadcast scalar, one hash agg: no sort-merge join, no
        # Python, and the decay-window filter is in the plan
        assert "SortMergeJoin" not in p
        assert "Python" not in p
        assert "Filter" in p


def test_wave9_keys_registered():
    """The fifteen keys are registered with an oracle for every key
    (their graded evidence is checked registry-wide by
    test_contract.py::test_grading_evidence_current)."""
    from modevetl_spark import queries as Q

    qs, oracle = Q.all_queries(), Q.all_oracle()
    keys = {
        "q_sim_mmr_rerank",
        "q_filter_bloom",
        "q_heavy_hitters_grouped",
        "q_sketch_group_distinct",
        "q_decayed_value",
        "q_sketch_countmin",
        "q_graph_adamic_adar",
        "q_privacy_kanonymity",
        "q_churn_hazard",
        "q_model_calibration",
        "q_sample_reservoir_weighted",
        "q_source_kl_divergence",
        "q_mixture_weights",
        "q_rater_agreement",
        "q_dedup_substring_runs",
    }
    assert keys <= set(oracle)
    assert keys <= set(qs)


class TestCountMin:
    def test_fixture_regime_and_verdicts(self, spark, sf_dir):
        from modevetl_spark.queries.sketches import _CM_K, sketch_countmin

        rows = sketch_countmin(spark, sf_dir).collect()
        assert len(rows) == _CM_K
        assert all(r["never_under"] for r in rows)
        assert all(r["overest"] == r["est_cnt"] - r["exact_cnt"] for r in rows)
        # w < vocabulary forces collisions: the estimator regime must
        # actually be exercised, not vacuously exact
        assert any(r["overest"] > 0 for r in rows)
        assert any(r["overest"] == 0 for r in rows)  # min-of-d helps some

    def test_python_md5_replay_exact(self, spark):
        """The whole sketch is deterministic integer arithmetic on md5
        prefixes: an independent python replay (hashlib) must reproduce
        every bucket mass and every point estimate exactly."""
        import hashlib

        from modevetl_spark.operators.sketches import (
            countmin_estimate,
            countmin_state,
        )

        w, d = 8, 4
        counts = {f"tok{i}": (i * 13) % 29 + 1 for i in range(40)}
        counted = spark.createDataFrame(
            list(counts.items()), "tok string, c long"
        )
        state = countmin_state(counted, "tok", "c", w=w, d=d)
        est = countmin_estimate(state, counted.select("tok"), "tok", w=w, d=d)

        def h(tok: str, j: int) -> int:
            return int(hashlib.md5(tok.encode()).hexdigest()[8 * j : 8 * j + 8], 16) % w

        cm: dict = {}
        for tok, c in counts.items():
            for j in range(d):
                cm[(j, h(tok, j))] = cm.get((j, h(tok, j)), 0) + c
        got_state = {(r["j"], r["b"]): r["mass"] for r in state.collect()}
        assert got_state == cm
        want_est = {
            tok: min(cm[(j, h(tok, j))] for j in range(d)) for tok in counts
        }
        got_est = {r["tok"]: r["est_cnt"] for r in est.collect()}
        assert got_est == want_est
        assert all(got_est[t] >= c for t, c in counts.items())

    def test_null_keys_excluded_from_state(self, spark):
        """Round-9 hardening (the NULL-key advice class, applied
        family-wide): NULL keys hash to d b=NULL bucket rows no
        probe can ever join back to — dead mass that skews any
        total-mass audit. The state from a dirty count table must equal
        the clean one's exactly."""
        from modevetl_spark.operators.sketches import countmin_state

        w, d = 8, 3
        clean = spark.createDataFrame(
            [("x", 3), ("y", 5), ("z", 2)], "k string, c long"
        )
        dirty = clean.unionAll(
            spark.createDataFrame([(None, 11)], "k string, c long")
        )
        sc = {(r["j"], r["b"]): r["mass"] for r in countmin_state(clean, "k", "c", w=w, d=d).collect()}
        sd = {(r["j"], r["b"]): r["mass"] for r in countmin_state(dirty, "k", "c", w=w, d=d).collect()}
        assert sd == sc
        assert sum(sd.values()) == d * 10  # the NULL's 11 carried no mass

    def test_linear_sketch_merges(self, spark):
        """CM is a linear sketch: state(A ⊎ B) == state(A) + state(B)
        bucket-wise — the property that makes it the streaming/shard
        merge choice."""
        from modevetl_spark.operators.sketches import countmin_state

        w, d = 8, 2
        a = spark.createDataFrame(
            [("x", 3), ("y", 5), ("z", 2)], "k string, c long"
        )
        b = spark.createDataFrame(
            [("x", 4), ("w", 7)], "k string, c long"
        )
        sa = {(r["j"], r["b"]): r["mass"] for r in countmin_state(a, "k", "c", w=w, d=d).collect()}
        sb = {(r["j"], r["b"]): r["mass"] for r in countmin_state(b, "k", "c", w=w, d=d).collect()}
        both = a.unionByName(b).groupBy("k").agg(F.sum("c").alias("c"))
        sab = {(r["j"], r["b"]): r["mass"] for r in countmin_state(both, "k", "c", w=w, d=d).collect()}
        merged: dict = {}
        for s in (sa, sb):
            for kk, v in s.items():
                merged[kk] = merged.get(kk, 0) + v
        assert merged == sab

    def test_plan_broadcast_probe_no_python(self, spark, sf_dir):
        from modevetl_spark.queries.sketches import sketch_countmin
        from tests.test_plans import plan

        p = plan(sketch_countmin(spark, sf_dir))
        assert "SortMergeJoin" not in p
        assert "Python" not in p


class TestAdamicAdar:
    def test_fixture_shape_and_invariants(self, spark, sf_dir):
        from modevetl_spark.queries.extras import _AA_TOPK, graph_adamic_adar

        rows = graph_adamic_adar(spark, sf_dir).collect()
        assert len(rows) == _AA_TOPK
        micros = [r["aa_micro"] for r in rows]
        assert micros == sorted(micros, reverse=True)
        for r in rows:
            assert r["part_a"] < r["part_b"]
            assert 0 < r["common_orders"] <= min(r["deg_a"], r["deg_b"])
            assert 0.0 < r["jaccard"] <= 1.0

    def test_exact_scores_on_powers_of_two(self, spark, tmp_path):
        """Baskets of size 2 and 4 make every AA weight exact (1/log2
        is 1.0 and 0.5), so the micro-unit scores are hand-checkable
        integers: AA(1,2) spans both orders = 1.5 -> 1500000; the pairs
        only in the size-4 basket score 0.5 -> 500000."""
        from modevetl_spark.queries.extras import graph_adamic_adar

        rows = [(10, p) for p in (1, 2)] + [(20, p) for p in (1, 2, 3, 4)]
        pd.DataFrame(
            rows, columns=["l_orderkey", "l_partkey"]
        ).to_parquet(str(tmp_path / "lineitem.parquet"))
        got = {
            (r["part_a"], r["part_b"]): r
            for r in graph_adamic_adar(spark, str(tmp_path)).collect()
        }
        assert got[(1, 2)]["aa_micro"] == 1_500_000
        assert got[(1, 2)]["common_orders"] == 2
        assert got[(1, 2)]["jaccard"] == 1.0  # deg 2 + 2 - 2 common
        for pair in [(1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]:
            assert got[pair]["aa_micro"] == 500_000
            assert got[pair]["common_orders"] == 1
        assert got[(3, 4)]["jaccard"] == 1.0  # both only in order 20
        assert len(got) == 6

    def test_plan_broadcast_degrees_no_python(self, spark, sf_dir):
        from modevetl_spark.queries.extras import graph_adamic_adar
        from tests.test_plans import plan

        p = plan(graph_adamic_adar(spark, sf_dir))
        assert "Python" not in p
        # dimension-sized degree tables must broadcast into the scoring
        # join (the pair self-join itself is legitimately shuffled)
        assert "BroadcastHashJoin" in p


class TestKAnonymity:
    def test_fixture_ladder_invariants(self, spark, sf_dir):
        from modevetl_spark.queries.pipeline import _KANON_K, privacy_kanonymity

        rows = privacy_kanonymity(spark, sf_dir).collect()
        assert len(rows) > 0
        assert {r["level"] for r in rows} <= {0, 1, 3}
        for r in rows:
            assert r["risky"] == (r["class_size"] < _KANON_K)
            assert r["n_rows"] == r["class_size"] * r["n_classes"]
            assert 0.0 < r["row_share"] <= 1.0
        # every level partitions the same population
        by_level: dict = {}
        for r in rows:
            by_level[r["level"]] = by_level.get(r["level"], 0) + r["n_rows"]
        assert len(set(by_level.values())) == 1
        # generalization only merges classes: the minimum class size is
        # weakly increasing up the ladder
        mins = {
            lv: min(r["class_size"] for r in rows if r["level"] == lv)
            for lv in by_level
        }
        assert mins.get(0, 1) <= mins.get(1, 10**9)
        assert mins.get(1, 1) <= mins.get(3, 10**9)

    def test_hand_built_classes(self, spark, tmp_path):
        """Four customers, two QI classes at level 0 that merge at each
        generalization step — the histogram is hand-checkable."""
        from modevetl_spark.queries.pipeline import privacy_kanonymity

        pd.DataFrame(
            {
                "c_custkey": [1, 2, 3, 4],
                "c_nationkey": [7, 7, 7, 8],
                "c_mktsegment": ["AUTO", "AUTO", "AUTO", "AUTO"],
                "c_acctbal": [100.0, 200.0, 1500.0, 100.0],
            }
        ).astype({"c_nationkey": "int32"}).to_parquet(str(tmp_path / "customer.parquet"))
        got = {
            (r["level"], r["class_size"]): (r["n_classes"], r["n_rows"])
            for r in privacy_kanonymity(spark, str(tmp_path)).collect()
        }
        # level 0: (7,AUTO,0)x2, (7,AUTO,1)x1, (8,AUTO,0)x1
        assert got[(0, 2)] == (1, 2) and got[(0, 1)] == (2, 2)
        # level 1 (balance generalized): (7,AUTO)x3, (8,AUTO)x1
        assert got[(1, 3)] == (1, 3) and got[(1, 1)] == (1, 1)
        # level 3 (nation too): (AUTO)x4
        assert got[(3, 4)] == (1, 4)
        assert len(got) == 5

    def test_plan_single_scan_no_python(self, spark, sf_dir):
        from modevetl_spark.queries.pipeline import privacy_kanonymity
        from tests.test_plans import plan

        p = plan(privacy_kanonymity(spark, sf_dir))
        assert "Python" not in p
        assert "SortMergeJoin" not in p
        # the ladder's rollup ran eagerly behind the checkpoint; the
        # visible plan must NOT rescan customer (zero file scans — both
        # branches read the materialized class table)
        assert "customer" not in p


class TestChurnHazard:
    def test_fixture_life_table_identities(self, spark, sf_dir):
        from modevetl_spark.queries.mining import churn_hazard

        rows = sorted(
            churn_hazard(spark, sf_dir).collect(),
            key=lambda r: r["order_rank"],
        )
        assert rows and rows[0]["order_rank"] == 1
        for r in rows:
            assert r["n_churned"] + r["n_survived"] == r["n_at_risk"]
            assert 0.0 <= r["hazard"] <= 1.0
        for a, b in zip(rows, rows[1:]):
            # those at risk at rank j+1 are exactly the survivors of j
            assert b["n_at_risk"] == a["n_survived"]
            assert b["survival"] <= a["survival"]

    def test_hand_built_curve(self, spark, tmp_path):
        """Order counts {1, 2, 2, 3}: the whole life table is
        hand-checkable, including the exact hazard/survival ratios."""
        from modevetl_spark.queries.mining import churn_hazard

        counts = {10: 1, 20: 2, 30: 2, 40: 3}
        rows = [
            (ck, i) for ck, n in counts.items() for i in range(n)
        ]
        pd.DataFrame(
            rows, columns=["o_custkey", "o_orderkey"]
        ).to_parquet(str(tmp_path / "orders.parquet"))
        got = {
            r["order_rank"]: r
            for r in churn_hazard(spark, str(tmp_path)).collect()
        }
        assert len(got) == 3
        assert (got[1]["n_at_risk"], got[1]["n_churned"]) == (4, 1)
        assert got[1]["hazard"] == 0.25 and got[1]["survival"] == 0.75
        assert (got[2]["n_at_risk"], got[2]["n_churned"]) == (3, 2)
        assert got[3]["n_at_risk"] == 1 and got[3]["survival"] == 0.0

    def test_plan_broadcast_grid_no_window(self, spark, sf_dir):
        from modevetl_spark.queries.mining import churn_hazard
        from tests.test_plans import plan

        p = plan(churn_hazard(spark, sf_dir))
        assert "Python" not in p
        assert "SortMergeJoin" not in p
        assert "Window" not in p


class TestModelCalibration:
    def test_fixture_diagram_and_ece_replay(self, spark, sf_dir):
        from modevetl_spark.queries.ml import model_calibration

        rows = model_calibration(spark, sf_dir).collect()
        assert len(rows) == 10
        assert len({r["ece_micro"] for r in rows}) == 1
        n_test_total = sum(r["n_test"] for r in rows)
        for r in rows:
            assert r["conf"] == r["pos_train"] / r["n_train"]
            assert r["acc"] == r["pos_test"] / r["n_test"]
            assert abs(r["gap"] - (r["acc"] - r["conf"])) == 0.0
        # replay the 9dp term fold exactly from the integer counts
        acc9 = sum(
            round(
                abs(
                    r["pos_test"] / r["n_test"]
                    - r["pos_train"] / r["n_train"]
                )
                * (r["n_test"] / n_test_total)
                * 10**9
            )
            for r in rows
        )
        assert rows[0]["ece_micro"] == acc9 * 10**6 // 10**9

    def test_all_positive_is_perfectly_calibrated(self, spark, tmp_path):
        """Every order urgent: conf = acc = 1 in every bin, so every gap
        is exactly 0 and ECE is exactly 0."""
        from modevetl_spark.queries.ml import model_calibration

        pd.DataFrame(
            {
                "o_orderkey": range(500),
                "o_totalprice": [1000.0 * (i % 300) for i in range(500)],
                "o_orderpriority": ["1-URGENT"] * 500,
            }
        ).to_parquet(str(tmp_path / "orders.parquet"))
        rows = model_calibration(spark, str(tmp_path)).collect()
        assert rows
        for r in rows:
            assert r["conf"] == 1.0 and r["acc"] == 1.0
            assert r["gap"] == 0.0 and r["ece_micro"] == 0

    def test_plan_one_exchange_no_window(self, spark, sf_dir):
        from modevetl_spark.queries.ml import model_calibration
        from tests.test_plans import plan

        p = plan(model_calibration(spark, sf_dir))
        assert "Python" not in p
        assert "SortMergeJoin" not in p
        assert "Window" not in p


class TestWeightedReservoir:
    def test_fixture_replay_and_gradient(self, spark, sf_dir):
        """Every selected row's priority must replay exactly from
        hashlib (min of w 32-bit md5 prefixes), and the weight mix must
        show the A-ES gradient: urgent (w=5) orders land far more often
        than low (w=1) orders."""
        import hashlib

        from modevetl_spark.queries.warehouse import _WRES_K, sample_reservoir_weighted

        rows = sample_reservoir_weighted(spark, sf_dir).collect()
        assert len(rows) == _WRES_K

        def pri(key: int, w: int) -> int:
            return min(
                int(
                    hashlib.md5(f"{key}#{i}".encode()).hexdigest()[:8], 16
                )
                for i in range(1, w + 1)
            )

        counts: dict = {}
        for r in rows:
            assert 1 <= r["weight"] <= 5
            assert r["priority"] == pri(r["o_orderkey"], r["weight"])
            counts[r["weight"]] = counts.get(r["weight"], 0) + 1
        assert counts.get(5, 0) > counts.get(1, 0) > 0

    def test_hand_built_exact_selection(self, spark, tmp_path):
        """400 orders, k=200: the cut is real, and the exact selected
        set + ordering replays from an independent python A-ES."""
        import hashlib

        from modevetl_spark.queries.warehouse import _WRES_K, sample_reservoir_weighted

        n = 400
        prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        pd.DataFrame(
            {
                "o_orderkey": range(n),
                "o_orderpriority": [prios[i % 5] for i in range(n)],
                "o_totalprice": [float(i) for i in range(n)],
            }
        ).to_parquet(str(tmp_path / "orders.parquet"))

        def pri(key: int, w: int) -> int:
            return min(
                int(
                    hashlib.md5(f"{key}#{i}".encode()).hexdigest()[:8], 16
                )
                for i in range(1, w + 1)
            )

        want = sorted(
            ((pri(k, 5 - (k % 5)), k, 5 - (k % 5)) for k in range(n))
        )[:_WRES_K]
        got = [
            (r["priority"], r["o_orderkey"], r["weight"])
            for r in sample_reservoir_weighted(spark, str(tmp_path)).collect()
        ]
        assert got == want

    def test_plan_takeordered_no_exchange(self, spark, sf_dir):
        from modevetl_spark.queries.warehouse import sample_reservoir_weighted
        from tests.test_plans import plan

        p = plan(sample_reservoir_weighted(spark, sf_dir))
        # ORDER BY + LIMIT must compile to per-task k-row heaps merged
        # on the driver — one streaming scan, zero shuffles
        assert "TakeOrderedAndProject" in p
        assert "Exchange" not in p
        assert "Python" not in p


class TestSourceKL:
    def test_fixture_nonneg_and_shape(self, spark, sf_dir):
        from modevetl_spark.queries.corpus import source_kl_divergence

        rows = source_kl_divergence(spark, sf_dir).collect()
        assert len(rows) == 20
        for r in rows:
            # KL >= 0 (Gibbs); the 9dp term rounding cannot push a real
            # corpus below zero
            assert r["kl_bits"] >= 0.0
            assert r["n_tokens"] > 0 and r["vocab"] > 0
            assert r["vocab"] <= r["n_tokens"]

    def test_identical_distributions_give_zero(self, spark, tmp_path):
        """Two sources speaking the exact corpus distribution: every
        log term is exactly 0, so KL is exactly 0 for both."""
        from modevetl_spark.queries.corpus import source_kl_divergence

        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": ["x y x y", "x y x y"],
                "source": ["srcA", "srcB"],
            }
        ).to_parquet(str(tmp_path / "documents.parquet"))
        got = {
            r["source"]: r
            for r in source_kl_divergence(spark, str(tmp_path)).collect()
        }
        assert got["srcA"]["kl_bits"] == 0.0
        assert got["srcB"]["kl_bits"] == 0.0
        assert got["srcA"]["n_tokens"] == 4 and got["srcA"]["vocab"] == 2

    def test_disjoint_vocabularies_give_one_bit(self, spark, tmp_path):
        """Two equal-mass sources with disjoint vocabularies: each
        source's tokens are exactly 2x over-represented vs the corpus,
        so KL = log2(2) = 1 bit exactly, via integer-arg log2 terms."""
        from modevetl_spark.queries.corpus import source_kl_divergence

        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": ["a a a", "b b b"],
                "source": ["srcA", "srcB"],
            }
        ).to_parquet(str(tmp_path / "documents.parquet"))
        got = {
            r["source"]: r["kl_bits"]
            for r in source_kl_divergence(spark, str(tmp_path)).collect()
        }
        assert got == {"srcA": 1.0, "srcB": 1.0}

    def test_plan_single_fact_scan_behind_checkpoint(self, spark, sf_dir):
        from modevetl_spark.queries.corpus import source_kl_divergence
        from tests.test_plans import plan

        p = plan(source_kl_divergence(spark, sf_dir))
        # the (source, token) agg ran eagerly behind the checkpoint:
        # both marginals and the term join read the materialized table,
        # never the documents parquet (zero fact rescans)
        assert "documents" not in p
        assert "SortMergeJoin" not in p
        assert "Python" not in p
        assert "BroadcastHashJoin" in p


class TestMixtureWeights:
    def test_fixture_integer_identities(self, spark, sf_dir):
        from modevetl_spark.queries.pipeline import (
            _MIX_BUDGET_X,
            _MIX_SHARES_BP,
            mixture_weights,
        )

        rows = mixture_weights(spark, sf_dir).collect()
        assert len(rows) == 20
        budget = _MIX_BUDGET_X * sum(r["avail_tokens"] for r in rows)
        for r in rows:
            assert r["share_bp"] == _MIX_SHARES_BP[r["source"]]
            assert r["required_tokens"] == budget * r["share_bp"] // 10000
            assert (
                r["rate_ppm"]
                == r["required_tokens"] * 1_000_000 // r["avail_tokens"]
            )
            assert r["epochs"] == -(-r["required_tokens"] // r["avail_tokens"])
            assert r["deficit_tokens"] == max(
                r["required_tokens"] - r["avail_tokens"], 0
            )
        # the target mixture is deliberately non-uniform: both regimes
        # must be exercised at every SF
        assert any(r["rate_ppm"] < 1_000_000 for r in rows)
        assert any(r["rate_ppm"] > 1_000_000 for r in rows)
        assert any(r["epochs"] > 1 for r in rows)

    def test_hand_built_plan_exact(self, spark, tmp_path):
        """Two sources (10 vs 2000 tokens) force the upsample regime on
        the high-share tiny source; every output is hand-computed."""
        from modevetl_spark.queries.pipeline import mixture_weights

        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": ["t " * 10, "u " * 2000],
                "source": ["src0", "src19"],
            }
        ).to_parquet(str(tmp_path / "documents.parquet"))
        got = {
            r["source"]: r
            for r in mixture_weights(spark, str(tmp_path)).collect()
        }
        assert set(got) == {"src0", "src19"}
        # budget = 2 * 2010 = 4020; src0 share 900bp, src19 175bp
        r0 = got["src0"]
        assert (r0["avail_tokens"], r0["required_tokens"]) == (10, 361)
        assert r0["rate_ppm"] == 36_100_000
        assert r0["epochs"] == 37 and r0["deficit_tokens"] == 351
        r19 = got["src19"]
        assert (r19["avail_tokens"], r19["required_tokens"]) == (2000, 70)
        assert r19["rate_ppm"] == 35_000
        assert r19["epochs"] == 1 and r19["deficit_tokens"] == 0

    def test_plan_bounded_after_one_agg(self, spark, sf_dir):
        from modevetl_spark.queries.pipeline import mixture_weights
        from tests.test_plans import plan

        p = plan(mixture_weights(spark, sf_dir))
        assert "SortMergeJoin" not in p
        assert "Python" not in p
        assert "Window" not in p
        assert "BroadcastHashJoin" in p
        # the token-mass agg ran eagerly behind the checkpoint; neither
        # the budget scalar nor the plan join may rescan the fact
        assert "documents" not in p


class TestRaterAgreement:
    def test_fixture_confusion_identities(self, spark, sf_dir):
        from modevetl_spark.queries.pipeline import rater_agreement

        rows = rater_agreement(spark, sf_dir).collect()
        assert len(rows) == 5
        for r in rows:
            assert (
                r["n11"] + r["n10"] + r["n01"] + r["n00"] == r["n_docs"]
            )
            assert 0.0 <= r["agree_rate"] <= 1.0
            if r["kappa"] is not None:
                assert r["kappa"] <= 1.0
                # kappa replay from the integer confusion matrix
                n = r["n_docs"]
                pe = (r["n11"] + r["n10"]) * (r["n11"] + r["n01"]) + (
                    r["n01"] + r["n00"]
                ) * (r["n10"] + r["n00"])
                assert r["kappa"] == (n * (r["n11"] + r["n00"]) - pe) / (
                    n * n - pe
                )

    def test_hand_built_kappa_poles(self, spark, tmp_path):
        """Three hand-built languages hit the three poles: perfect
        agreement (kappa=1), exact independence (kappa=0), and the
        degenerate single-cell matrix (kappa=NULL, guarded)."""
        from modevetl_spark.queries.pipeline import rater_agreement

        good_both = "the " * 60  # A: 60>=56; B: 60 stop, 60*16>=60
        bad_both = "zz"  # 1 token, 0 stopwords
        a_only = "zz " * 60  # 60 tokens, 0 stopwords
        b_only = "the"  # 1 token, 1 stopword: 16 >= 1
        docs = (
            [("pp", good_both)] * 2
            + [("pp", bad_both)] * 2
            + [("ii", good_both), ("ii", a_only), ("ii", b_only),
               ("ii", bad_both)]
            + [("dd", good_both)] * 3
        )
        pd.DataFrame(
            {
                "doc_id": range(len(docs)),
                "lang": [lang for lang, _ in docs],
                "text": [t for _, t in docs],
            }
        ).to_parquet(str(tmp_path / "documents.parquet"))
        got = {
            r["lang"]: r
            for r in rater_agreement(spark, str(tmp_path)).collect()
        }
        assert got["pp"]["kappa"] == 1.0 and got["pp"]["agree_rate"] == 1.0
        assert got["ii"]["kappa"] == 0.0 and got["ii"]["agree_rate"] == 0.5
        assert got["dd"]["kappa"] is None and got["dd"]["agree_rate"] == 1.0
        assert (got["ii"]["n11"], got["ii"]["n10"],
                got["ii"]["n01"], got["ii"]["n00"]) == (1, 1, 1, 1)

    def test_plan_one_agg_no_join(self, spark, sf_dir):
        from modevetl_spark.queries.pipeline import rater_agreement
        from tests.test_plans import plan

        p = plan(rater_agreement(spark, sf_dir))
        # row-local labeler predicates + one hash agg: no join of any
        # kind, no window, no Python
        assert "Join" not in p
        assert "Window" not in p
        assert "Python" not in p


class TestWeightedReservoirMalformed:
    def test_weight_clamped_to_one(self, spark, tmp_path):
        """A malformed priority digit >= 6 would give w <= 0, where
        Spark's sequence(1, w) runs DESCENDING while DuckDB's
        range(1, w+1) is empty -> NULL: the clamp pins both engines to
        w = 1 (single replica hash), keeping the row sampleable."""
        import hashlib

        from modevetl_spark.queries.warehouse import sample_reservoir_weighted

        pd.DataFrame(
            {
                "o_orderkey": [1, 2, 3],
                "o_orderpriority": ["9-BOGUS", "6-ZERO", "1-URGENT"],
                "o_totalprice": [1.0, 2.0, 3.0],
            }
        ).to_parquet(str(tmp_path / "orders.parquet"))
        rows = {
            r["o_orderkey"]: r
            for r in sample_reservoir_weighted(spark, str(tmp_path)).collect()
        }
        assert len(rows) == 3
        assert rows[1]["weight"] == 1 and rows[2]["weight"] == 1
        assert rows[3]["weight"] == 5
        for k in (1, 2):
            assert rows[k]["priority"] == int(
                hashlib.md5(f"{k}#1".encode()).hexdigest()[:8], 16
            )


class TestMixtureWeightsZeroMass:
    def test_zero_mass_source_filtered(self, spark, tmp_path):
        """A source whose every document is empty has no sampling rate
        (division by zero in both engines): it is filtered, and its
        zero mass does not perturb the budget."""
        from modevetl_spark.queries.pipeline import mixture_weights

        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": ["t " * 100, "", "   "],
                "source": ["src0", "src1", "src1"],
            }
        ).to_parquet(str(tmp_path / "documents.parquet"))
        rows = mixture_weights(spark, str(tmp_path)).collect()
        assert {r["source"] for r in rows} == {"src0"}
        # budget = 2 * 100; src0 share 900bp -> required 18
        assert rows[0]["required_tokens"] == 18


class TestSubstringRuns:
    def test_fixture_run_invariants(self, spark, sf_dir):
        from modevetl_spark.queries.llm import _RUNS_N, dedup_substring_runs

        rows = dedup_substring_runs(spark, sf_dir).collect()
        assert len(rows) > 0
        for r in rows:
            assert r["n_runs"] >= 1
            assert r["longest_run"] >= _RUNS_N
            assert r["longest_run"] <= r["dup_tokens"] <= r["n_tokens"]
            assert r["dup_ratio"] == r["dup_tokens"] / r["n_tokens"]

    def test_hand_built_runs_exact(self, spark, tmp_path):
        """Three constructions pin the interval algebra: a 10-token
        passage shared across two docs merges its three overlapping
        duplicated grams into ONE 10-token run (union, not 3x8); a doc
        repeating an 8-token block at gap > 8 yields TWO disjoint
        8-token runs; a fully unique doc is absent."""
        from modevetl_spark.queries.llm import dedup_substring_runs

        P = " ".join(f"p{i}" for i in range(10))
        Q = " ".join(f"q{i}" for i in range(8))
        docs = {
            0: P + " " + " ".join(f"a{i}" for i in range(10)),
            1: " ".join(f"b{i}" for i in range(10)) + " " + P,
            2: Q + " " + " ".join(f"c{i}" for i in range(9)) + " " + Q,
            3: " ".join(f"d{i}" for i in range(30)),
        }
        pd.DataFrame(
            {"doc_id": list(docs), "text": list(docs.values())}
        ).to_parquet(str(tmp_path / "documents.parquet"))
        got = {
            r["doc_id"]: r
            for r in dedup_substring_runs(spark, str(tmp_path)).collect()
        }
        assert set(got) == {0, 1, 2}
        for k in (0, 1):
            r = got[k]
            assert (r["n_tokens"], r["n_runs"]) == (20, 1)
            assert r["dup_tokens"] == 10 and r["longest_run"] == 10
            assert r["dup_ratio"] == 0.5
        r = got[2]
        assert (r["n_tokens"], r["n_runs"]) == (25, 2)
        assert r["dup_tokens"] == 16 and r["longest_run"] == 8
        assert r["dup_ratio"] == 16 / 25

    def test_plan_doc_keyed_windows_no_python(self, spark, sf_dir):
        from modevetl_spark.queries.llm import dedup_substring_runs
        from tests.test_plans import plan

        p = plan(dedup_substring_runs(spark, sf_dir))
        assert "Python" not in p
        assert "BroadcastNestedLoopJoin" not in p
        # run assembly must ride doc-partitioned windows (the registry
        # gate separately proves no global window anywhere)
        assert "Window" in p
