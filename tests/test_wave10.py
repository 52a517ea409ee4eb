"""Unit tests for the wave10 keys (queries/wave10.py): full python
replays of the deterministic sketches, merge laws, plan-shape gates, and
the registration contract.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F

from modevetl_spark.queries.wave10 import QUERIES


def test_wave10_drained_into_the_window():
    """Every wave10 key is registered with an oracle (their graded
    evidence is checked registry-wide by
    test_contract.py::test_grading_evidence_current)."""
    from modevetl_spark import queries as Q

    qs, oracle = Q.all_queries(), Q.all_oracle()
    assert set(QUERIES) <= set(qs)
    assert set(QUERIES) <= set(oracle)


class TestHll:
    def _py_registers(self, keys, b=6):
        wbits = 32 - b
        reg: dict = {}
        for k in keys:
            h = int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16)
            j, w = h >> wbits, h & ((1 << wbits) - 1)
            rho = wbits + 1 if w == 0 else wbits - (w.bit_length() - 1)
            reg[j] = max(reg.get(j, 0), rho)
        return reg

    def test_fixture_full_python_replay(self, spark, sf_dir):
        """The whole sketch — registers, harmonic sum, estimate —
        replays exactly from hashlib + python floats (every harmonic
        term is an exact power of two, so even the float sum is
        order-free and exact)."""
        import duckdb

        from modevetl_spark.queries.wave10 import (
            _HLL_ALPHA,
            _HLL_M,
            sketch_hll,
        )

        r = sketch_hll(spark, sf_dir).collect()[0]
        keys = [
            k
            for (k,) in duckdb.connect()
            .execute(
                f"SELECT l_partkey FROM read_parquet('{sf_dir}/lineitem.parquet')"
            )
            .fetchall()
        ]
        reg = self._py_registers(keys)
        s = (_HLL_M - len(reg)) + sum(1.0 / (1 << mj) for mj in reg.values())
        assert r["n_regs"] == len(reg)
        assert r["v_zeros"] == _HLL_M - len(reg)
        assert r["harmonic_sum"] == s
        assert r["est_hll"] == _HLL_ALPHA * _HLL_M * _HLL_M / s
        assert r["exact_distinct"] == len(set(keys))
        assert r["ok_2sigma"] == (
            abs(r["est_hll"] - r["exact_distinct"]) / r["exact_distinct"]
            <= 2 * 1.04 / _HLL_M**0.5
        )

    def test_registers_merge_by_max_and_dedupe_free(self, spark):
        """HLL is max-mergeable: state(A ⊎ B) == per-register max of
        state(A), state(B) — and duplicates change nothing (insert
        idempotence), the property KMV needs a distinct() for."""
        from modevetl_spark.operators.sketches import hll_state

        a = spark.createDataFrame([(i,) for i in range(50)], "k long")
        b = spark.createDataFrame(
            [(i,) for i in range(30, 120)] * 3, "k long"  # overlaps + dups
        )
        sa = {r["j"]: r["mj"] for r in hll_state(a, "k").collect()}
        sb = {r["j"]: r["mj"] for r in hll_state(b, "k").collect()}
        both = a.unionByName(b)
        sab = {r["j"]: r["mj"] for r in hll_state(both, "k").collect()}
        merged = {
            j: max(sa.get(j, 0), sb.get(j, 0)) for j in set(sa) | set(sb)
        }
        assert merged == sab
        assert sab == self._py_registers(list(range(120)))

    def test_plan_bounded_exchange_no_python(self, spark, sf_dir):
        from modevetl_spark.queries.wave10 import sketch_hll
        from tests.test_plans import plan

        p = plan(sketch_hll(spark, sf_dir))
        assert "Python" not in p
        assert "SortMergeJoin" not in p
        assert "Window" not in p

    def test_rho_exact_on_every_power_of_two_both_engines(self, spark):
        """Round-8 advice: pin the rank derivation on the power-of-two
        boundary words where a floor(log2) form COULD misbucket. rho is
        now derived from bit length — length(bin(w)) in both engines —
        so this sweeps every boundary word w ∈ {2^0..2^25, 2^k−1,
        2^k+1} through the Spark expression AND the DuckDB oracle
        fragment and asserts both equal python's w.bit_length() truth."""
        import duckdb

        from pyspark.sql import functions as F

        wbits = 26
        words = sorted(
            {1 << k for k in range(wbits)}
            | {(1 << k) - 1 for k in range(1, wbits + 1)}
            | {(1 << k) + 1 for k in range(1, wbits - 1)}
        )
        words = [w for w in words if 0 < w < (1 << wbits)]
        truth = {w: wbits + 1 - w.bit_length() for w in words}
        sdf = spark.createDataFrame([(w,) for w in words], "w long").select(
            "w",
            (F.lit(wbits + 1) - F.length(F.bin("w")).cast("bigint")).alias("rho"),
        )
        assert {r["w"]: r["rho"] for r in sdf.collect()} == truth
        duck = dict(
            duckdb.connect()
            .execute(
                "SELECT w, %d + 1 - CAST(length(bin(w)) AS BIGINT) "
                "FROM (SELECT UNNEST(?::BIGINT[]) AS w)" % wbits,
                [words],
            )
            .fetchall()
        )
        assert duck == truth


class TestCooccurPmi:
    def test_fixture_replay_and_contract(self, spark, sf_dir):
        """Every emitted PMI must replay exactly from its own integer
        counts through the same log2 chain; pairs are unordered,
        non-self, above the support floor."""
        import math

        from modevetl_spark.queries.wave10 import (
            _PMI_K,
            _PMI_MIN,
            cooccur_pmi,
        )

        rows = cooccur_pmi(spark, sf_dir).collect()
        assert len(rows) == _PMI_K
        for r in rows:
            assert r["tok_a"] < r["tok_b"]  # unordered + non-self
            assert r["c_ab"] >= _PMI_MIN
            assert r["c_a"] >= r["c_ab"] and r["c_b"] >= r["c_ab"]
        # replay needs N; recover it from any row (micro-bits ≈ 1e6 *
        # (log2(cab) + log2(N) - log2(ca) - log2(cb))) => all rows
        # must agree on N. Python's math.log2 and the JVM's differ by
        # 1 ulp on some integer args, so the replay allows ±1
        # microbit per term — the bit-exact cross-ENGINE check is the
        # driver oracle's job.
        ns = {
            round(
                2
                ** (
                    r["pmi_microbits"] / 1e6
                    - math.log2(r["c_ab"])
                    + math.log2(r["c_a"])
                    + math.log2(r["c_b"])
                )
            )
            for r in rows
        }
        assert len(ns) == 1
        n = ns.pop()
        for r in rows:
            want = math.floor(
                (
                    round(math.log2(r["c_ab"]), 9)
                    + round(math.log2(n), 9)
                    - round(math.log2(r["c_a"]), 9)
                    - round(math.log2(r["c_b"]), 9)
                )
                * 1e6
            )
            assert abs(r["pmi_microbits"] - want) <= 4
        # descending order with deterministic tie-break
        keys = [(-r["pmi_microbits"], r["tok_a"], r["tok_b"]) for r in rows]
        assert keys == sorted(keys)

    def test_hand_built_exclusive_pair_wins(self, spark, tmp_path):
        """An exclusive couple (u, v always and only together) must
        out-rank a promiscuous pair of frequent tokens; both PMIs
        hand-checked against a full python reference."""
        import math

        from modevetl_spark.queries.wave10 import (
            _PMI_MIN,
            _PMI_W,
            cooccur_pmi,
        )

        # 6 docs "u v" (exclusive couple), 8 docs of shuffled frequent
        # fillers where x and y co-occur often but also roam
        docs = ["u v"] * 6 + ["x y z w", "x z y w", "y x w z", "x y w z"] * 2
        pd.DataFrame(
            {"doc_id": range(len(docs)), "text": docs}
        ).to_parquet(str(tmp_path / "documents.parquet"))

        # python reference over the same pair convention
        from collections import Counter

        cab: Counter = Counter()
        for t in docs:
            tk = t.split()
            for d in range(1, _PMI_W + 1):
                for i in range(len(tk) - d):
                    a, b = tk[i], tk[i + d]
                    if a != b:
                        cab[(min(a, b), max(a, b))] += 1
        marg: Counter = Counter()
        for (a, b), c in cab.items():
            marg[a] += c
            marg[b] += c
        n = sum(cab.values())
        want = {
            p: math.floor(
                (
                    round(math.log2(c), 9)
                    + round(math.log2(n), 9)
                    - round(math.log2(marg[p[0]]), 9)
                    - round(math.log2(marg[p[1]]), 9)
                )
                * 1e6
            )
            for p, c in cab.items()
            if c >= _PMI_MIN
        }
        got = {
            (r["tok_a"], r["tok_b"]): r["pmi_microbits"]
            for r in cooccur_pmi(spark, str(tmp_path)).collect()
        }
        assert set(got) == set(want)
        for p in want:  # ±1-microbit JVM-vs-python log2 tolerance
            assert abs(got[p] - want[p]) <= 4, p
        assert got[("u", "v")] == max(got.values())
        assert got[("u", "v")] > got[("x", "y")]

    def test_plan_rowlocal_pairs_broadcast_margins(self, spark, sf_dir):
        from modevetl_spark.queries.wave10 import cooccur_pmi
        from tests.test_plans import plan

        p = plan(cooccur_pmi(spark, sf_dir))
        assert "Python" not in p
        assert "SortMergeJoin" not in p
        assert "TakeOrderedAndProject" in p
        # marginals read the checkpointed pair table, never the fact
        assert "documents" not in p


class TestLinkageWeights:
    def test_fixture_scoring_contract(self, spark, sf_dir):
        """Scores are a pure function of the agreement pattern (all
        rows with the same flags share one score), non-negative, and
        monotone in agreements; ordering is deterministic."""
        from modevetl_spark.queries.wave10 import _LINK_K, linkage_weights

        rows = linkage_weights(spark, sf_dir).collect()
        assert len(rows) == _LINK_K
        by_pattern: dict = {}
        for r in rows:
            pat = (r["same_seg"], r["same_band"], r["same_cents"])
            by_pattern.setdefault(pat, set()).add(r["score_microbits"])
            assert r["cust_a"] < r["cust_b"]
            assert r["score_microbits"] >= 0
        for scores in by_pattern.values():
            assert len(scores) == 1
        # monotone: adding an agreement never lowers the score
        for pat, scores in by_pattern.items():
            for pat2, scores2 in by_pattern.items():
                if all(a >= b for a, b in zip(pat, pat2)):
                    assert next(iter(scores)) >= next(iter(scores2))
        keys = [
            (-r["score_microbits"], r["cust_a"], r["cust_b"]) for r in rows
        ]
        assert keys == sorted(keys)

    def test_hand_built_exact_weights(self, spark, tmp_path):
        """Six customers in one nation block, distributions chosen so
        the u-weights are hand-computable: w_seg = log2(36/18) = 1 bit
        exactly, w_band = log2(3) -> 1584962 microbits, w_cents =
        log2(4.5) -> 2169925 microbits. All 15 pair scores asserted."""
        from modevetl_spark.queries.wave10 import linkage_weights

        pd.DataFrame(
            {
                "c_custkey": [1, 2, 3, 4, 5, 6],
                "c_nationkey": [7] * 6,
                "c_mktsegment": ["A", "A", "B", "B", "A", "B"],
                "c_acctbal": [1.00, 2.00, 101.00, 102.00, 500.00, 500.00],
            }
        ).astype({"c_nationkey": "int32"}).to_parquet(str(tmp_path / "customer.parquet"))
        got = {
            (r["cust_a"], r["cust_b"]): r["score_microbits"]
            for r in linkage_weights(spark, str(tmp_path)).collect()
        }
        w_seg, w_band, w_cents = 1_000_000, 1_584_962, 2_169_925
        want = {}
        segs = {1: "A", 2: "A", 3: "B", 4: "B", 5: "A", 6: "B"}
        bands = {1: 10, 2: 10, 3: 11, 4: 11, 5: 15, 6: 15}
        cents = {1: 100100, 2: 100200, 3: 110100, 4: 110200,
                 5: 150000, 6: 150000}
        for a_ in range(1, 7):
            for b_ in range(a_ + 1, 7):
                want[(a_, b_)] = (
                    (segs[a_] == segs[b_]) * w_seg
                    + (bands[a_] == bands[b_]) * w_band
                    + (cents[a_] == cents[b_]) * w_cents
                )
        assert got == want
        # the exact-cents collision out-scores every same-seg+band pair
        assert want[(5, 6)] == w_band + w_cents == max(want.values())

    def test_plan_blocked_join_no_cartesian(self, spark, sf_dir):
        from modevetl_spark.queries.wave10 import linkage_weights
        from tests.test_plans import plan

        p = plan(linkage_weights(spark, sf_dir))
        assert "Python" not in p
        # the pair stage must key on the block (hash join on the
        # nation key) — never an unkeyed cartesian. The only
        # nested-loop joins allowed are the three ONE-ROW weight
        # scalars riding broadcast cross joins (the mixture_weights
        # shape), so every BNLJ in the plan must be a Cross build.
        assert "CartesianProduct" not in p
        assert "BroadcastHashJoin" in p
        # exactly ONE nested-loop join: the one-row weight scalar
        assert p.count("BroadcastNestedLoopJoin (") <= 1
        assert "Expand" in p  # all three histograms from one pass
        assert "TakeOrderedAndProject" in p


class TestHllTick:
    def test_null_keys_excluded(self, spark):
        """Round-9 hardening (the NULL-key advice class, applied
        family-wide): a NULL key hashes to a j=NULL/mj=NULL register
        row — NULLs must be excluded like every sketch (COUNT DISTINCT
        semantics), so a dirty batch folds to exactly the clean batch's
        registers."""
        from modevetl_spark.operators.sketches import hll_state

        clean = spark.createDataFrame([(str(i),) for i in range(60)], "k string")
        dirty = clean.unionAll(
            spark.createDataFrame([(None,), (None,)], "k string")
        )
        want = {r["j"]: r["mj"] for r in hll_state(clean, "k").collect()}
        got = {r["j"]: r["mj"] for r in hll_state(dirty, "k").collect()}
        assert got == want and None not in got

    def test_oracle_null_contract_matches_engine(self, spark, tmp_path):
        """Round-10 ADVICE fix: the DuckDB oracle's sketch half must
        carry the SAME NULL-key filter as the engine's hll_state —
        without it md5(NULL) yields a j=NULL register row that inflates
        n_regs while adding nothing to s_hit, so the two estimates
        diverge on any dirty key column (invisible on the NOT NULL
        fixtures). Differential: a NULL-containing lineitem through
        BOTH halves must agree on every column."""
        import duckdb

        from modevetl_spark.queries.wave10 import _HLL_ORACLE, sketch_hll

        pd.DataFrame(
            {"l_partkey": pd.array(list(range(1, 241)) + [None] * 7, dtype="Int64")}
        ).to_parquet(str(tmp_path / "lineitem.parquet"))
        got = sketch_hll(spark, str(tmp_path)).collect()[0].asDict()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW lineitem AS "
            f"SELECT * FROM read_parquet('{tmp_path}/lineitem.parquet')"
        )
        cur = con.execute(_HLL_ORACLE)
        want = dict(zip([d[0] for d in cur.description], cur.fetchone()))
        assert got == want
        # the NULL rows must not have registered: exact_distinct ignores
        # NULL by COUNT DISTINCT semantics, and the sketch half now does too
        assert got["exact_distinct"] == 240


class TestBurstiness:
    def test_fixture_dispersion_contract(self, spark, sf_dir):
        from modevetl_spark.queries.wave10 import (
            _BURST_K,
            _BURST_MIN_T,
            token_burstiness,
        )

        rows = token_burstiness(spark, sf_dir).collect()
        assert 0 < len(rows) <= _BURST_K
        for r in rows:
            assert r["total"] >= _BURST_MIN_T
            assert 1 <= r["n_docs_with"] <= r["total"]
            assert r["vmr"] >= 0.0
        keys = [(-r["vmr"], r["tok"]) for r in rows]
        assert keys == sorted(keys)

    def test_hand_built_exact_vmr(self, spark, tmp_path):
        """Integer-exact poles: a token evenly spread (15 per doc,
        4 docs) has VMR exactly 0; a token dumped entirely into one
        doc (60 in doc 1) has VMR exactly 60."""
        from modevetl_spark.queries.wave10 import token_burstiness

        docs = ["h " * 60 + "f " * 15] + ["f " * 15] * 3
        pd.DataFrame(
            {"doc_id": range(4), "text": docs}
        ).to_parquet(str(tmp_path / "documents.parquet"))
        got = {
            r["tok"]: r
            for r in token_burstiness(spark, str(tmp_path)).collect()
        }
        assert set(got) == {"h", "f"}
        assert got["h"]["vmr"] == 60.0 and got["h"]["n_docs_with"] == 1
        assert got["f"]["vmr"] == 0.0 and got["f"]["n_docs_with"] == 4
        assert got["h"]["total"] == 60 and got["f"]["total"] == 60

    def test_plan_two_level_agg_no_rescan(self, spark, sf_dir):
        from modevetl_spark.queries.wave10 import token_burstiness
        from tests.test_plans import plan

        p = plan(token_burstiness(spark, sf_dir))
        assert "Python" not in p
        assert "SortMergeJoin" not in p
        assert "Window" not in p
        assert "TakeOrderedAndProject" in p
        # D comes from the checkpointed token table, never a rescan
        assert "documents" not in p


class TestBpeMerges:
    def test_fixture_merge_contract(self, spark, sf_dir):
        from modevetl_spark.queries.wave10 import _BPE_ROUNDS, bpe_merges

        rows = sorted(
            bpe_merges(spark, sf_dir).collect(), key=lambda r: r["step"]
        )
        assert [r["step"] for r in rows] == list(range(1, _BPE_ROUNDS + 1))
        seen = set()
        for r in rows:
            assert r["merged"] == r["left_sym"] + r["right_sym"]
            assert r["pair_count"] > 0
            assert (r["left_sym"], r["right_sym"]) not in seen
            seen.add((r["left_sym"], r["right_sym"]))
        # a pair created by a merge occurs at most as often as its
        # constituents did, so best-pair counts are non-increasing
        counts = [r["pair_count"] for r in rows]
        assert counts == sorted(counts, reverse=True)

    def test_hand_built_sennrich_example(self, spark, tmp_path):
        """The classic BPE corpus {low:5, lower:2, newest:6, widest:3}
        (Sennrich et al. 2016): all eight merges and their weighted
        counts are hand-derived, including the lexicographic
        tie-breaks among equal-count pairs."""
        from modevetl_spark.queries.wave10 import bpe_merges

        docs = {
            0: "low low low low low",
            1: "lower lower",
            2: "newest newest newest newest newest newest",
            3: "widest widest widest",
        }
        pd.DataFrame(
            {"doc_id": list(docs), "text": list(docs.values())}
        ).to_parquet(str(tmp_path / "documents.parquet"))
        got = [
            (r["left_sym"], r["right_sym"], r["pair_count"])
            for r in sorted(
                bpe_merges(spark, str(tmp_path)).collect(),
                key=lambda r: r["step"],
            )
        ]
        assert got == [
            ("e", "s", 9),
            ("es", "t", 9),
            ("est", "</w>", 9),
            ("l", "o", 7),
            ("lo", "w", 7),
            ("e", "w", 6),
            ("ew", "est</w>", 6),
            ("n", "ewest</w>", 6),
        ]

    def test_plan_trains_on_checkpointed_vocab(self, spark, sf_dir):
        """r13 shape: each round's 1-row argmax is collected and fed
        back as literals, and the merge table is returned as local
        rows — so the returned plan touches neither the corpus nor any
        join/exchange (the pre-r13 form unioned 8 checkpointed one-row
        DataFrames through 8 broadcast exchanges)."""
        from modevetl_spark.queries.wave10 import bpe_merges
        from tests.test_plans import plan

        p = plan(bpe_merges(spark, sf_dir))
        # every round ran eagerly on the checkpointed word-frequency
        # table; the visible plan never rescans the corpus
        assert "documents" not in p
        assert "Exchange" not in p
        assert "Join" not in p


def test_burstiness_single_doc_corpus_empty(spark, tmp_path):
    """A one-document corpus has no between-document variance: the
    D > 1 guard empties the result instead of dividing by zero."""
    from modevetl_spark.queries.wave10 import token_burstiness

    pd.DataFrame({"doc_id": [0], "text": ["h " * 60]}).to_parquet(
        str(tmp_path / "documents.parquet")
    )
    assert token_burstiness(spark, str(tmp_path)).count() == 0


class TestTextRank:
    def test_fixture_score_contract(self, spark, sf_dir):
        from modevetl_spark.queries.wave10 import _TR_K, textrank_keywords

        rows = textrank_keywords(spark, sf_dir).collect()
        assert len(rows) == _TR_K
        for r in rows:
            # no isolated nodes: every score strictly beats teleport
            assert r["score"] > 0.15
            assert r["weight_total"] > 0
        keys = [(-r["score"], r["tok"]) for r in rows]
        assert keys == sorted(keys)

    def test_symmetric_clique_fixpoint_is_one(self, spark, tmp_path):
        """A perfectly symmetric triangle (x, y, z always co-occurring
        with equal weights) has the analytic fixpoint WS = 1.0 at EVERY
        iteration: each node receives exactly half of each neighbor's
        unit score. The engines must hit 1.0 exactly."""
        from modevetl_spark.queries.wave10 import textrank_keywords

        pd.DataFrame(
            {"doc_id": range(10), "text": ["x y z"] * 10}
        ).to_parquet(str(tmp_path / "documents.parquet"))
        got = {
            r["tok"]: r
            for r in textrank_keywords(spark, str(tmp_path)).collect()
        }
        assert set(got) == {"x", "y", "z"}
        for t in "xyz":
            assert got[t]["score"] == 1.0
            assert got[t]["weight_total"] == 20

    def test_hub_dominates_spokes(self, spark, tmp_path):
        """Hub-and-spoke: h co-occurs with both a and b, a and b only
        with h — h must out-rank the (symmetric, equal-scored)
        spokes."""
        from modevetl_spark.queries.wave10 import textrank_keywords

        docs = ["h a"] * 6 + ["h b"] * 6
        pd.DataFrame(
            {"doc_id": range(len(docs)), "text": docs}
        ).to_parquet(str(tmp_path / "documents.parquet"))
        got = {
            r["tok"]: r["score"]
            for r in textrank_keywords(spark, str(tmp_path)).collect()
        }
        assert set(got) == {"h", "a", "b"}
        assert got["a"] == got["b"]  # symmetry is exact
        assert got["h"] > got["a"]

    def test_plan_iterations_on_checkpointed_graph(self, spark, sf_dir):
        from modevetl_spark.queries.wave10 import textrank_keywords
        from tests.test_plans import plan

        p = plan(textrank_keywords(spark, sf_dir))
        assert "Python" not in p
        assert "documents" not in p  # graph built once, checkpointed
        assert "TakeOrderedAndProject" in p


class TestDocLmScore:
    def test_fixture_contract(self, spark, sf_dir):
        import duckdb

        from modevetl_spark.queries.wave10 import doc_lm_score

        rows = doc_lm_score(spark, sf_dir).collect()
        n_docs = (
            duckdb.connect()
            .execute(
                f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
                " WHERE len(list_filter(regexp_split_to_array(lower(text),"
                r" '\s+'), x -> x <> '')) > 0"
            )
            .fetchone()[0]
        )
        assert len(rows) == n_docs
        for r in rows:
            # cross-entropy vs the corpus LM is positive for any doc
            # that isn't the whole corpus
            assert r["bits_per_token"] >= 0.0
            assert r["n_tokens"] > 0

    def test_hand_built_exact_bits(self, spark, tmp_path):
        """Two docs with hand-computable cross-entropies: the all-common
        doc scores log2(5/4) bits/token, the rare singleton scores
        log2(5) — the LM-filter ordering (rare-token docs rank high)."""
        import math

        from modevetl_spark.queries.wave10 import doc_lm_score

        pd.DataFrame(
            {"doc_id": [0, 1], "text": ["x x x x", "y"]}
        ).to_parquet(str(tmp_path / "documents.parquet"))
        got = {
            r["doc_id"]: r["bits_per_token"]
            for r in doc_lm_score(spark, str(tmp_path)).collect()
        }
        want0 = round(round(math.log2(5) - math.log2(4), 9), 6)
        want1 = round(round(math.log2(5) - math.log2(1), 9), 6)
        assert got[0] == want0  # 0.321928
        assert got[1] == want1  # 2.321928
        assert got[1] > got[0]

    def test_plan_single_fact_scan_behind_checkpoint(self, spark, sf_dir):
        from modevetl_spark.queries.wave10 import doc_lm_score
        from tests.test_plans import plan

        p = plan(doc_lm_score(spark, sf_dir))
        assert "documents" not in p
        assert "SortMergeJoin" not in p
        assert "Python" not in p
        assert "BroadcastHashJoin" in p


class TestUnseenMass:
    def test_fixture_identities_and_regimes(self, spark, sf_dir):
        from modevetl_spark.queries.wave10 import unseen_mass

        rows = unseen_mass(spark, sf_dir).collect()
        assert len(rows) == 20
        for r in rows:
            assert r["hapax"] + r["dis"] <= r["vocab"] <= r["n_tokens"]
            # single correctly-rounded division: bit-exact replay
            assert r["unseen_mass"] == r["hapax"] / r["n_tokens"]
        # the rare-token tail puts SOME sources in each regime
        assert any(r["hapax"] > 0 for r in rows)
        assert any(r["hapax"] == 0 for r in rows)

    def test_hand_built_exact_mass(self, spark, tmp_path):
        """Source A 'x x y z': hapax {y, z}, dis {x} — unseen mass
        exactly 2/4. Source B all-repeats: exactly 0."""
        from modevetl_spark.queries.wave10 import unseen_mass

        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": ["x x y z", "w w w w"],
                "source": ["A", "B"],
            }
        ).to_parquet(str(tmp_path / "documents.parquet"))
        got = {
            r["source"]: r for r in unseen_mass(spark, str(tmp_path)).collect()
        }
        a = got["A"]
        assert (a["n_tokens"], a["vocab"], a["hapax"], a["dis"]) == (4, 3, 2, 1)
        assert a["unseen_mass"] == 0.5
        b = got["B"]
        assert (b["hapax"], b["dis"], b["unseen_mass"]) == (0, 0, 0.0)

    def test_plan_two_collapsing_aggs_no_join(self, spark, sf_dir):
        from modevetl_spark.queries.wave10 import unseen_mass
        from tests.test_plans import plan

        p = plan(unseen_mass(spark, sf_dir))
        assert "Python" not in p
        assert "Join" not in p
        assert "Window" not in p
