"""Tests for the corpus-statistics keys (queries/corpus.py): python
replays of the association, dispersion, tokenizer, keyword, LM-score and
divergence operators, and their plan shapes.
"""

from __future__ import annotations

import math

import pandas as pd


class TestCooccurPmi:
    def test_fixture_replay_and_contract(self, spark, sf_dir):
        """Every emitted PMI must replay exactly from its own integer
        counts through the same log2 chain; pairs are unordered,
        non-self, above the support floor."""
        import math

        from modevetl_spark.queries.corpus import _PMI_K, _PMI_MIN, cooccur_pmi

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

        from modevetl_spark.queries.corpus import _PMI_MIN, _PMI_W, cooccur_pmi

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
        from modevetl_spark.queries.corpus import cooccur_pmi
        from tests.test_plans import plan

        p = plan(cooccur_pmi(spark, sf_dir))
        assert "Python" not in p
        assert "SortMergeJoin" not in p
        assert "TakeOrderedAndProject" in p
        # marginals read the checkpointed pair table, never the fact
        assert "documents" not in p


class TestBurstiness:
    def test_fixture_dispersion_contract(self, spark, sf_dir):
        from modevetl_spark.queries.corpus import (
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
        from modevetl_spark.queries.corpus import token_burstiness

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
        from modevetl_spark.queries.corpus import token_burstiness
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
        from modevetl_spark.queries.corpus import _BPE_ROUNDS, bpe_merges

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
        from modevetl_spark.queries.corpus import bpe_merges

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
        from modevetl_spark.queries.corpus import bpe_merges
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
    from modevetl_spark.queries.corpus import token_burstiness

    pd.DataFrame({"doc_id": [0], "text": ["h " * 60]}).to_parquet(
        str(tmp_path / "documents.parquet")
    )
    assert token_burstiness(spark, str(tmp_path)).count() == 0


class TestTextRank:
    def test_fixture_score_contract(self, spark, sf_dir):
        from modevetl_spark.queries.corpus import _TR_K, textrank_keywords

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
        from modevetl_spark.queries.corpus import textrank_keywords

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
        from modevetl_spark.queries.corpus import textrank_keywords

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
        from modevetl_spark.queries.corpus import textrank_keywords
        from tests.test_plans import plan

        p = plan(textrank_keywords(spark, sf_dir))
        assert "Python" not in p
        assert "documents" not in p  # graph built once, checkpointed
        assert "TakeOrderedAndProject" in p


class TestDocLmScore:
    def test_fixture_contract(self, spark, sf_dir):
        import duckdb

        from modevetl_spark.queries.corpus import doc_lm_score

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

        from modevetl_spark.queries.corpus import doc_lm_score

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
        from modevetl_spark.queries.corpus import doc_lm_score
        from tests.test_plans import plan

        p = plan(doc_lm_score(spark, sf_dir))
        assert "documents" not in p
        assert "SortMergeJoin" not in p
        assert "Python" not in p
        assert "BroadcastHashJoin" in p


class TestUnseenMass:
    def test_fixture_identities_and_regimes(self, spark, sf_dir):
        from modevetl_spark.queries.corpus import unseen_mass

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
        from modevetl_spark.queries.corpus import unseen_mass

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
        from modevetl_spark.queries.corpus import unseen_mass
        from tests.test_plans import plan

        p = plan(unseen_mass(spark, sf_dir))
        assert "Python" not in p
        assert "Join" not in p
        assert "Window" not in p


class TestSourceJsDivergence:
    def test_python_differential_textbook_jsd(self, spark, sf_dir):
        """Semantics gate: the engine value must equal the TEXTBOOK
        Jensen-Shannon divergence computed directly in probability
        space (no folds, no algebraic zero-mass shortcut) — proving
        the integer-log2 chains + the (B − Σb) absent-token trick ARE
        JSD(p_source ‖ p_corpus), to well under the 6dp the query
        emits."""
        import duckdb

        from modevetl_spark.queries.corpus import source_js_divergence

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
        from modevetl_spark.queries.corpus import source_js_divergence
        from tests.test_plans import plan

        p = plan(source_js_divergence(spark, sf_dir))
        assert "Python" not in p
        assert "SortMergeJoin" not in p
        assert "BroadcastHashJoin" in p
