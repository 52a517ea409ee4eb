"""Property-based gates for the round-7 sketch additions: the Spark
operators are replayed against naive pure-Python evaluators over
hypothesis-generated inputs (the SURVEY §5.3 differential pattern, same
conventions as test_diagnostics_property.py — few Spark examples, the
python oracle does the sweeping)."""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _h32(v) -> int:
    return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)


# --- KMV distinct sketch ------------------------------------------------


def _kmv_python(values: list[int], k: int) -> dict:
    hs = sorted({_h32(v) for v in values})
    kmin = hs[:k]
    k_got = len(kmin)
    h_k = kmin[-1]
    if k_got < k:
        est = float(k_got)
    else:
        est = (k_got - 1) * 2**32 / h_k  # un-rounded; compare with tol
    return {"k": k_got, "h_k": h_k, "est": est, "exact": len(set(values))}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(st.integers(0, 500), min_size=1, max_size=400),
    k=st.sampled_from([4, 16, 64]),
)
def test_kmv_matches_python_replay(spark, values, k):
    """kmv_distinct over an arbitrary multiset equals the direct python
    computation: same k-min cardinality, same k-th hash, same exact
    count, estimator within rounding tolerance — and the non-full
    regime is exactly the distinct count. Duplicates, tiny domains, and
    k larger than the domain are all in-distribution here (the regime
    the fixture never exercises)."""
    from modevetl_spark.operators.sketches import kmv_distinct

    df = spark.createDataFrame([(v,) for v in values], "v long").repartition(3)
    r = kmv_distinct(df, "v", k=k).collect()[0]
    want = _kmv_python(values, k)
    assert r["k"] == want["k"]
    assert r["h_k"] == want["h_k"]
    assert r["exact_distinct"] == want["exact"]
    assert abs(r["est_distinct"] - round(want["est"], 4)) <= 1e-6
    if want["k"] < k:  # non-full sketch: exact by rule
        assert r["est_distinct"] == want["exact"]
        assert r["rel_err"] == 0.0


# --- Grouped Misra-Gries heavy hitters ----------------------------------


def _hh_grouped_python(rows: list[tuple[str, str]], denom: int) -> dict:
    cnt: dict = {}
    tot: dict = {}
    for g, t in rows:
        cnt[(g, t)] = cnt.get((g, t), 0) + 1
        tot[g] = tot.get(g, 0) + 1
    return {
        (g, t): c for (g, t), c in cnt.items() if c * denom > tot[g]
    }


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2", "g3"]),
            st.text(alphabet="abcde", min_size=1, max_size=2),
        ),
        min_size=1,
        max_size=300,
    ),
    denom=st.sampled_from([3, 6]),
)
def test_hh_grouped_matches_python_exact_rule(spark, rows, denom):
    """heavy_hitters_grouped_exact over arbitrary grouped streams equals
    the direct per-group frequency rule — the sketch+verify pipeline is
    invisible in the result (the superset guarantee composed with the
    exact filter), for any group mix, duplicate skew, or stream size,
    under a partitioning the groups straddle."""
    from modevetl_spark.operators.sketches import heavy_hitters_grouped_exact

    df = spark.createDataFrame(rows, "g string, t string").repartition(4)
    got = {
        (r["g"], r["t"]): r["cnt"]
        for r in heavy_hitters_grouped_exact(
            df, "g", "t", k=denom, denom=denom
        ).collect()
    }
    assert got == _hh_grouped_python(rows, denom)


def test_hh_grouped_accepts_non_string_columns(spark):
    """Round-8 advice: mg_summary_grouped declares a string/string
    mapInPandas output schema — a caller passing integer group or token
    columns must get the string-cast fold (the kmv_distinct_grouped
    defense), not an Arrow type error at execution."""
    from modevetl_spark.operators.sketches import (
        heavy_hitters_grouped_exact,
        mg_summary_grouped,
    )

    rows = [(g, t) for g in (1, 2) for t in (10, 10, 10, 20, 30, 10)]
    df = spark.createDataFrame(rows, "g int, t bigint").repartition(3)
    summ = mg_summary_grouped(df, "g", "t", k=4).collect()
    assert summ, "fold produced no candidate state"
    got = {
        (r["g"], r["t"]): r["cnt"]
        for r in heavy_hitters_grouped_exact(df, "g", "t", k=4, denom=3).collect()
    }
    # token 10 holds 4/6 of each integer group — well above 1/3; the
    # exact-verify tier joins back against the ORIGINAL stream, so the
    # output keeps the caller's column types (only the bounded sketch
    # fold is string-typed internally)
    assert got == {(1, 10): 4, (2, 10): 4}


# --- Exact-substring duplicated runs (interval merge) ---------------------


def _runs_python(texts: dict[int, str], n: int = 8) -> dict:
    """Naive reference: positional n-grams, global occurrence counts,
    per-doc interval union of [p, p+n-1] for duplicated positions."""
    grams: dict = {}
    pos_by_doc: dict = {}
    for doc, text in texts.items():
        tk = [t for t in text.lower().split() if t]
        pos_by_doc[doc] = []
        for i in range(len(tk) - n + 1):
            g = " ".join(tk[i : i + n])
            grams[g] = grams.get(g, 0) + 1
            pos_by_doc[doc].append((i + 1, g))
    out: dict = {}
    for doc, text in texts.items():
        tk = [t for t in text.lower().split() if t]
        dup = sorted(p for p, g in pos_by_doc[doc] if grams[g] > 1)
        if not dup:
            continue
        runs = []
        for p in dup:
            if runs and p - runs[-1][1] <= n:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        lens = [e - s + n for s, e in runs]
        out[doc] = {
            "n_tokens": len(tk),
            "n_runs": len(runs),
            "dup_tokens": sum(lens),
            "longest_run": max(lens),
        }
    return out


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            # tiny alphabet + short docs force heavy cross-doc and
            # within-doc gram collisions, the interval-merge stress case
            st.sampled_from(["a", "b", "c"]),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_substring_runs_differential(spark, tmp_path_factory, docs):
    import pandas as pd

    from modevetl_spark.queries.wave9 import dedup_substring_runs

    texts = {i: " ".join(toks) for i, toks in enumerate(docs)}
    want = _runs_python(texts)
    tmp = tmp_path_factory.mktemp("runsdiff")
    pd.DataFrame(
        {"doc_id": list(texts), "text": list(texts.values())}
    ).to_parquet(str(tmp / "documents.parquet"))
    got = {
        r["doc_id"]: {
            "n_tokens": r["n_tokens"],
            "n_runs": r["n_runs"],
            "dup_tokens": r["dup_tokens"],
            "longest_run": r["longest_run"],
        }
        for r in dedup_substring_runs(spark, str(tmp)).collect()
    }
    assert got == want


# --- BPE merge training (greedy pair merges, deterministic ties) -----------


def _bpe_python(word_freq: dict, rounds: int) -> list:
    """Naive reference: per round, count frequency-weighted adjacent
    pairs, merge the (count DESC, left, right) minimum-tie pair with
    greedy left-to-right non-overlapping rewrites."""
    reprs = {
        w: [*w, "</w>"] for w in word_freq
    }
    merges = []
    for _ in range(rounds):
        counts: dict = {}
        for w, syms in reprs.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + word_freq[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((a, b, cnt))
        for w, syms in reprs.items():
            out: list = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            reprs[w] = out
    return merges


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
        unique=True,
    ),
    freqs=st.lists(st.integers(1, 9), min_size=8, max_size=8),
)
def test_bpe_merges_differential(spark, tmp_path_factory, words, freqs):
    """Random two-letter-alphabet vocabularies maximize merged-symbol
    collisions ('aa' merging next to 'a'), the hard case for the
    string-replace rewrite."""
    import pandas as pd

    from modevetl_spark.queries.wave10 import _BPE_ROUNDS, bpe_merges

    wf = {w: f for w, f in zip(words, freqs)}
    want = _bpe_python(wf, _BPE_ROUNDS)
    tmp = tmp_path_factory.mktemp("bpediff")
    pd.DataFrame(
        {
            "doc_id": range(len(wf)),
            "text": [(w + " ") * f for w, f in wf.items()],
        }
    ).to_parquet(str(tmp / "documents.parquet"))
    got = [
        (r["left_sym"], r["right_sym"], r["pair_count"])
        for r in sorted(
            bpe_merges(spark, str(tmp)).collect(), key=lambda r: r["step"]
        )
    ]
    assert got == want


# --- Fellegi–Sunter linkage scoring ----------------------------------------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),          # nation (few blocks)
            st.sampled_from(["A", "B"]),  # segment
            st.integers(-50, 50),        # balance in whole dollars
        ),
        min_size=2,
        max_size=12,
    )
)
def test_linkage_weights_differential(spark, tmp_path_factory, rows):
    import math

    import pandas as pd

    from modevetl_spark.queries.wave10 import _LINK_SHIFT, linkage_weights

    tmp = tmp_path_factory.mktemp("linkdiff")
    pd.DataFrame(
        {
            "c_custkey": range(1, len(rows) + 1),
            "c_nationkey": [n for n, _, _ in rows],
            "c_mktsegment": [s for _, s, _ in rows],
            "c_acctbal": [float(b) for _, _, b in rows],
        }
    ).astype({"c_nationkey": "int32"}).to_parquet(str(tmp / "customer.parquet"))

    recs = {
        i + 1: (n, s, b * 100 + _LINK_SHIFT)
        for i, (n, s, b) in enumerate(rows)
    }

    def u_w(values):
        from collections import Counter

        c = Counter(values)
        s2 = sum(v * v for v in c.values())
        n = len(values)
        return math.floor(
            round(2 * math.log2(n) - math.log2(s2), 9) * 1_000_000
        )

    w_seg = u_w([s for _, s, _ in recs.values()])
    w_band = u_w([c // 10000 for _, _, c in recs.values()])
    w_cents = u_w([c for _, _, c in recs.values()])
    want = {}
    ids = sorted(recs)
    for x in ids:
        for y in ids:
            if x < y and recs[x][0] == recs[y][0]:
                seg = recs[x][1] == recs[y][1]
                band = recs[x][2] // 10000 == recs[y][2] // 10000
                cents = recs[x][2] == recs[y][2]
                want[(x, y)] = (
                    seg * w_seg + band * w_band + cents * w_cents,
                    (int(seg), int(band), int(cents)),
                )
    got = {
        (r["cust_a"], r["cust_b"]): (
            r["score_microbits"],
            (r["same_seg"], r["same_band"], r["same_cents"]),
        )
        for r in linkage_weights(spark, str(tmp)).collect()
    }
    assert set(got) == set(want)
    for p in want:
        assert got[p][1] == want[p][1], p  # agreement flags exact
        # weights tolerate ±1 microbit of python-vs-JVM log2 drift each
        assert abs(got[p][0] - want[p][0]) <= 3, p


# --- Token burstiness (zero-inclusive dispersion) ---------------------------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["p", "q", "r"]), min_size=0, max_size=60),
        min_size=2,
        max_size=6,
    )
)
def test_burstiness_differential(spark, tmp_path_factory, docs):
    import pandas as pd

    import modevetl_spark.queries.wave10 as w10

    tmp = tmp_path_factory.mktemp("burstdiff")
    pd.DataFrame(
        {"doc_id": range(len(docs)), "text": [" ".join(d) for d in docs]}
    ).to_parquet(str(tmp / "documents.parquet"))
    d_cnt = len(docs)
    per: dict = {}
    for i, d in enumerate(docs):
        for t in d:
            per.setdefault(t, {}).setdefault(i, 0)
            per[t][i] += 1
    want = {}
    for t, m in per.items():
        total = sum(m.values())
        if total < w10._BURST_MIN_T:
            continue
        sumsq = sum(v * v for v in m.values())
        vmr = ((sumsq - float(total) * total / d_cnt) / (d_cnt - 1)) / (
            float(total) / d_cnt
        )
        want[t] = (total, len(m), vmr)
    got = {
        r["tok"]: (r["total"], r["n_docs_with"], r["vmr"])
        for r in w10.token_burstiness(spark, str(tmp)).collect()
    }
    assert got == want  # +,-,*,/ are correctly rounded: bit-equal


# --- TextRank weighted-PageRank replay --------------------------------------


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["k", "l", "m", "n"]), min_size=2,
                 max_size=10),
        min_size=3,
        max_size=8,
    )
)
def test_textrank_differential(spark, tmp_path_factory, docs):
    """Random small word graphs: replay the 6-round weighted-PageRank
    recurrence in python (same 9dp quantization; half-up vs banker's
    rounding and 1-ulp drift absorbed by a 2e-8 tolerance)."""
    import pandas as pd

    import modevetl_spark.queries.wave10 as w10

    tmp = tmp_path_factory.mktemp("trdiff")
    pd.DataFrame(
        {"doc_id": range(len(docs)), "text": [" ".join(d) for d in docs]}
    ).to_parquet(str(tmp / "documents.parquet"))

    # python reference over the same pair convention
    from collections import Counter

    cab: Counter = Counter()
    for d in docs:
        for dd in range(1, w10._PMI_W + 1):
            for i in range(len(d) - dd):
                a, b = d[i], d[i + dd]
                if a != b:
                    cab[(min(a, b), max(a, b))] += 1
    cab = {p: c for p, c in cab.items() if c >= w10._PMI_MIN}
    got = {
        r["tok"]: r["score"]
        for r in w10.textrank_keywords(spark, str(tmp)).collect()
    }
    if not cab:
        assert got == {}
        return
    adj: dict = {}
    for (a, b), c in cab.items():
        adj.setdefault(a, {})[b] = c
        adj.setdefault(b, {})[a] = c
    wtot = {v: sum(nb.values()) for v, nb in adj.items()}
    score = {v: 1.0 for v in adj}
    for _ in range(w10._TR_ITERS):
        new = {}
        for v in adj:
            s_in = sum(
                round(score[u] * w / wtot[u], 9)
                for u, w in adj[v].items()
            )
            new[v] = round((1.0 - 0.85) + 0.85 * s_in, 9)
        score = new
    want = dict(
        sorted(
            ((v, round(s, 8)) for v, s in score.items()),
            key=lambda kv: (-kv[1], kv[0]),
        )[: w10._TR_K]
    )
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 2e-8, v


# --- Sorted-neighborhood blocking (round-8: seam-repair differential) ----


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        # tiny key alphabet forces heavy ties (id tie-break paths) and
        # duplicate texts; sizes straddle window and partition counts
        st.sampled_from(["aa", "ab", "ba", "bb", "a", "b"]),
        min_size=0,
        max_size=40,
    ),
    window=st.sampled_from([1, 3, 7]),
    parts=st.sampled_from([1, 3, 8]),
)
def test_snm_pairs_match_naive_definition(spark, rows, window, parts):
    """sorted_neighborhood_pairs vs the DEFINITION (Hernández & Stolfo
    merge/purge): sort by (key, id), emit exactly the pairs (i, i+k)
    for k = 1..window. The partitioned-lead + bounded tails×heads seam
    repair must be invisible for ANY input size, tie mix, window, and
    partitioning — including partitions smaller than the window, where
    a successor lives two range partitions away and only the seam join
    can find it. The driver oracle replays the same construction, so
    only this differential guards the blocking semantics themselves."""
    from pyspark.sql import functions as F

    from modevetl_spark.operators.dedup import sorted_neighborhood_pairs

    data = [(i, t) for i, t in enumerate(rows)]
    docs = spark.createDataFrame(
        data, "doc_id long, text string"
    ).repartition(parts)
    got = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(
            docs, key=F.col("text"), window=window
        ).collect()
    }
    order = [i for i, _ in sorted(data, key=lambda it: (it[1], it[0]))]
    want = {
        (order[i], order[i + k])
        for i in range(len(order))
        for k in range(1, window + 1)
        if i + k < len(order)
    }
    assert got == want
