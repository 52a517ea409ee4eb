"""Round-9 definitional differentials, batch 2 — pure-python replays
of PUBLISHED measures for keys whose DuckDB oracles mirror the query's
own construction (the mandatory discipline, back-filled): the oracle
proves engine parity, these prove the SEMANTICS are the published
formula. Counts/inputs come from duckdb (integers or mirrored
derivations — engine-insensitive); every formula is recomputed in raw
python/math on top of them.

Tolerance policy: exact for integers and ranks; ≤ 5e-7 for 6dp-rounded
fixed-IEEE trees over identical inputs; ≤ 2e-6 for 9dp-folded log2
chains (python's math.log2 differs from the JVM's by 1 ulp on some
args — the verify-skill rule: bit-exactness is for the driver oracle,
python replays get tolerance).
"""

from __future__ import annotations

import math

import duckdb
import pytest

from __spark_entry__ import queries

_Q = queries()


def _toks(text: str) -> list[str]:
    """Mirror operators/text.tokens: lowercase, split on whitespace,
    drop empties."""
    return [t for t in text.lower().split() if t]


def test_token_entropy_matches_shannon_definition(spark, sf_dir):
    """H = log2(n) − Σ c·log2(c)/n over per-doc unigram counts,
    replayed with a fresh python tokenizer + math.log2 — validates
    both the tokenization semantics and the entropy identity."""
    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    got = {r["doc_id"]: r for r in _Q["q_token_entropy"](spark, sf_dir).collect()}
    assert set(got) == {d for d, _ in docs}
    for doc_id, text in docs:
        cnt: dict = {}
        for t in _toks(text):
            cnt[t] = cnt.get(t, 0) + 1
        n = sum(cnt.values())
        h = math.log2(n) - sum(c * math.log2(c) for c in cnt.values()) / n
        r = got[doc_id]
        assert r["n_tokens"] == n
        assert r["n_distinct"] == len(cnt)
        assert abs(r["entropy"] - h) <= 2e-6, (doc_id, r["entropy"], h)


def test_bigram_surprisal_matches_lm_definition(spark, sf_dir):
    """Mean −log2 P(w2|w1) with P = C(w1,w2)/C(w1·) under the corpus's
    own bigram LM, replayed from fresh python bigram counts — validates
    the adjacent-pair construction (no self-join drift) and the
    conditional-probability direction."""
    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    bg: dict = {}
    per_doc: dict = {}
    for doc_id, text in docs:
        ts = _toks(text)
        pairs = list(zip(ts, ts[1:]))
        if pairs:
            per_doc[doc_id] = pairs
        for p in pairs:
            bg[p] = bg.get(p, 0) + 1
    ug: dict = {}
    for (w1, _), c in bg.items():
        ug[w1] = ug.get(w1, 0) + c
    got = {
        r["doc_id"]: r for r in _Q["q_bigram_surprisal"](spark, sf_dir).collect()
    }
    assert set(got) == set(per_doc)
    for doc_id, pairs in per_doc.items():
        mean = sum(
            math.log2(ug[w1]) - math.log2(bg[(w1, w2)]) for w1, w2 in pairs
        ) / len(pairs)
        r = got[doc_id]
        assert r["n_bigrams"] == len(pairs)
        assert abs(r["mean_surprisal"] - mean) <= 2e-6


def test_benford_matches_published_expected_shares(spark, sf_dir):
    """Expected share of leading digit d is log10(1 + 1/d) — recomputed
    FRESH here (validating the injected literals), with observed counts
    and chi-square terms replayed from the raw money column."""
    prices = [
        p
        for (p,) in duckdb.connect().execute(
            f"SELECT o_totalprice FROM read_parquet('{sf_dir}/orders.parquet')"
            " WHERE o_totalprice >= 1"
        ).fetchall()
    ]
    obs: dict = {}
    for p in prices:
        d = int(str(int(math.floor(p)))[0])
        obs[d] = obs.get(d, 0) + 1
    n = sum(obs.values())
    got = {r["digit"]: r for r in _Q["q_benford_digits"](spark, sf_dir).collect()}
    assert set(got) == set(obs)
    for d, c in obs.items():
        e_share = math.log10(1 + 1 / d)
        r = got[d]
        assert r["n_obs"] == c
        assert abs(r["obs_share"] - c / n) <= 5e-7
        assert abs(r["benford_share"] - e_share) <= 5e-7
        assert (
            abs(r["chi2_term"] - (c - e_share * n) ** 2 / (e_share * n))
            <= 5e-6
        )


def test_ewma_matches_truncated_definition(spark, sf_dir):
    """Truncated EWMA: ŷ_k = Σ_{j<10} α(1−α)ʲ·x_{k−j} / Σ_{j<10} α(1−α)ʲ
    with α = 0.3, replayed with FRESH python weights over the daily
    series — validates the weight construction, the renormalization,
    and the trailing-window alignment."""
    daily = duckdb.connect().execute(
        "SELECT day, ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))"
        " AS DOUBLE), 2) FROM (SELECT date_trunc('day', o_orderdate) AS"
        f" day, o_totalprice FROM read_parquet('{sf_dir}/orders.parquet'))"
        " GROUP BY day ORDER BY day"
    ).fetchall()
    revs = [r for _, r in daily]
    days = [d for d, _ in daily]
    alpha = 0.3
    w = [alpha * (1 - alpha) ** j for j in range(10)]
    wsum = sum(w)
    want = {}
    for k in range(9, len(revs)):
        num = 0.0
        for j in range(10):
            num += w[j] * revs[k - j]
        want[days[k]] = num / wsum
    got = {
        r["day"].date(): r["ewma_10d"]
        for r in _Q["q_ewma_trunc"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for day, v in want.items():
        assert abs(got[day] - v) <= 5e-7, (day, got[day], v)


def test_seasonal_index_matches_mean_ratio_definition(spark, sf_dir):
    """Seasonal index = month total / mean month total, replayed from
    the raw (month, quantity) pairs — validates the month extraction
    and the ratio-to-mean normalization."""
    rows = duckdb.connect().execute(
        "SELECT CAST(EXTRACT(month FROM l_shipdate) AS BIGINT),"
        f" l_quantity FROM read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchall()
    tot: dict = {}
    for m, qv in rows:
        tot[m] = tot.get(m, 0) + qv
    qty = {m: round(v, 2) for m, v in tot.items()}
    mean = round(sum(qty.values()) / len(qty), 6)
    got = {r["month"]: r for r in _Q["q_seasonal_index"](spark, sf_dir).collect()}
    assert set(got) == set(qty)
    for m in qty:
        assert abs(got[m]["qty"] - qty[m]) <= 0.02  # float-sum vs dsum slack
        assert abs(got[m]["seasonal_index"] - qty[m] / mean) <= 1e-5


def test_rrf_matches_published_fusion(spark, sf_dir):
    """Reciprocal-rank fusion: per query, rank by rounded cosine (desc)
    and rounded L2 (asc) with neighbor-id tie-breaks, keep top-10 each,
    fuse with Σ 1/(60 + r), keep top-5 by (rrf desc, neighbor) — the
    WHOLE pipeline replayed in python with the same left-to-right IEEE
    folds, so ranks and fused scores reproduce exactly."""
    rows = duckdb.connect().execute(
        "SELECT vec_id, embedding FROM"
        f" read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    vecs = {i: [float(x) for x in e] for i, e in rows}

    def seq_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def seq_sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    def norm(a):
        acc = 0.0
        for x in a:
            acc += x * x
        return math.sqrt(acc)

    want = set()
    for q in sorted(vecs):
        if q >= 20:
            continue
        others = [c for c in vecs if c != q]
        cos = sorted(
            others,
            key=lambda c: (
                -round(seq_dot(vecs[q], vecs[c]) / (norm(vecs[q]) * norm(vecs[c])), 6),
                c,
            ),
        )[:10]
        l2 = sorted(
            others, key=lambda c: (round(math.sqrt(seq_sq(vecs[q], vecs[c])), 6), c)
        )[:10]
        rrf: dict = {}
        for r, c in enumerate(cos, 1):
            rrf[c] = rrf.get(c, 0.0) + 1.0 / (60 + r)
        for r, c in enumerate(l2, 1):
            rrf[c] = rrf.get(c, 0.0) + 1.0 / (60 + r)
        top5 = sorted(rrf, key=lambda c: (-rrf[c], c))[:5]
        for c in top5:
            want.add((q, c, round(rrf[c], 9)))
    got = {
        (r["query_id"], r["neighbor_id"], r["rrf"])
        for r in _Q["q_sim_rrf_fusion"](spark, sf_dir).collect()
    }
    assert got == want


def test_nb_langid_matches_multinomial_definition(spark, sf_dir):
    """Multinomial Naive Bayes with Laplace smoothing replayed in pure
    python: per-language token likelihoods log2((c+1)/(N_l+V)), doc
    prior log2(d_l/d_all), argmax with language tie-break. Docs whose
    python top-2 margin is inside the log2-ulp jitter band are exempt
    from the argmax comparison (and counted — they must be rare)."""
    docs = duckdb.connect().execute(
        "SELECT doc_id, lang, text FROM"
        f" read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    c_lt: dict = {}
    n_l: dict = {}
    d_l: dict = {}
    vocab = set()
    toks_by_doc = {}
    for doc_id, lang, text in docs:
        ts = _toks(text)
        toks_by_doc[doc_id] = ts
        d_l[lang] = d_l.get(lang, 0) + 1
        for t in ts:
            c_lt[(lang, t)] = c_lt.get((lang, t), 0) + 1
            n_l[lang] = n_l.get(lang, 0) + 1
            vocab.add(t)
    v = len(vocab)
    d_all = len(docs)
    langs = sorted(d_l)
    prior = {
        l: round(math.log2(d_l[l]) - math.log2(d_all), 9) for l in langs
    }
    ambiguous = 0
    got = _Q["q_nb_langid"](spark, sf_dir).collect()
    # replay per-doc scores and compare the aggregate confusion matrix,
    # skipping jitter-ambiguous docs on BOTH sides via per-doc margins
    per_doc_pred = {}
    for doc_id, lang, text in docs:
        scores = {}
        for l in langs:
            s = sum(
                round(
                    math.log2(c_lt.get((l, t), 0) + 1)
                    - math.log2(n_l[l] + v),
                    9,
                )
                for t in toks_by_doc[doc_id]
            )
            scores[l] = s + prior[l]
        best = sorted(langs, key=lambda l: (-scores[l], l))
        margin = scores[best[0]] - scores[best[1]]
        if margin < 1e-6:
            ambiguous += 1
            per_doc_pred[doc_id] = None  # exempt
        else:
            per_doc_pred[doc_id] = (lang, best[0])
    want: dict = {}
    for p in per_doc_pred.values():
        if p is not None:
            want[p] = want.get(p, 0) + 1
    got_cells = {(r["actual"], r["predicted"]): r["n_docs"] for r in got}
    assert sum(got_cells.values()) == len(docs)
    # ambiguity must be a rare fringe, not a loophole
    assert ambiguous <= max(2, len(docs) // 100), ambiguous
    for cell, c in want.items():
        assert got_cells.get(cell, 0) >= c, (cell, c, got_cells.get(cell))
    # every unambiguous python prediction is inside the spark cell
    # counts; the ambiguous remainder accounts for the difference
    assert sum(got_cells.values()) - sum(want.values()) == ambiguous


# --- graph family: textbook replays (float, no quantization) ------------


def _partkeys(sf_dir):
    return [
        k
        for (k,) in duckdb.connect().execute(
            f"SELECT p_partkey FROM read_parquet('{sf_dir}/part.parquet')"
            " WHERE p_partkey >= 2"
        ).fetchall()
    ]


def test_pagerank_matches_textbook_definition(spark, sf_dir):
    """Damped PageRank with uniform teleport and uniform dangling
    redistribution, replayed in plain python floats WITHOUT the
    operator's 9dp per-step quantization — a damping/dangling semantics
    deviation shows at 1e-6 while the quantization noise stays ~1e-8."""
    edges = sorted({(k, k // 2) for k in _partkeys(sf_dir)})
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    out: dict = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {v: 1.0 / n for v in nodes}
    d = 0.85
    for _ in range(10):
        contrib: dict = {}
        for s, t in edges:
            contrib[t] = contrib.get(t, 0.0) + r[s] / out[s]
        dangling = sum(r[v] for v in nodes if v not in out)
        r = {
            v: (1.0 - d) / n + d * contrib.get(v, 0.0) + d * dangling / n
            for v in nodes
        }
    got = _Q["q_graph_pagerank"](spark, sf_dir).collect()
    assert len(got) == 50
    floor_50 = sorted(r.values(), reverse=True)[49]
    for row in got:
        assert abs(row["rank"] - r[row["node"]]) <= 1e-6, row
        # every returned node belongs in the python top-50 (mod ties)
        assert r[row["node"]] >= floor_50 - 1e-6


def test_hits_matches_textbook_definition(spark, sf_dir):
    """Kleinberg HITS: mutually-recursive hub/authority updates with
    per-half-step L1 normalization, 8 iterations, replayed in plain
    python floats — validates the update order (authority from hubs
    first, then hubs from authorities) and the normalization."""
    edges = sorted({(k, (k * k) % 97) for k in _partkeys(sf_dir)})
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    h = {v: 1.0 / len(nodes) for v in nodes}
    a = {}
    for _ in range(8):
        a_raw: dict = {}
        for s, t in edges:
            a_raw[t] = a_raw.get(t, 0.0) + h[s]
        norm = sum(a_raw.values())
        a = {v: a_raw.get(v, 0.0) / norm for v in nodes}
        h_raw: dict = {}
        for s, t in edges:
            h_raw[s] = h_raw.get(s, 0.0) + a[t]
        norm = sum(h_raw.values())
        h = {v: h_raw.get(v, 0.0) / norm for v in nodes}
    got = _Q["q_graph_hits"](spark, sf_dir).collect()
    assert len(got) == 30
    floor_30 = sorted(a.values(), reverse=True)[29]
    for row in got:
        assert abs(row["authority"] - a[row["node"]]) <= 1e-6, row
        assert abs(row["hub"] - h[row["node"]]) <= 1e-6, row
        assert a[row["node"]] >= floor_30 - 1e-6


def test_kcore_matches_peeling_fixpoint(spark, sf_dir):
    """2-core by repeated deletion of degree<2 nodes, peeled in python
    UNTIL THE FIXPOINT (not a fixed round count) — validates both the
    core membership/degrees and that the query's 10 unrolled rounds
    reach convergence on this graph."""
    ks = _partkeys(sf_dir)
    raw = [(k, k // 2) for k in ks] + [
        (k, k + 1) for k in ks if k % 2 == 0 and (k + 1) in set(ks)
    ]
    edges = {(min(s, d), max(s, d)) for s, d in raw if s != d}
    while True:
        deg: dict = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {v for v, c in deg.items() if c >= 2}
        nxt = {(a, b) for a, b in edges if a in keep and b in keep}
        if nxt == edges:
            break
        edges = nxt
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    got = {r["node"]: r["core_degree"] for r in _Q["q_graph_kcore"](spark, sf_dir).collect()}
    assert got == deg


def test_closure_matches_ancestor_chain_replay(spark, sf_dir):
    """Transitive closure of the binary-tree parent edges: every node's
    ancestor set is its halving chain k//2, k//4, ..., 1 — replayed
    directly, so the path-doubling fixpoint is checked against the
    closed form (the recursive-CTE oracle is itself independent; this
    adds a third, engine-free witness)."""
    counts: dict = {}
    for k in _partkeys(sf_dir):
        a = k // 2
        while a >= 1:
            counts[a] = counts.get(a, 0) + 1
            if a < 2:
                break
            a //= 2
    got = {
        r["ancestor"]: r["n_descendants"]
        for r in _Q["q_graph_closure"](spark, sf_dir).collect()
    }
    assert got == counts


def test_zipf_matches_ols_definition(spark, sf_dir):
    """Zipf fit: OLS of log2(count) on log2(rank) over the top-200
    tokens (rank ties broken by token), replayed with fresh float
    log2/products — validates the rank construction and the closed-form
    slope/intercept/r² against the textbook least-squares formulas."""
    docs = duckdb.connect().execute(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    cnt: dict = {}
    for (text,) in docs:
        for t in _toks(text):
            cnt[t] = cnt.get(t, 0) + 1
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:200]
    xs = [math.log2(r) for r in range(1, len(top) + 1)]
    ys = [math.log2(c) for _, c in top]
    n = len(top)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    got = _Q["q_tokens_zipf"](spark, sf_dir).collect()[0]
    assert got.n_ranks == n
    assert abs(got.zipf_slope - slope) <= 1e-5
    assert abs(got.intercept - intercept) <= 1e-5
    assert abs(got.r2 - r2) <= 1e-5


def test_vocab_growth_matches_heaps_curve_replay(spark, sf_dir):
    """Heaps curve: cumulative tokens and cumulative DISTINCT vocab in
    doc order at ten NTILE checkpoints, replayed in python with a set —
    validates the first-occurrence accounting (each token charges
    exactly one doc) and the exact-ntile boundary pick."""
    docs = duckdb.connect().execute(
        "SELECT doc_id, text FROM"
        f" read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    seen: set = set()
    cum_t = 0
    curve = []  # (doc_id, cum_tokens, cum_vocab) per doc in order
    for doc_id, text in docs:
        ts = _toks(text)
        cum_t += len(ts)
        seen.update(ts)
        curve.append((doc_id, cum_t, len(seen)))
    n = len(curve)
    q, r = divmod(n, 10)
    want = {}
    pos = 0
    for dec in range(1, 11):
        size = q + (1 if dec <= r else 0)
        if size == 0:
            continue
        pos += size
        doc_id, ct, cv = curve[pos - 1]  # boundary row: cums are monotone
        want[dec] = (doc_id, ct, cv)
    got = {
        row["decile"]: (row["last_doc"], row["cum_tokens"], row["cum_vocab"])
        for row in _Q["q_vocab_growth"](spark, sf_dir).collect()
    }
    assert got == want


def test_roc_auc_matches_probabilistic_definition(spark, sf_dir):
    """AUC = P(score₊ > score₋) + ½·P(score₊ = score₋), counted
    directly over all (positive, negative) pairs with bisect — the
    definitional twin of the rank-sum identity the query (and its
    oracle) use. Validates the label/score derivation end-to-end."""
    import bisect

    rows = duckdb.connect().execute(
        "SELECT CAST(floor(o_totalprice) AS BIGINT),"
        " CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"
        f" FROM read_parquet('{sf_dir}/orders.parquet')"
    ).fetchall()
    pos = sorted(v for v, p in rows if p)
    neg = sorted(v for v, p in rows if not p)
    wins = halves = 0
    for v in pos:
        lt = bisect.bisect_left(neg, v)
        eq = bisect.bisect_right(neg, v) - lt
        wins += lt
        halves += eq
    auc = (wins + halves / 2) / (len(pos) * len(neg))
    got = _Q["q_roc_auc"](spark, sf_dir).collect()[0]
    assert (got.n_pos, got.n_neg) == (len(pos), len(neg))
    assert abs(got.auc - auc) <= 1e-9, (got.auc, auc)


def test_decile_lift_matches_sorted_replay(spark, sf_dir):
    """The decile table replayed from a plain python sort: per-customer
    spend (decimal HALF_UP at 2dp, mirroring F.round), rank by
    (spend desc, custkey), exact-NTILE cut, per-decile size /
    urgent rate / average spend — validating the hand-built
    global_rank + ntile_from_rank machinery against the definition."""
    from decimal import ROUND_HALF_UP, Decimal

    rows = duckdb.connect().execute(
        "SELECT o_custkey, o_totalprice,"
        " CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"
        f" FROM read_parquet('{sf_dir}/orders.parquet')"
    ).fetchall()
    spend: dict = {}
    urgent: dict = {}
    for ck, p, u in rows:
        spend[ck] = spend.get(ck, Decimal(0)) + Decimal(str(p))
        urgent[ck] = max(urgent.get(ck, 0), u)
    spend = {
        ck: float(v.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))
        for ck, v in spend.items()
    }
    order = sorted(spend, key=lambda ck: (-spend[ck], ck))
    n = len(order)
    q, r = divmod(n, 10)
    want = {}
    pos = 0
    for dec in range(1, 11):
        size = q + (1 if dec <= r else 0)
        if size == 0:
            continue
        grp = order[pos : pos + size]
        pos += size
        tot = sum(Decimal(str(spend[ck])) for ck in grp)
        want[dec] = (
            size,
            round(sum(urgent[ck] for ck in grp) / size, 6),
            round(float(tot) / size, 6),
        )
    got = {
        row["decile"]: (
            row["n_customers"],
            row["urgent_rate"],
            row["avg_spend"],
        )
        for row in _Q["q_decile_lift"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for dec in want:
        assert got[dec][0] == want[dec][0]
        assert abs(got[dec][1] - want[dec][1]) <= 5e-7
        assert abs(got[dec][2] - want[dec][2]) <= 5e-5


def test_abc_matches_pareto_rule_replay(spark, sf_dir):
    """ABC/Pareto classification replayed with exact Decimals: per-part
    revenue Σ price·(1−disc), rank by (rev desc, partkey), class by the
    integer-scaled cuts 100·cum ≤ 80·total (A) / ≤ 95·total (B) — the
    published 80/95 rule checked independently of both engines' window
    constructions."""
    from decimal import Decimal

    rows = duckdb.connect().execute(
        "SELECT l_partkey, l_extendedprice, l_discount FROM"
        f" read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchall()
    rev: dict = {}
    for pk, price, disc in rows:
        rev[pk] = rev.get(pk, Decimal(0)) + Decimal(str(price)) * (
            Decimal(1) - Decimal(str(disc))
        )
    order = sorted(rev, key=lambda pk: (-rev[pk], pk))
    total = sum(rev.values())
    want: dict = {}
    cum = Decimal(0)
    for pk in order:
        cum += rev[pk]
        cls = "A" if 100 * cum <= 80 * total else ("B" if 100 * cum <= 95 * total else "C")
        n, s = want.get(cls, (0, Decimal(0)))
        want[cls] = (n + 1, s + rev[pk])
    got = {
        r["abc_class"]: r for r in _Q["q_abc_classification"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for cls, (n, s) in want.items():
        assert got[cls]["n_parts"] == n
        assert abs(got[cls]["class_revenue"] - float(s)) <= 0.02
        assert abs(got[cls]["revenue_share"] - float(s / total)) <= 5e-7


def test_rfm_matches_quintile_replay(spark, sf_dir):
    """RFM segmentation replayed from plain python sorts: recency days
    to the corpus max date, frequency, HALF_UP-2dp monetary; three
    independent exact-NTILE(5) cuts (recency asc / frequency desc /
    monetary desc, custkey ties) — the triple application of the
    ranking machinery checked against the definition."""
    from decimal import ROUND_HALF_UP, Decimal

    rows = duckdb.connect().execute(
        "SELECT o_custkey, o_orderdate, o_totalprice FROM"
        f" read_parquet('{sf_dir}/orders.parquet')"
    ).fetchall()
    last: dict = {}
    freq: dict = {}
    mon: dict = {}
    for ck, d, p in rows:
        last[ck] = max(last.get(ck, d), d)
        freq[ck] = freq.get(ck, 0) + 1
        mon[ck] = mon.get(ck, Decimal(0)) + Decimal(str(p))
    corpus_max = max(last.values())
    rec = {ck: (corpus_max - v).days for ck, v in last.items()}
    mon = {
        ck: float(v.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))
        for ck, v in mon.items()
    }

    def quintile(order):
        n = len(order)
        q, r = divmod(n, 5)
        out = {}
        pos = 0
        for b in range(1, 6):
            size = q + (1 if b <= r else 0)
            for ck in order[pos : pos + size]:
                out[ck] = b
            pos += size
        return out

    rq = quintile(sorted(rec, key=lambda ck: (rec[ck], ck)))
    fq = quintile(sorted(freq, key=lambda ck: (-freq[ck], ck)))
    mq = quintile(sorted(mon, key=lambda ck: (-mon[ck], ck)))
    want: dict = {}
    for ck in rec:
        seg = f"R{rq[ck]}F{fq[ck]}M{mq[ck]}"
        n, s = want.get(seg, (0, 0.0))
        want[seg] = (n + 1, s + mon[ck])
    got = {
        r["segment"]: r for r in _Q["q_customer_rfm"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for seg, (n, s) in want.items():
        assert got[seg]["n_customers"] == n
        assert abs(got[seg]["total_monetary"] - s) <= 0.02


def test_rfm_unpivot_rank_matches_three_pass(spark):
    """r14 rewrite pin: the single unpivoted global_rank pass behind
    q_customer_rfm must reproduce the three independent per-metric
    global_rank passes (the r13 form) on every boundary the
    order-isomorphic mapping touches — NULL monetary (desc NULLS LAST
    ≡ −m asc with NULL→+inf), tied monetary / tied frequency (custkey
    break), zero monetary (−0.0 vs 0.0 sort normalization), and a
    non-multiple-of-5 customer count for the NTILE remainders."""
    from pyspark.sql import functions as F

    from modevetl_spark.operators.ranking import global_rank

    rows = [
        # (custkey, recency_days, frequency, monetary)
        (1, 10, 3, 100.0), (2, 10, 3, 100.0),   # full tie pair
        (3, 5, 7, None), (4, 5, 7, None),        # NULL monetary pair
        (5, 99, 1, 0.0), (6, 0, 1, 0.0),         # zero monetary
        (7, 42, 2, -50.0),                        # negative monetary
    ]
    base = spark.createDataFrame(
        rows,
        "o_custkey long, recency_days int, frequency long, monetary double",
    )

    def three_pass(metric_col, keys, rank_col):
        return {
            r["o_custkey"]: r[rank_col]
            for r in global_rank(
                base.select("o_custkey", metric_col), keys, rank_col=rank_col
            ).collect()
        }

    want = {
        "r": three_pass(
            "recency_days", ["recency_days", "o_custkey"], "_rr"
        ),
        "f": three_pass(
            "frequency", [F.col("frequency").desc(), F.col("o_custkey")], "_rf"
        ),
        "m": three_pass(
            "monetary", [F.col("monetary").desc(), F.col("o_custkey")], "_rm"
        ),
    }

    unp = base.select(
        "o_custkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit("f").alias("metric"),
                    (-F.col("frequency").cast("double")).alias("sval"),
                ),
                F.struct(
                    F.lit("m").alias("metric"),
                    F.coalesce(
                        -F.col("monetary"), F.lit(float("inf"))
                    ).alias("sval"),
                ),
                F.struct(
                    F.lit("r").alias("metric"),
                    F.coalesce(
                        F.col("recency_days").cast("double"),
                        F.lit(float("-inf")),
                    ).alias("sval"),
                ),
            )
        ).alias("e"),
    ).select("o_custkey", "e.metric", "e.sval")
    n = len(rows)
    idx = {"f": 0, "m": 1, "r": 2}
    got: dict = {"r": {}, "f": {}, "m": {}}
    for r in global_rank(
        unp, ["metric", "sval", "o_custkey"], rank_col="_rn"
    ).collect():
        got[r["metric"]][r["o_custkey"]] = r["_rn"] - idx[r["metric"]] * n
    assert got == want


def test_funnel_matches_ordered_step_replay(spark, sf_dir):
    """Strictly-ordered funnel (view → click → purchase, each step's
    FIRST occurrence strictly after the previous step's time) replayed
    per user in python from the raw event stream — validates the
    min-after-previous-step semantics against e.g. any-order or
    same-timestamp counting."""
    rows = duckdb.connect().execute(
        "SELECT user_id, event_type, CAST(ts AS TIMESTAMP) FROM"
        f" read_parquet('{sf_dir}/events.parquet')"
        " WHERE event_type IN ('view', 'click', 'purchase')"
    ).fetchall()
    by_user: dict = {}
    for u, et, ts in rows:
        by_user.setdefault(u, []).append((ts, et))
    n1 = n2 = n3 = 0
    for evs in by_user.values():
        t1 = min((ts for ts, et in evs if et == "view"), default=None)
        if t1 is None:
            continue
        n1 += 1
        t2 = min(
            (ts for ts, et in evs if et == "click" and ts > t1), default=None
        )
        if t2 is None:
            continue
        n2 += 1
        if any(et == "purchase" and ts > t2 for ts, et in evs):
            n3 += 1
    got = {
        r["stage"]: r["n_users"]
        for r in _Q["q_funnel_conversion"](spark, sf_dir).collect()
    }
    assert got == {
        "view": n1,
        "view>click": n2,
        "view>click>purchase": n3,
    }


def test_funnel_window_form_matches_join_form(spark):  # noqa: C901
    """r14 rewrite pin (guide §2.1): the one-exchange stacked-window
    funnel must agree with the pre-r14 aggregate+join chain on every
    boundary the rewrite touches — same-timestamp ties at each stage
    (strict ``>`` keeps them excluded), NULL user_id (counts in stage 1
    via the NULL group, never in stages 2/3 where the old equi-join
    dropped it), NULL timestamps (an all-NULL-ts view user still counts
    in stage 1; a NULL ts never advances a stage), and clicks before
    the first view. The join form is rebuilt inline here verbatim from
    the pre-r14 query body."""
    from datetime import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    t = datetime(2024, 1, 1, 12, 0, 0)

    def ts(sec):
        return datetime(2024, 1, 1, 12, 0, sec)

    rows = [
        # u1: clean conversion
        (1, "view", ts(0)), (1, "click", ts(1)), (1, "purchase", ts(2)),
        # u2: click ties t1 exactly -> excluded; later click converts
        (2, "view", ts(0)), (2, "click", ts(0)), (2, "click", ts(5)),
        (2, "purchase", ts(5)),  # ties t2 -> excluded from stage 3
        # u3: click BEFORE first view only
        (3, "click", ts(0)), (3, "view", ts(1)),
        # u4: view with NULL ts only -> stage 1 yes, never stage 2
        (4, "view", None), (4, "click", ts(9)),
        # u5: NULL ts click between valid steps
        (5, "view", ts(0)), (5, "click", None), (5, "purchase", ts(3)),
        # NULL user: full chain present, old join form drops it at s2
        (None, "view", ts(0)), (None, "click", ts(1)),
        (None, "purchase", ts(2)),
        # u6: purchase before click
        (6, "view", ts(0)), (6, "purchase", ts(1)), (6, "click", ts(2)),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )

    # pre-r14 join form, verbatim
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    expected = {"view": s1.count(), "view>click": s2.count(),
                "view>click>purchase": s3.count()}

    # r14 window form, verbatim from queries/analytics.funnel_conversion
    w = Window.partitionBy("user_id")
    enr = (
        ev.withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = enr.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", F.lit(1))).alias(
            "has_view"
        ),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
    )
    got_row = per_user.agg(
        F.count("has_view").alias("n1"),
        F.count(F.when(F.col("user_id").isNotNull(), F.col("t2"))).alias("n2"),
        F.count(F.when(F.col("user_id").isNotNull(), F.col("t3"))).alias("n3"),
    ).collect()[0]
    got = {"view": got_row.n1, "view>click": got_row.n2,
           "view>click>purchase": got_row.n3}
    assert got == expected
    # and the fixture-independent sanity: the hostile frame exercises
    # every branch — u2's tie-at-t1 click and tie-at-t2 purchase are
    # excluded, the NULL user reaches only stage 1, u4's NULL-ts view
    # still counts there — guards against a vacuous pass if edited
    assert expected == {"view": 7, "view>click": 3,
                        "view>click>purchase": 1}


def test_retention_cohorts_matches_week_replay(spark, sf_dir):
    """Weekly retention: cohort = Monday-start week of each user's
    first event, one count per DISTINCT (cohort, week-offset) of later
    activity — replayed in python with datetime arithmetic (validates
    the week truncation convention and the count-once-per-week
    semantics)."""
    import datetime

    rows = duckdb.connect().execute(
        "SELECT user_id, CAST(ts AS TIMESTAMP) FROM"
        f" read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()

    def week_start(ts):
        d = ts.date()
        return d - datetime.timedelta(days=d.weekday())  # Monday start

    first: dict = {}
    for u, ts in rows:
        first[u] = min(first.get(u, ts), ts)
    cohort = {u: week_start(ts) for u, ts in first.items()}
    cells: set = set()
    for u, ts in rows:
        off = (week_start(ts) - cohort[u]).days // 7
        cells.add((u, cohort[u], off))
    want: dict = {}
    for _, cw, off in cells:
        want[(cw, off)] = want.get((cw, off), 0) + 1
    got = {
        (r["cohort_week"].date(), r["week_offset"]): r["n_users"]
        for r in _Q["q_retention_cohorts"](spark, sf_dir).collect()
    }
    assert got == want


def test_skyline_matches_dominance_definition(spark, sf_dir):
    """2-D Pareto frontier by the dominance DEFINITION (a point
    survives iff no other point is ≤ price and ≥ size with one strict)
    — a third witness beside the query's O(n log n) sweep and the
    oracle's quadratic NOT EXISTS."""
    pts = {
        (p, s)
        for p, s in duckdb.connect().execute(
            "SELECT DISTINCT p_retailprice, p_size FROM"
            f" read_parquet('{sf_dir}/part.parquet')"
        ).fetchall()
    }
    want = {
        (p, s)
        for p, s in pts
        if not any(
            qp <= p and qs >= s and (qp < p or qs > s) for qp, qs in pts
        )
    }
    got = {
        (r["price"], r["size"])
        for r in _Q["q_skyline_pareto"](spark, sf_dir).collect()
    }
    assert got == want


def test_apportion_matches_largest_remainder_method(spark, sf_dir):
    """Hamilton/largest-remainder apportionment replayed in python:
    floor the ideal share of 1000 slots, hand the leftover to the
    largest remainders (source-name ties) — and the defining invariant,
    Σ slots == 1000 exactly."""
    counts = dict(
        duckdb.connect().execute(
            "SELECT source, COUNT(*) FROM"
            f" read_parquet('{sf_dir}/documents.parquet') GROUP BY source"
        ).fetchall()
    )
    n = sum(counts.values())
    base = {s: 1000 * c // n for s, c in counts.items()}
    rem = {s: 1000 * c % n for s, c in counts.items()}
    leftover = 1000 - sum(base.values())
    order = sorted(counts, key=lambda s: (-rem[s], s))
    slots = {
        s: base[s] + (1 if i < leftover else 0) for i, s in enumerate(order)
    }
    got = {r["source"]: r for r in _Q["q_apportion_slots"](spark, sf_dir).collect()}
    assert set(got) == set(counts)
    assert sum(r["slots"] for r in got.values()) == 1000
    for s in counts:
        assert got[s]["n_docs"] == counts[s]
        assert got[s]["base"] == base[s]
        assert got[s]["slots"] == slots[s]


def test_attribution_last_touch_matches_rule_replay(spark, sf_dir):
    """Last-touch attribution replayed per purchase in python: clicks
    of the same user in the trailing one-hour window (inclusive ends),
    count them, pick the latest (click-id ties broken high) — pins the
    window bounds and the tie rule."""
    import datetime

    rows = duckdb.connect().execute(
        "SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) FROM"
        f" read_parquet('{sf_dir}/events.parquet')"
        " WHERE event_type IN ('click', 'purchase')"
    ).fetchall()
    clicks: dict = {}
    for eid, u, et, ts in rows:
        if et == "click":
            clicks.setdefault(u, []).append((ts, eid))
    want = {}
    hour = datetime.timedelta(hours=1)
    for eid, u, et, ts in rows:
        if et != "purchase":
            continue
        cand = [
            (cts, cid)
            for cts, cid in clicks.get(u, [])
            if ts - hour <= cts <= ts
        ]
        if cand:
            last = max(cand)  # latest ts, then highest click_id
            want[eid] = (u, ts, len(cand), last[0], last[1])
    got = {
        r["buy_id"]: (
            r["user_id"],
            r["buy_ts"],
            r["n_clicks"],
            r["last_click_ts"],
            r["last_click_id"],
        )
        for r in _Q["q_attribution_last_touch"](spark, sf_dir).collect()
    }
    assert got == want


def test_streak_islands_matches_consecutive_run_replay(spark, sf_dir):
    """Gaps-and-islands: per user, the LONGEST run of consecutive
    active days (earliest-start ties), streaks >= 3 only — replayed
    with a direct day-walk over the sorted distinct-day list,
    independent of the day−row_number anchor trick."""
    import datetime

    rows = duckdb.connect().execute(
        "SELECT DISTINCT user_id, CAST(date_trunc('day', CAST(ts AS"
        " TIMESTAMP)) AS DATE) FROM"
        f" read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    days: dict = {}
    for u, d in rows:
        days.setdefault(u, []).append(d)
    want = {}
    one = datetime.timedelta(days=1)
    for u, ds in days.items():
        ds.sort()
        best = None  # (len, start, end)
        start = prev = ds[0]
        for d in ds[1:] + [None]:
            if d is not None and d == prev + one:
                prev = d
                continue
            run = ((prev - start).days + 1, start, prev)
            if best is None or run[0] > best[0] or (
                run[0] == best[0] and run[1] < best[1]
            ):
                best = run
            if d is not None:
                start = prev = d
        if best[0] >= 3:
            want[u] = best
    got = {
        r["user_id"]: (
            r["streak_days"],
            r["streak_start"].date(),
            r["streak_end"].date(),
        )
        for r in _Q["q_streak_islands"](spark, sf_dir).collect()
    }
    assert got == want


def test_event_transitions_matches_markov_count_replay(spark, sf_dir):
    """First-order Markov transition counts over per-user event
    sequences ordered by (ts, event_id) — replayed with a plain python
    sort per user."""
    rows = duckdb.connect().execute(
        "SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP)"
        f" FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    by_user: dict = {}
    for u, eid, et, ts in rows:
        by_user.setdefault(u, []).append((ts, eid, et))
    want: dict = {}
    for evs in by_user.values():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            want[(a, b)] = want.get((a, b), 0) + 1
    got = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in _Q["q_event_transitions"](spark, sf_dir).collect()
    }
    assert got == want


def test_gapfill_interp_matches_linear_definition(spark, sf_dir):
    """Linear interpolation on the day grid: for each missing day,
    v = prev + (next − prev)·(Δdays/Δspan) between the neighboring
    OBSERVED days — replayed per user in python (validates neighbor
    selection and the interpolation formula, not just bounds)."""
    rows = duckdb.connect().execute(
        "SELECT user_id, CAST(ts AS DATE), ROUND(CAST(SUM(CAST(value AS"
        " DECIMAL(18,6))) AS DOUBLE), 6) FROM"
        f" read_parquet('{sf_dir}/events.parquet') GROUP BY 1, 2"
    ).fetchall()
    import datetime

    daily: dict = {}
    for u, d, v in rows:
        daily.setdefault(u, {})[d] = v
    one = datetime.timedelta(days=1)
    want = {}
    for u, dv in daily.items():
        ds = sorted(dv)
        obs = ds
        for i, (a, b) in enumerate(zip(obs, obs[1:])):
            want[(u, a)] = (dv[a], True)
            d = a + one
            while d < b:
                frac = (d - a).days / (b - a).days
                want[(u, d)] = (round(dv[a] + (dv[b] - dv[a]) * frac, 6), False)
                d += one
        want[(u, obs[-1])] = (dv[obs[-1]], True)
    got = {
        (r["user_id"], r["day"].date()): (r["value_filled"], r["observed"])
        for r in _Q["q_gapfill_interp"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k, (v, o) in want.items():
        assert got[k][1] == o, k
        assert abs(got[k][0] - v) <= 1e-9, (k, got[k][0], v)


def test_concurrency_sweep_matches_direct_count(spark, sf_dir):
    """The delta/cumsum sweep-line rewrite vs the DEFINITION: for every
    emitted step day, n_active = #users whose [first-day, last-day]
    span covers it, counted directly."""
    rows = duckdb.connect().execute(
        "SELECT user_id, MIN(CAST(date_trunc('day', CAST(ts AS"
        " TIMESTAMP)) AS DATE)), MAX(CAST(date_trunc('day', CAST(ts AS"
        " TIMESTAMP)) AS DATE)) FROM"
        f" read_parquet('{sf_dir}/events.parquet') GROUP BY user_id"
    ).fetchall()
    spans = [(lo, hi) for _, lo, hi in rows]
    got = _Q["q_concurrent_users_sweep"](spark, sf_dir).collect()
    assert got
    for r in got:
        day = r["day"].date()
        direct = sum(1 for lo, hi in spans if lo <= day <= hi)
        assert r["n_active"] == direct, (day, r["n_active"], direct)


def test_rolling_wau_matches_direct_window_count(spark, sf_dir):
    """The first-occurrence/contribution rewrite vs the DEFINITION:
    wau(day) = distinct users with any activity in [day−6, day],
    counted directly per active day."""
    import datetime

    rows = duckdb.connect().execute(
        "SELECT DISTINCT user_id, CAST(ts AS DATE) FROM"
        f" read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    by_day: dict = {}
    for u, d in rows:
        by_day.setdefault(d, set()).add(u)
    days = sorted(by_day)
    got = {
        r["day"].date(): r["wau_7d"]
        for r in _Q["q_rolling_active_users"](spark, sf_dir).collect()
    }
    assert set(got) == set(days)
    for d in days:
        window = set()
        for k in range(7):
            window |= by_day.get(d - datetime.timedelta(days=k), set())
        assert got[d] == len(window), (d, got[d], len(window))


def test_session_paths_matches_journey_replay(spark, sf_dir):
    """Top user journeys: per (user, day) the first five events by
    (ts, event_id) joined with '>', top-20 paths by (count desc, path)
    — replayed with plain python sorts."""
    rows = duckdb.connect().execute(
        "SELECT user_id, CAST(ts AS DATE), CAST(ts AS TIMESTAMP),"
        " event_id, event_type FROM"
        f" read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    by_ud: dict = {}
    for u, d, ts, eid, et in rows:
        by_ud.setdefault((u, d), []).append((ts, eid, et))
    counts: dict = {}
    for evs in by_ud.values():
        evs.sort()
        path = ">".join(et for _, _, et in evs[:5])
        counts[path] = counts.get(path, 0) + 1
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r["path"], r["n_user_days"])
        for r in _Q["q_session_paths"](spark, sf_dir).collect()
    ]
    assert got == want


# --- deterministic sampling family: exact hash-rule replays --------------
# (the r5 nondeterminism bug class: any layout-derived selection is a
# latent hazard — these pin each rule as a pure function of the data)


def test_sample_hash_matches_md5_rule_exactly(spark, sf_dir):
    """Content-hash sampling: keep iff md5(key)[:4] < '199a' — replayed
    with hashlib, exact set equality on the kept keys."""
    import hashlib

    rows = duckdb.connect().execute(
        "SELECT o_orderkey, o_totalprice FROM"
        f" read_parquet('{sf_dir}/orders.parquet')"
    ).fetchall()
    want = {
        (k, p)
        for k, p in rows
        if hashlib.md5(str(k).encode()).hexdigest()[:4] < "199a"
    }
    got = {
        (r["o_orderkey"], r["o_totalprice"])
        for r in _Q["q_sample_hash"](spark, sf_dir).collect()
    }
    assert got == want


def test_sample_systematic_matches_every_kth_rule(spark, sf_dir):
    """Systematic sampling: rank all orders by (o_orderdate,
    o_orderkey), keep every 50th — replayed with a plain python sort,
    exact row equality (this key's r5 bug WAS layout-derived rank
    nondeterminism; the replay pins the selection as a pure function
    of the data)."""
    rows = duckdb.connect().execute(
        "SELECT o_orderkey, o_totalprice, o_orderdate FROM"
        f" read_parquet('{sf_dir}/orders.parquet')"
    ).fetchall()
    order = sorted(rows, key=lambda r: (r[2], r[0]))
    want = {
        (i + 1, k, p)
        for i, (k, p, _) in enumerate(order)
        if (i + 1) % 50 == 0
    }
    got = {
        (r["sample_rank"], r["o_orderkey"], r["o_totalprice"])
        for r in _Q["q_sample_systematic"](spark, sf_dir).collect()
    }
    assert got == want


def test_split_assign_matches_hash_bucket_rule(spark, sf_dir):
    """Train/val/test split: md5(doc_id)[:4] against the '199a'/'e666'
    cut points (~10/80/10) — replayed with hashlib, exact counts."""
    import hashlib

    ids = [
        d
        for (d,) in duckdb.connect().execute(
            f"SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    ]
    want: dict = {}
    for d in ids:
        b = hashlib.md5(str(d).encode()).hexdigest()[:4]
        split = "test" if b < "199a" else ("train" if b < "e666" else "val")
        want[split] = want.get(split, 0) + 1
    got = {
        r["split"]: r["n_docs"]
        for r in _Q["q_split_assign"](spark, sf_dir).collect()
    }
    assert got == want


def test_domain_quota_matches_keyed_hash_rule(spark, sf_dir):
    """Per-source quota: keep the 5 docs with the smallest
    md5('quota:' || doc_id) per source (doc_id ties) — replayed with
    hashlib, exact (source, doc_id) set equality."""
    import hashlib

    rows = duckdb.connect().execute(
        "SELECT source, doc_id FROM"
        f" read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    by_src: dict = {}
    for s, d in rows:
        by_src.setdefault(s, []).append(d)
    want = set()
    for s, ds in by_src.items():
        picked = sorted(
            ds,
            key=lambda d: (
                hashlib.md5(f"quota:{d}".encode()).hexdigest(),
                d,
            ),
        )[:5]
        for rank, d in enumerate(picked, 1):
            want.add((s, d, rank))
    got = {
        (r["source"], r["doc_id"], r["rn"])
        for r in _Q["q_domain_quota_sample"](spark, sf_dir).collect()
    }
    assert got == want


def test_sample_weighted_matches_sequential_poisson_rule(spark, sf_dir):
    """Sequential Poisson sampling (Ohlsson 1998): priority =
    (u32(md5) · 10⁶) div weight, k smallest win (doc_id ties) —
    replayed with hashlib integer arithmetic, exact row equality
    including the priorities."""
    import hashlib

    rows = duckdb.connect().execute(
        "SELECT doc_id, source, n_chars FROM"
        f" read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    scored = [
        (
            int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16)
            * 1000000
            // n,
            d,
            s,
            n,
        )
        for d, s, n in rows
    ]
    want = {
        (d, s, n, pri)
        for pri, d, s, n in sorted(scored, key=lambda t: (t[0], t[1]))[:100]
    }
    got = {
        (r["doc_id"], r["source"], r["n_chars"], r["priority"])
        for r in _Q["q_sample_weighted"](spark, sf_dir).collect()
    }
    assert got == want


def test_hist_equidepth_matches_bucket_rule(spark, sf_dir):
    """Equi-depth histogram on the dollar-floored domain: bucket =
    min(ceil(cum·8/n), 8) per VALUE GROUP (groups never split), with
    per-bucket counts and [lo, hi] — replayed with a python cumsum."""
    rows = duckdb.connect().execute(
        "SELECT CAST(floor(o_totalprice) AS BIGINT), COUNT(*) FROM"
        f" read_parquet('{sf_dir}/orders.parquet') GROUP BY 1 ORDER BY 1"
    ).fetchall()
    n = sum(c for _, c in rows)
    want: dict = {}
    cum = 0
    for v, c in rows:
        cum += c
        b = min(-((-cum * 8) // n), 8)  # ceil via neg floor-div
        nr, lo, hi = want.get(b, (0, v, v))
        want[b] = (nr + c, min(lo, v), max(hi, v))
    got = {
        r["bucket"]: (r["n_rows"], r["lo"], r["hi"])
        for r in _Q["q_hist_equidepth"](spark, sf_dir).collect()
    }
    assert got == want


def test_time_to_convert_matches_lag_quantile_replay(spark, sf_dir):
    """First-view → first-purchase-after-view lag in whole seconds,
    with linearly-interpolated quantiles (the quantile_cont/percentile
    convention: rank = (n−1)·p, lerp between neighbors) — replayed in
    python from the raw event stream."""
    import datetime

    rows = duckdb.connect().execute(
        "SELECT user_id, event_type, CAST(ts AS TIMESTAMP) FROM"
        f" read_parquet('{sf_dir}/events.parquet')"
        " WHERE event_type IN ('view', 'purchase')"
    ).fetchall()
    epoch = datetime.datetime(1970, 1, 1)
    fv: dict = {}
    for u, et, ts in rows:
        if et == "view":
            fv[u] = min(fv.get(u, ts), ts)
    fp: dict = {}
    for u, et, ts in rows:
        if et == "purchase" and u in fv and ts >= fv[u]:
            fp[u] = min(fp.get(u, ts), ts)
    lags = sorted(
        int((fp[u] - epoch).total_seconds() // 1)
        - int((fv[u] - epoch).total_seconds() // 1)
        for u in fp
    )

    def qcont(p):
        r = (len(lags) - 1) * p
        i = int(r)
        frac = r - i
        return lags[i] + (lags[min(i + 1, len(lags) - 1)] - lags[i]) * frac

    got = _Q["q_time_to_convert"](spark, sf_dir).collect()[0]
    assert got.n_converted == len(lags)
    assert abs(got.p25_sec - qcont(0.25)) <= 1e-6
    assert abs(got.p50_sec - qcont(0.50)) <= 1e-6
    assert abs(got.p90_sec - qcont(0.90)) <= 1e-6


def test_anomaly_days_matches_trailing_z_rule(spark, sf_dir):
    """Trailing-window anomaly rule replayed day-by-day: mean/variance
    over the 14-preceding-to-1-preceding frame (population form via
    E[x²]−E[x]², 6dp per the declared float discipline), flag iff
    n_trail ≥ 7, var > 0 and |z| > 2 — validates the frame bounds and
    the rule, not just the arithmetic."""
    daily = duckdb.connect().execute(
        "SELECT day, ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))"
        " AS DOUBLE), 2) FROM (SELECT date_trunc('day', o_orderdate) AS"
        f" day, o_totalprice FROM read_parquet('{sf_dir}/orders.parquet'))"
        " GROUP BY day ORDER BY day"
    ).fetchall()
    want = {}
    for i, (day, rev) in enumerate(daily):
        trail = [r for _, r in daily[max(0, i - 14) : i]]
        if len(trail) < 7:
            continue
        m = round(sum(trail) / len(trail), 6)
        var = round(
            max(sum(r * r for r in trail) / len(trail) - (sum(trail) / len(trail)) ** 2, 0.0),
            6,
        )
        if var <= 0:
            continue
        z = (rev - m) / math.sqrt(var)
        if abs(z) > 2.0:
            want[day] = (rev, m, round(z, 6))
    got = {
        r["day"].date(): (r["revenue"], r["trail_mean"], r["z"])
        for r in _Q["q_anomaly_days"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for d, (rev, m, z) in want.items():
        assert got[d][0] == rev
        assert abs(got[d][1] - m) <= 1e-6
        assert abs(got[d][2] - z) <= 1e-4


def test_text_containment_matches_definition(spark, sf_dir):
    """Asymmetric shingle containment |A∩B|/|A| ≥ 0.5 over
    discriminative word-3-shingles (document frequency in [2, 20]) —
    replayed with python sets from a fresh tokenizer."""
    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    sh: dict = {}
    for doc_id, text in docs:
        ts = _toks(text)
        sh[doc_id] = {
            " ".join(ts[i : i + 3]) for i in range(len(ts) - 2)
        }
    df: dict = {}
    for s in sh.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    disc = {
        d: {g for g in s if 2 <= df[g] <= 20} for d, s in sh.items()
    }
    want = {}
    ids = sorted(disc)
    for i, a in enumerate(ids):
        if not disc[a]:
            continue
        for b in ids[i + 1 :]:
            shared = len(disc[a] & disc[b])
            if shared and round(shared / len(disc[a]), 6) >= 0.5:
                want[(a, b)] = (shared, round(shared / len(disc[a]), 6))
    got = {
        (r["a_id"], r["b_id"]): (r["shared"], r["containment"])
        for r in _Q["q_text_containment"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k, (s, c) in want.items():
        assert got[k][0] == s
        assert abs(got[k][1] - c) <= 1e-6


def test_embedding_cohesion_matches_centroid_definition(spark, sf_dir):
    """Label cohesion: centroid = per-label mean vector, per-vector
    cosine to it, per-label mean/min — replayed with plain python
    float arithmetic (the query's decimal folds stay within 5e-5 of
    the unfolded definition)."""
    rows = duckdb.connect().execute(
        "SELECT vec_id, label, embedding FROM"
        f" read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    by_label: dict = {}
    for vid, lab, emb in rows:
        by_label.setdefault(lab, []).append([float(x) for x in emb])
    got = {r["label"]: r for r in _Q["q_embedding_cohesion"](spark, sf_dir).collect()}
    assert set(got) == set(by_label)
    for lab, vecs in by_label.items():
        dim = len(vecs[0])
        cent = [sum(v[i] for v in vecs) / len(vecs) for i in range(dim)]
        cnorm = math.sqrt(sum(c * c for c in cent))
        coss = []
        for v in vecs:
            vn = math.sqrt(sum(x * x for x in v))
            if vn > 0 and cnorm > 0:
                coss.append(
                    sum(x * c for x, c in zip(v, cent)) / (vn * cnorm)
                )
        r = got[lab]
        assert r["n_vecs"] == len(vecs)
        assert abs(r["centroid_norm"] - cnorm) <= 5e-5
        assert abs(r["mean_cos"] - sum(coss) / len(coss)) <= 5e-5
        assert abs(r["min_cos"] - min(coss)) <= 5e-5


def test_sessionization_matches_gap_rule_replay(spark, sf_dir):
    """30-minute-gap sessionization replayed per user in python: sort
    by (ts, event_id), open a new session when the gap STRICTLY exceeds
    30 minutes, report per-session start/end/count — pins the strict
    inequality and the tie order."""
    import datetime

    rows = duckdb.connect().execute(
        "SELECT user_id, event_id, CAST(ts AS TIMESTAMP) FROM"
        f" read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    by_user: dict = {}
    for u, eid, ts in rows:
        by_user.setdefault(u, []).append((ts, eid))
    gap = datetime.timedelta(minutes=30)
    want = {}
    for u, evs in by_user.items():
        evs.sort()
        sid = 0
        cur = [evs[0][0]]
        prev = evs[0][0]
        for ts, _ in evs[1:]:
            if ts - prev > gap:
                want[(u, sid)] = (cur[0], prev, len(cur))
                sid += 1
                cur = []
            cur.append(ts)
            prev = ts
        want[(u, sid)] = (cur[0], prev, len(cur))
    got = {
        (r["user_id"], r["session_id"]): (
            r["session_start"],
            r["session_end"],
            r["n_events"],
        )
        for r in _Q["q_events_session"](spark, sf_dir).collect()
    }
    assert got == want


def test_scd2_matches_interval_replay(spark, sf_dir):
    """SCD-2 build replayed per user: collapse the (ts, event_id)-sorted
    change log to state-change rows, each valid [its ts, next change's
    ts) with the final interval open — pins change detection (first row
    always a change; equal-adjacent collapse) and the version counter."""
    rows = duckdb.connect().execute(
        "SELECT user_id, event_type, CAST(ts AS TIMESTAMP), event_id"
        f" FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    by_user: dict = {}
    for u, et, ts, eid in rows:
        by_user.setdefault(u, []).append((ts, eid, et))
    want = set()
    for u, evs in by_user.items():
        evs.sort()
        changes = []
        prev = None
        for ts, _, et in evs:
            if prev is None or et != prev:
                changes.append((ts, et))
            prev = et
        for i, (ts, et) in enumerate(changes):
            eff_to = changes[i + 1][0] if i + 1 < len(changes) else None
            want.add((u, et, ts, eff_to, i + 1))
    got = {
        (
            r["user_id"],
            r["state"],
            r["effective_from"],
            r["effective_to"],
            r["version"],
        )
        for r in _Q["q_scd2_dimension"](spark, sf_dir).collect()
    }
    assert got == want


def test_gapfill_ffill_matches_locf_replay(spark, sf_dir):
    """Last-observation-carried-forward on the fixed January grid,
    zero before the first observation — replayed per (user, day) in
    python."""
    import datetime

    rows = duckdb.connect().execute(
        "SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)),"
        " ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)"
        f" FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1, 2"
    ).fetchall()
    daily: dict = {}
    users = set()
    for u, d, v in rows:
        users.add(u)
        daily[(u, d.date() if hasattr(d, "date") else d)] = v
    grid = [
        datetime.date(2024, 1, 1) + datetime.timedelta(days=k)
        for k in range(30)
    ]
    want = {}
    for u in users:
        last = 0.0
        for d in grid:
            if (u, d) in daily:
                last = daily[(u, d)]
            want[(u, d)] = last
    got = {
        (r["user_id"], r["day"].date()): r["filled_value"]
        for r in _Q["q_gapfill_ffill"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) <= 1e-9, (k, got[k], v)


def test_sliding_windows_match_epoch_aligned_assignment(spark, sf_dir):
    """Sliding windows (1h every 15min): each event belongs to exactly
    the four epoch-aligned window starts s with ts−1h < s ≤ ts —
    replayed per event in python (validates Spark's window() alignment
    convention against the oracle's independent grid range-join)."""
    import datetime

    rows = duckdb.connect().execute(
        "SELECT CAST(ts AS TIMESTAMP) FROM"
        f" read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    slide = datetime.timedelta(minutes=15)
    hour = datetime.timedelta(hours=1)
    want: dict = {}
    for (ts,) in rows:
        floor15 = ts.replace(
            minute=ts.minute - ts.minute % 15, second=0, microsecond=0
        )
        for k in range(4):
            s = floor15 - k * slide
            if ts - hour < s <= ts:
                want[s] = want.get(s, 0) + 1
    got = {
        r["window_start"]: r["n_events"]
        for r in _Q["q_events_sliding"](spark, sf_dir).collect()
    }
    assert got == want


def test_winsorize_matches_linear_interpolation_quantile(spark, sf_dir):
    """Winsorization (Dixon/Tukey): clip each group at its exact
    [P5, P95] under the LINEAR-INTERPOLATION quantile definition
    (Hyndman–Fan type 7 — what quantile_cont/F.percentile implement),
    replayed with numpy.quantile(method='linear') + a fresh python
    clip — validates the percentile definition, the 6dp-bound clipping
    contract, and the clipped-count/sum bookkeeping."""
    import numpy as np

    rows = duckdb.connect().execute(
        "SELECT event_type, value FROM"
        f" read_parquet('{sf_dir}/events.parquet') WHERE value IS NOT NULL"
    ).fetchall()
    by_grp: dict = {}
    for g, v in rows:
        by_grp.setdefault(g, []).append(v)
    got = {
        r["event_type"]: r for r in _Q["q_winsorize"](spark, sf_dir).collect()
    }
    assert set(got) == set(by_grp)
    for g, vals in by_grp.items():
        a = np.asarray(vals, dtype=float)
        lo = round(float(np.quantile(a, 0.05, method="linear")), 6)
        hi = round(float(np.quantile(a, 0.95, method="linear")), 6)
        n_lo = sum(1 for v in vals if v < lo)
        n_hi = sum(1 for v in vals if v > hi)
        s = sum(round(min(max(v, lo), hi), 6) for v in vals)
        r = got[g]
        assert r["n_clipped_lo"] == n_lo, (g, r["n_clipped_lo"], n_lo)
        assert r["n_clipped_hi"] == n_hi, (g, r["n_clipped_hi"], n_hi)
        # per-value 6dp quantization in the replay can differ from the
        # engines' decimal casts by ≤5e-7 each; n ≤ a few hundred per
        # group keeps the accumulated drift far under the 2dp output
        assert abs(r["winsorized_sum"] - round(s, 2)) <= 0.02, (
            g, r["winsorized_sum"], s,
        )


def test_zscore_matches_population_standardization(spark, sf_dir):
    """Per-group z-score: z = (x − μ)/σ with the POPULATION σ (÷n, the
    feature-scaling convention — not Bessel's ÷(n−1), which differs by
    ~0.2% at these group sizes, far above tolerance), replayed with
    statistics.pstdev semantics on fresh python floats — validates the
    standardization definition and the 6dp pre-round contract."""
    rows = duckdb.connect().execute(
        "SELECT event_id, event_type, value FROM"
        f" read_parquet('{sf_dir}/events.parquet') WHERE value IS NOT NULL"
    ).fetchall()
    by_grp: dict = {}
    for _, g, v in rows:
        by_grp.setdefault(g, []).append(v)
    stats = {}
    for g, vals in by_grp.items():
        n = len(vals)
        mean = round(sum(vals) / n, 6)
        var = max((sum(v * v for v in vals) - sum(vals) ** 2 / n) / n, 0.0)
        stats[g] = (mean, round(math.sqrt(var), 6))
    got = {
        r["event_id"]: r
        for r in _Q["q_zscore_normalize"](spark, sf_dir).collect()
    }
    assert len(got) == len(rows)
    for event_id, g, v in rows:
        mean, std = stats[g]
        want = round((v - mean) / std, 6) if std > 0 else None
        z = got[event_id]["z"]
        if want is None:
            assert z is None, (event_id, z)
        else:
            # float-sum vs decimal-exact accumulation can shift the 6dp
            # round of mean/std by one step on exact boundaries; one
            # 6dp step of slack keeps the replay honest (a ÷(n−1)
            # deviation would be ~1e-3 here)
            assert abs(z - want) <= 2e-6, (event_id, z, want)


def test_gapfill_percentile_fills_with_lower_median(spark, sf_dir):
    """Median gap-fill: densify each user's daily series to its
    [min_day, max_day] grid and fill missing days with the user's
    LOWER median daily value — the rank-ceil(n/2) order statistic in
    (value, day) order, which SELECTS an existing value rather than
    averaging a middle pair. Replayed from fresh python daily sums:
    validates the grid span, the observed flag, the NULL-day exclusion
    from the rank, and the lower-median pick itself."""
    import datetime

    rows = duckdb.connect().execute(
        "SELECT user_id, CAST(ts AS DATE) AS day, value FROM"
        f" read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    daily: dict = {}
    for u, d, v in rows:
        cur = daily.get((u, d))
        if v is not None:
            daily[(u, d)] = (cur or 0.0) + v
        elif cur is None:
            daily.setdefault((u, d), None)
    by_user: dict = {}
    for (u, d), v in daily.items():
        by_user.setdefault(u, {})[d] = None if v is None else round(v, 6)
    got = {
        (r["user_id"], r["day"].date()): r
        for r in _Q["q_gapfill_percentile"](spark, sf_dir).collect()
    }
    one_day = datetime.timedelta(days=1)
    n_expected = 0
    for u, days in by_user.items():
        observed = sorted(
            (v, d) for d, v in days.items() if v is not None
        )
        assert observed, u  # fixture users all have some non-null day
        med = observed[-(-len(observed) // 2) - 1][0]  # ceil(n/2), 1-based
        lo, hi = min(days), max(days)
        d = lo
        while d <= hi:
            n_expected += 1
            r = got[(u, d)]
            v = days.get(d)
            if v is not None:
                assert r["observed"] is True
                assert abs(r["value_filled"] - v) <= 1e-9, (u, d)
            else:
                # a missing grid day OR a day whose every value was NULL
                assert r["observed"] is False
                assert abs(r["value_filled"] - med) <= 1e-9, (
                    u, d, r["value_filled"], med,
                )
            d += one_day
    assert len(got) == n_expected


def test_agg_moments_matches_sample_variance_definition(spark, sf_dir):
    """Round-10 back-fill (the key re-pinned for the ANSI n>1 guard):
    q_agg_moments must be the PUBLISHED sample variance
    s² = Σ(x−x̄)²/(n−1) — replayed here with Fraction-exact power sums
    (quantity is integer-valued in the fixture, so Σx and Σx² are exact
    ints and s² is an exact rational), not the query's decimal-fold
    construction. Also pins the degenerate contract: n ≤ 1 → NULL."""
    from fractions import Fraction

    rows = duckdb.connect().execute(
        "SELECT l_returnflag, l_quantity FROM"
        f" read_parquet('{sf_dir}/lineitem.parquet')"
        " WHERE l_quantity IS NOT NULL"
    ).fetchall()
    groups: dict = {}
    for f, q in rows:
        groups.setdefault(f, []).append(Fraction(q))
    got = {r["l_returnflag"]: r for r in _Q["q_agg_moments"](spark, sf_dir).collect()}
    assert set(got) == set(groups)
    for f, xs in groups.items():
        n = len(xs)
        if n <= 1:
            assert got[f]["var_qty"] is None
            continue
        mean = sum(xs) / n
        var = sum((x - mean) ** 2 for x in xs) / (n - 1)
        assert abs(got[f]["var_qty"] - float(var)) <= 5e-7, f
        assert abs(got[f]["std_qty"] - math.sqrt(float(var))) <= 5e-7, f


def test_udaf_grouped_matches_exact_rational_rule(spark, sf_dir):
    """Round-10 back-fill (the key re-pinned for the NULL-group fix):
    q_udaf_grouped's count-above-group-mean, replayed in EXACT integer
    arithmetic — acctbal is 2dp money, so x > Σx/n ⟺ 100x·n > Σ(100x)
    over exact ints; no float mean anywhere (the UDF itself uses pandas
    mean, so a float replay would mirror its construction)."""
    rows = duckdb.connect().execute(
        "SELECT c_nationkey, CAST(ROUND(c_acctbal * 100) AS BIGINT) FROM"
        f" read_parquet('{sf_dir}/customer.parquet')"
    ).fetchall()
    groups: dict = {}
    for k, cents in rows:
        groups.setdefault(k, []).append(cents)
    got = {
        r["c_nationkey"]: r["n_above_mean"]
        for r in _Q["q_udaf_grouped"](spark, sf_dir).collect()
    }
    assert set(got) == set(groups)
    for k, xs in groups.items():
        s, n = sum(xs), len(xs)
        assert got[k] == sum(1 for x in xs if x * n > s), k


# --- Round-11 back-fill: rotation-window keys lacking definitional
# replays (the r9/r10 discipline applied to the 21-key r5-vintage
# rotation cohort this round's window refreshes) ------------------------


def test_chi2_matches_pearson_definition(spark, sf_dir):
    """χ² = Σ (O−E)²/E with E = row·col/n over the event_type ×
    day-of-week contingency table, replayed from fresh python counts —
    validates the margin construction (windows over the cell table) and
    the statistic, not just oracle parity."""
    rows = duckdb.connect().execute(
        f"""SELECT event_type, CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow,
                   COUNT(*) AS c
            FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1, 2"""
    ).fetchall()
    obs = {(t, d): c for t, d, c in rows}
    row_n: dict = {}
    col_n: dict = {}
    for (t, d), c in obs.items():
        row_n[t] = row_n.get(t, 0) + c
        col_n[d] = col_n.get(d, 0) + c
    n = sum(obs.values())
    chi2 = sum(
        (c - row_n[t] * col_n[d] / n) ** 2 / (row_n[t] * col_n[d] / n)
        for (t, d), c in obs.items()
    )
    got = _Q["q_stats_chi2"](spark, sf_dir).collect()
    assert {(r["event_type"], r["dow"]) for r in got} == set(obs)
    for r in got:
        e = row_n[r["event_type"]] * col_n[r["dow"]] / n
        assert r["observed"] == obs[(r["event_type"], r["dow"])]
        assert abs(r["expected"] - e) <= 5e-7
        assert abs(r["contribution"] - (r["observed"] - e) ** 2 / e) <= 5e-7
        # per-term 9dp folding keeps the total within n_cells·5e-10 + 5e-7
        assert abs(r["chi2_total"] - chi2) <= 1e-6, (r["chi2_total"], chi2)


def test_ab_test_matches_two_proportion_z(spark, sf_dir):
    """The pooled two-proportion z-test replayed from a fresh python
    md5 assignment and converter set — validates the deterministic
    hash-split AND the published statistic z = (p̂_a − p̂_b) /
    sqrt(p̂(1−p̂)(1/n_a + 1/n_b))."""
    import hashlib

    con = duckdb.connect()
    users = [
        u
        for (u,) in con.execute(
            f"SELECT DISTINCT user_id FROM"
            f" read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    ]
    conv = {
        u
        for (u,) in con.execute(
            f"""SELECT DISTINCT user_id
                FROM read_parquet('{sf_dir}/events.parquet')
                WHERE event_type = 'purchase' AND value > 200"""
        ).fetchall()
    }
    grp = {
        u: "A"
        if hashlib.md5(str(u).encode()).hexdigest()[:4] < "8000"
        else "B"
        for u in users
    }
    n_a = sum(1 for u in users if grp[u] == "A")
    n_b = len(users) - n_a
    c_a = sum(1 for u in conv if grp[u] == "A")
    c_b = len(conv) - c_a
    p = (c_a + c_b) / (n_a + n_b)
    z = (c_a / n_a - c_b / n_b) / math.sqrt(
        p * (1 - p) * (1 / n_a + 1 / n_b)
    )
    r = _Q["q_stats_ab_test"](spark, sf_dir).collect()[0]
    assert (r["n_a"], r["conv_a"], r["n_b"], r["conv_b"]) == (
        n_a, c_a, n_b, c_b,
    )
    assert abs(r["z_score"] - z) <= 5e-7, (r["z_score"], z)


def _interp_median(vals: list) -> float:
    """Exact interpolated percentile at p=0.5 (Spark F.percentile's
    definition: linear interpolation at rank (n−1)·p)."""
    xs = sorted(vals)
    n = len(xs)
    pos = (n - 1) * 0.5
    lo = int(pos)
    frac = pos - lo
    return xs[lo] if frac == 0 else xs[lo] + frac * (xs[lo + 1] - xs[lo])


def test_mad_matches_definition(spark, sf_dir):
    """MAD = median(|x − median(x)|) per group, both medians the exact
    interpolated percentile, replayed in raw python — validates the
    two-pass construction (group median broadcast back) against the
    textbook robust-scale definition."""
    rows = duckdb.connect().execute(
        f"SELECT l_returnflag, l_quantity FROM"
        f" read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchall()
    by_flag: dict = {}
    for f, q in rows:
        by_flag.setdefault(f, []).append(q)
    got = {r["l_returnflag"]: r for r in _Q["q_agg_mad"](spark, sf_dir).collect()}
    assert set(got) == set(by_flag)
    for f, qs in by_flag.items():
        med = _interp_median(qs)
        mad = _interp_median([abs(q - med) for q in qs])
        assert abs(got[f]["median_qty"] - med) <= 5e-7
        assert abs(got[f]["mad_qty"] - mad) <= 5e-7, (f, got[f]["mad_qty"], mad)


def test_triangles_matches_brute_force(spark, sf_dir):
    """Triangle count, wedge count and global clustering coefficient
    replayed by brute-force set arithmetic over the same circulant
    edge construction — validates the oriented 2-path join counts each
    triangle exactly once and the published C = 3·Δ/wedges."""
    keys = [
        k
        for (k,) in duckdb.connect().execute(
            f"SELECT p_partkey FROM read_parquet('{sf_dir}/part.parquet')"
        ).fetchall()
    ]
    edges = {(k, k + 1) for k in keys} | {(k, k + 2) for k in keys}
    eset = edges  # already src < dst
    tri = sum(
        1
        for (a, b) in eset
        for c in (b + 1, b + 2)
        if (b, c) in eset and (a, c) in eset
    )
    deg: dict = {}
    for a, b in eset:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    r = _Q["q_graph_triangles"](spark, sf_dir).collect()[0]
    assert r["n_triangles"] == tri
    assert r["n_wedges"] == wedges
    assert abs(r["global_clustering"] - 3 * tri / wedges) <= 5e-7


def test_range_frame_matches_value_window_definition(spark, sf_dir):
    """The RANGE frame (trailing 30 days INCLUSIVE of peers, bounds on
    the VALUE not the row position) replayed per customer in python —
    validates frame semantics a ROW frame would silently violate on
    equal order dates."""
    rows = duckdb.connect().execute(
        f"""SELECT o_custkey, o_orderkey,
                   CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS sec,
                   o_totalprice
            FROM read_parquet('{sf_dir}/orders.parquet')"""
    ).fetchall()
    by_cust: dict = {}
    for ck, ok, sec, tp in rows:
        by_cust.setdefault(ck, []).append((ok, sec, tp))
    got = {
        (r["o_custkey"], r["o_orderkey"]): r
        for r in _Q["q_window_range_frame"](spark, sf_dir).collect()
    }
    assert len(got) == len(rows)
    for ck, orders in by_cust.items():
        for ok, sec, _ in orders:
            in_frame = [
                tp2 for (_, s2, tp2) in orders if sec - 2592000 <= s2 <= sec
            ]
            r = got[(ck, ok)]
            assert r["n_orders_30d"] == len(in_frame), (ck, ok)
            assert abs(r["spend_30d"] - round(sum(in_frame), 2)) <= 1e-6


def test_vocab_encode_matches_ranked_vocabulary(spark, sf_dir):
    """Frequency-ranked top-50 vocabulary (ties by token) and ordered
    id encoding (OOV = −1) replayed with a fresh python tokenizer —
    validates ranking, truncation, and that token ORDER survives the
    explode/regroup round trip."""
    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    cnt: dict = {}
    for _, text in docs:
        for t in _toks(text):
            cnt[t] = cnt.get(t, 0) + 1
    vocab = {
        t: i
        for i, (t, _) in enumerate(
            sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
        )
    }
    got = {r["doc_id"]: r for r in _Q["q_vocab_encode"](spark, sf_dir).collect()}
    expect_ids = {
        d: [vocab.get(t, -1) for t in _toks(text)]
        for d, text in docs
        if d < 50
    }
    assert set(got) == set(expect_ids)
    for d, ids in expect_ids.items():
        assert got[d]["token_ids_csv"] == ",".join(str(i) for i in ids), d
        assert got[d]["n_tokens"] == len(ids)


def test_validate_rules_matches_rule_definitions(spark, sf_dir):
    """Each declared validation rule replayed as a literal python
    predicate over the raw rows — validates the rule semantics (regex
    anchoring, boundary inclusivity, the custkey-0 business rule) and
    the one-scan conditional-sum construction. The fixture is NULL-free
    on these columns, so plain python comparisons mirror the engine's
    tri-state CASE exactly."""
    import datetime as dt
    import re

    rows = duckdb.connect().execute(
        f"""SELECT o_totalprice, o_orderdate, o_orderstatus,
                   o_orderpriority, o_custkey
            FROM read_parquet('{sf_dir}/orders.parquet')"""
    ).fetchall()
    lo, hi = dt.datetime(1990, 1, 1), dt.datetime(2005, 1, 1)
    pri = re.compile(r"^[1-5]-[A-Z ]+$")
    rules = {
        "totalprice_positive": lambda r: r[0] > 0,
        "orderdate_in_range": lambda r: lo <= r[1] < hi,
        "status_known": lambda r: r[2] in ("P", "O", "F"),
        "priority_format": lambda r: pri.search(r[3]) is not None,
        "custkey_positive": lambda r: r[4] is not None and r[4] > 0,
        "totalprice_le_300k": lambda r: r[0] <= 300000,
    }
    got = {r["rule"]: r for r in _Q["q_validate_rules"](spark, sf_dir).collect()}
    assert set(got) == set(rules)
    for name, ok in rules.items():
        n_viol = sum(1 for r in rows if not ok(r))
        assert got[name]["n_violations"] == n_viol, (name, n_viol)
        assert abs(got[name]["violation_rate"] - n_viol / len(rows)) <= 5e-7


def test_davg_matches_mean_of_valid_definition(spark):
    """Round-13 compat-fold semantics as a definitional differential:
    davg = ROUND(mean of the VALID values, 6), where valid = non-NULL
    and inside the DECIMAL(18,6) admitted range after half-up
    quantization to 6dp. Out-of-range values are absent from numerator
    AND denominator (treat-as-absent — the r12 ADVICE semantics), NOT
    folded to zero-contribution over a raw count. Replayed in pure
    python with decimal.Decimal half-up quantization on a frame mixing
    in-range, out-of-range, subnormal and NULL values."""
    from decimal import ROUND_HALF_UP, Decimal

    from modevetl_spark.functions.compat import davg

    vals = [123.456789, -0.0000004, 1e300, 5e-324, None, 999999.99,
            -999999999999.999999, 1e13, 42.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = df.agg(davg("v", 6).alias("a")).collect()[0].a

    def quant(x: float) -> Decimal | None:
        if abs(x) >= 1e13:  # far outside DECIMAL(18,6); quantize overflows
            return None
        q = Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
        return q if abs(q) < Decimal(10) ** 12 else None

    valid = [quant(v) for v in vals if v is not None]
    valid = [q for q in valid if q is not None]
    expected = float(sum(valid) / len(valid))
    assert got == pytest.approx(expected, abs=5e-7), (got, expected)
    # and the all-invalid group is NULL, not a division error
    df2 = spark.createDataFrame([(1e300,), (None,)], "v double")
    assert df2.agg(davg("v").alias("a")).collect()[0].a is None
