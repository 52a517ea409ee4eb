"""Tests for the sketch keys (queries/sketches.py) and
operators/sketches.histogram_quantiles: python replays of the
deterministic sketches, merge laws and rank bounds on adversarial inputs,
and plan-shape gates.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from modevetl_spark.operators.sketches import histogram_quantiles
from modevetl_spark.queries.sketches import sketch_merge_quantiles
from modevetl_spark.sources.catalog import load


PROBS = [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]


def _by_label(rows):
    return {r["p_label"]: r for r in rows}


class TestHistogramQuantiles:
    def test_constant_column_degenerates_to_bucket_zero(self, spark):
        df = spark.range(500).select(F.lit(7.25).alias("v"))
        out = _by_label(histogram_quantiles(df, "v", PROBS, k=16).collect())
        assert set(out) == {"p50", "p90", "p99"}
        for r in out.values():
            assert r["n"] == 500
            assert r["est_bucket"] == 0
            assert r["bounds_ok"] is True

    def test_single_row(self, spark):
        df = spark.range(1).select(F.lit(3.0).alias("v"))
        out = _by_label(histogram_quantiles(df, "v", PROBS, k=8).collect())
        for r in out.values():
            assert r["n"] == 1
            assert r["est_bucket"] == 0
            assert r["bounds_ok"] is True

    def test_uniform_ints_hit_exact_quantile_bucket(self, spark):
        # 0..999 with k=10: bucket b covers [99.9·b, 99.9·(b+1)); the
        # sketch bucket must CONTAIN the exact rank-ceil(p·n) value.
        n, k = 1000, 10
        df = spark.range(n).select(F.col("id").cast("double").alias("v"))
        out = _by_label(histogram_quantiles(df, "v", PROBS, k=k).collect())
        width = 999.0 / k
        for label, p in PROBS:
            exact = math.ceil(p * n) - 1  # rank r in sorted 0..999 is value r-1
            expect_bucket = min(int(exact // width), k - 1)
            r = out[label]
            assert r["est_bucket"] == expect_bucket, (label, r)
            assert r["bounds_ok"] is True

    @pytest.mark.parametrize("parts", [1, 7])
    def test_partition_layout_invariant(self, spark, parts):
        df = (
            spark.range(3000)
            .select(((F.col("id") * 37) % 1009).cast("double").alias("v"))
            .repartition(parts)
        )
        rows = _by_label(histogram_quantiles(df, "v", PROBS, k=64).collect())
        # layout must not change the estimate: compare against the
        # single-partition truth computed the same way
        base = _by_label(
            histogram_quantiles(
                spark.range(3000).select(
                    ((F.col("id") * 37) % 1009).cast("double").alias("v")
                ).coalesce(1),
                "v",
                PROBS,
                k=64,
            ).collect()
        )
        for label in base:
            assert rows[label]["est_bucket"] == base[label]["est_bucket"]
            assert rows[label]["bounds_ok"] is True

    def test_skewed_values_keep_rank_guarantee(self, spark):
        # 99% mass at 1.0, tail at 10_000 — rank ceil(p·n) stays in the
        # head bucket through p99 (rank 990 is the LAST 1.0), and only a
        # deeper probe reaches the tail bucket
        df = spark.range(1000).select(
            F.when(F.col("id") < 990, 1.0).otherwise(10000.0).alias("v")
        )
        probs = PROBS + [("p999", 0.999)]
        out = _by_label(histogram_quantiles(df, "v", probs, k=32).collect())
        assert out["p50"]["est_bucket"] == 0
        assert out["p90"]["est_bucket"] == 0
        assert out["p99"]["est_bucket"] == 0
        assert out["p999"]["est_bucket"] == 31
        for r in out.values():
            assert r["bounds_ok"] is True


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=300,
    ),
    k=st.sampled_from([4, 16, 64]),
)
def test_histogram_quantiles_bracket_exact_rank(spark, vals, k):
    """Property: for arbitrary float data and bucket counts, every
    quantile estimate carries a TRUE rank-check verdict, and the exact
    rank-``ceil(p·n)`` value's bucket never sits more than one bucket
    from the estimate (the sketch's a-priori error bound)."""
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = {
        r["p_label"]: r
        for r in histogram_quantiles(df, "v", PROBS, k=k).collect()
    }
    n = len(vals)
    srt = sorted(vals)
    mn, mx = srt[0], srt[-1]
    width = (mx - mn) / k
    for label, p in PROBS:
        r = out[label]
        assert r["n"] == n
        assert r["bounds_ok"] is True, (label, r, vals)
        exact = srt[math.ceil(p * n) - 1]
        if width > 0:
            exact_bucket = min(int((exact - mn) // width), k - 1)
            assert abs(r["est_bucket"] - exact_bucket) <= 1, (
                label, r["est_bucket"], exact_bucket, vals,
            )
        else:
            assert r["est_bucket"] == 0


class TestWave7PlanGates:
    """Pin the plan shapes the key docstrings promise."""

    def test_sketch_quantiles_exchanges_are_bounded(self, spark, sf_dir):
        """Every exchange in the sketch plan moves histogram/prob-sized
        relations, never the fact: prove it by counting rows through
        each exchange via the executed metrics-free proxy — the plan
        must contain NO data-sized sort and only broadcast exchanges
        plus the two bounded global_running shuffles."""
        from modevetl_spark.queries.sketches import QUERIES

        df = QUERIES["q_sketch_quantiles"](spark, sf_dir)
        p = df._jdf.queryExecution().executedPlan().toString()
        # no global Sort node over the fact (the exact-quantile path's
        # signature); sortWithinPartitions inside global_running is
        # local and only over the <=K-row histogram
        assert "Sort [v" not in p, p
        for line in p.splitlines():
            if "Exchange rangepartitioning" in line:
                # the only range exchange is global_running's, keyed on
                # the bucket id — never on the raw value column
                assert "bucket" in line, line


class TestSketchMergeQuantiles:
    def test_bounds_hold_on_fixture(self, spark, sf_dir):
        rows = sketch_merge_quantiles(spark, sf_dir).collect()
        assert {r["p_label"] for r in rows} == {"p10", "p50", "p90", "p99"}
        for r in rows:
            assert r["bounds_ok"] is True, r
            # est is an actual data value: strictly bracketed ranks
            assert r["rank_lo"] < r["rank_hi"], r

    def _sketch(self, df, eps=0.02, cells=32):
        """The q_sketch_merge_quantiles sketch body over an arbitrary (k BIGINT, v DOUBLE)
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


class TestKmvDistinct:
    def test_fixture_bounds_and_exact_tier(self, spark, sf_dir):
        from modevetl_spark.queries.sketches import sketch_distinct_kmv

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
        from modevetl_spark.queries.sketches import sketch_distinct_kmv

        from tests.test_plans import plan

        p = plan(sketch_distinct_kmv(spark, sf_dir))
        # the global k-min over the checkpointed <= k*P-row union is a
        # bottom-k TakeOrderedAndProject, and the fold itself hides
        # behind the checkpoint scan (no InPandas in the driven plan)
        assert "TakeOrderedAndProject" in p
        assert "InPandas" not in p


class TestSketchGroupQuantiles:
    def test_bounds_hold_per_group_on_fixture(self, spark, sf_dir):
        from modevetl_spark.queries.sketches import sketch_group_quantiles

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

        from modevetl_spark.queries.sketches import sketch_group_quantiles

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
        from modevetl_spark.queries.sketches import sketch_jaccard_kmv

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
        from modevetl_spark.queries.sketches import sketch_jaccard_kmv

        texts = [
            " ".join(f"w{(i * j) % 211}" for j in range(60)) for i in range(8)
        ]
        d = self._docs(spark, tmp_path, texts, texts)
        r = sketch_jaccard_kmv(spark, d).collect()[0]
        assert r["j_est"] == 1.0 and r["j_exact"] == 1.0
        assert r["bounds_ok"] is True

    def test_disjoint_sources_estimate_zero(self, spark, tmp_path):
        from modevetl_spark.queries.sketches import sketch_jaccard_kmv

        a = [" ".join(f"a{i}_{j}" for j in range(80)) for i in range(6)]
        b = [" ".join(f"b{i}_{j}" for j in range(80)) for i in range(6)]
        d = self._docs(spark, tmp_path, a, b)
        r = sketch_jaccard_kmv(spark, d).collect()[0]
        assert r["j_est"] == 0.0 and r["j_exact"] == 0.0
        assert r["bounds_ok"] is True

    def test_non_full_merged_sketch_is_exact(self, spark, tmp_path):
        """With |union| < k the merged sketch IS the union, so the
        estimator degenerates to the exact Jaccard by rule."""
        from modevetl_spark.queries.sketches import sketch_jaccard_kmv

        # ~50 shingles per side, half shared: union << k=256
        a = ["common one two three four five six seven eight nine ten"]
        b = ["common one two three four five alpha beta gamma delta eps"]
        d = self._docs(spark, tmp_path, a, b)
        r = sketch_jaccard_kmv(spark, d).collect()[0]
        assert r["m_cnt"] == r["union_exact"]
        assert r["j_est"] == r["j_exact"]
        assert r["abs_err"] == 0.0


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

        from modevetl_spark.queries.sketches import _HLL_ALPHA, _HLL_M, sketch_hll

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
        from modevetl_spark.queries.sketches import sketch_hll
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

        from modevetl_spark.queries.sketches import _HLL_ORACLE, sketch_hll

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
