"""Plan + contract gates for the round-5 TPC-H report shapes
(`queries/reports.py`). Oracle hashes prove value parity; these prove
the physical plans are the ones a 100 TB cluster wants."""

from __future__ import annotations

import pyspark.sql.functions as F

from modevetl_spark.queries import all_queries
from tests.test_plans import plan

_Q = all_queries()


def test_returned_items_plan(spark, sf_dir):
    """Fact streams through broadcast joins; top-20 is TakeOrdered, not
    a global sort; exactly one fact-sized shuffle (the custkey rollup)."""
    p = plan(_Q["q_tpch_returned_items"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p
    tree = p.split("(1) Scan")[0]
    assert tree.count("- Exchange (") <= 1, tree
    # both slice filters reach the scans
    assert "PushedFilters" in p and "l_returnflag" in p


def test_order_count_histogram_covers_every_customer(spark, sf_dir):
    """Every customer lands in exactly one count bucket — zero-order
    customers included (the left join's whole purpose). The fixture has
    no orderless customers at this sf, so the zero bucket is proven on
    a planted frame in test_order_count_zero_bucket_semantics."""
    out = _Q["q_tpch_order_count_histogram"](spark, sf_dir)
    total = out.agg(F.sum("custdist")).collect()[0][0]
    from modevetl_spark.sources.catalog import load

    n_cust = load(spark, sf_dir, "customer").count()
    assert total == n_cust


def test_order_count_zero_bucket_semantics(spark, tmp_path, sf_dir):
    """A customer with no qualifying orders must surface as c_count=0,
    not vanish — replayed on a tiny planted copy of the tables."""
    import shutil
    from modevetl_spark.sources.catalog import load

    d = str(tmp_path / "sf")
    shutil.copytree(sf_dir, d)
    # plant one orderless customer beyond the key range
    cust = load(spark, d, "customer")
    top = cust.agg(F.max("c_custkey")).collect()[0][0]
    extra = cust.limit(1).withColumn("c_custkey", F.lit(top + 1_000_000))
    # materialize before overwriting the path being read
    rows = cust.unionByName(extra).collect()
    spark.createDataFrame(rows, cust.schema).write.mode("overwrite").parquet(
        f"{d}/customer.parquet"
    )
    out = _Q["q_tpch_order_count_histogram"](spark, d)
    zero = {r.c_count: r.custdist for r in out.collect()}.get(0, 0)
    assert zero >= 1


def test_promo_revenue_single_scan(spark, sf_dir):
    """Numerator and denominator come from ONE aggregate over one scan —
    no second pass for the total (the q_text_tfidf lesson)."""
    p = plan(_Q["q_tpch_promo_revenue"](spark, sf_dir))
    tree = p.split("(1) Scan")[0]
    assert tree.count("Scan parquet") == 2  # lineitem + part, once each
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_disjunct_revenue_envelope_pushdown(spark, sf_dir):
    """The single-table envelopes of the OR are factored and pushed:
    quantity range on the fact scan, brand/size on the broadcast side."""
    p = plan(_Q["q_tpch_disjunct_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    # the quantity envelope reaches the fact scan's pushed filters
    assert any(
        "PushedFilters" in ln and "l_quantity" in ln for ln in p.splitlines()
    ), p


def test_market_share_fact_never_shuffled(spark, sf_dir):
    """All six dimension hops broadcast; the only exchange carries the
    year-level aggregate rows."""
    p = plan(_Q["q_tpch_market_share"](spark, sf_dir))
    assert "SortMergeJoin" not in p
    tree = p.split("(1) Scan")[0]
    assert tree.count("- Exchange (") <= 1, tree


def test_small_qty_threshold_semantics(spark, sf_dir):
    """Every surviving line sits strictly below 20% of its part's average
    quantity — recomputed independently here."""
    from modevetl_spark.sources.catalog import load

    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    brand_li = li.join(p, li.l_partkey == p.p_partkey)
    avg = brand_li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.avg("l_quantity").alias("a")
    )
    below = (
        brand_li.join(avg, F.col("l_partkey") == F.col("k"))
        .where(F.col("l_quantity") < 0.2 * F.col("a"))
        .agg(F.sum("l_extendedprice"))
        .collect()[0][0]
    )
    got = _Q["q_tpch_small_qty_revenue"](spark, sf_dir).collect()[0][0]
    if below is None:
        assert got is None
    else:
        assert abs(got - below / 7.0) < 0.05  # rounding discipline differs


def test_waiting_suppliers_no_fact_self_join(spark, sf_dir):
    """One composite-key aggregation of the fact; the verdict join runs
    on (order, supplier)-pair altitude, never raw lineitem×lineitem."""
    p = plan(_Q["q_tpch_waiting_suppliers"](spark, sf_dir))
    tree = p.split("(1) Scan")[0]
    assert tree.count("Scan parquet") == 2  # lineitem once + supplier
    assert "TakeOrderedAndProject" in p


def test_dormant_customers_contract(spark, sf_dir):
    """Dormant = no post-cutoff orders; every reported bucket member has
    an above-average balance. Recount via SQL EXCEPT-style sets."""
    from modevetl_spark.sources.catalog import load

    out = _Q["q_tpch_dormant_customers"](spark, sf_dir)
    total = out.agg(F.sum("numcust")).collect()[0][0] or 0
    c = load(spark, sf_dir, "customer")
    avg_bal = (
        c.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal")).collect()[0][0]
    )
    recent = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    expect = (
        c.where(F.col("c_acctbal") > avg_bal)
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .count()
    )
    # avg_bal here is the unrounded float; the query rounds to 6dp — the
    # boundary can move by at most the customers within 1e-6 of the mean
    assert abs(total - expect) <= 1


def test_forecast_revenue_all_predicates_pushed(spark, sf_dir):
    """Q6's whole story: every predicate in PushedFilters, projection
    pruned to the money columns, zero joins."""
    p = plan(_Q["q_tpch_forecast_revenue"](spark, sf_dir))
    assert "Join" not in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed and all(
        s in pushed[0] for s in ("l_shipdate", "l_discount", "l_quantity")
    ), pushed
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" in read and "l_returnflag" not in read


def test_top_supplier_keeps_ties_and_single_fact_scan(spark, sf_dir):
    """The scalar-max subquery must not trigger a second fact scan, and
    argmax ties must all survive (the difference from LIMIT 1)."""
    p = plan(_Q["q_tpch_top_supplier"](spark, sf_dir))
    tree = p.split("(1) Scan")[0]
    # the suppkey aggregate materializes once in a localCheckpoint (its
    # lineitem scan ran exactly once by construction, before this plan),
    # so the only parquet scan left is supplier; both the scalar max and
    # the filter read the checkpoint, and the max attaches by broadcast
    # — no global Window (the round-6 Q15 rewrite).
    assert tree.count("Scan parquet") == 1, tree  # supplier only
    assert tree.count("Scan ExistingRDD") >= 2, tree  # checkpoint, twice
    assert "BroadcastExchange" in tree and "- Window (" not in tree, tree
    out = _Q["q_tpch_top_supplier"](spark, sf_dir).collect()
    assert len(out) >= 1
    assert len({r.total_revenue for r in out}) == 1  # all rows at the max


class TestWave7PlanGates:
    """Pin the plan shapes the key docstrings promise."""

    def test_late_shipments_scans_are_pruned(self, spark, sf_dir):
        from modevetl_spark.queries.reports import QUERIES

        df = QUERIES["q_tpch_late_shipments"](spark, sf_dir)
        p = df._jdf.queryExecution().executedPlan().toString()
        scans = [l for l in p.splitlines() if "FileScan parquet" in l]
        assert len(scans) == 2
        for s in scans:
            cols = s.split("[", 1)[1].split("]", 1)[0].split(",")
            assert len(cols) == 3, s  # 3 columns per side, nothing more
