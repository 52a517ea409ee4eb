"""Round-5 breadth, part 3: the remaining TPC-H report shapes expressible
over the fixture's seven relational tables — Q10 (returned-item revenue,
fact-fact join + global top-k), Q13 (customer order-count distribution,
agg-of-agg over an outer join), Q14 (promo revenue share, a guarded
ratio-of-sums), Q19 (disjunctive predicate revenue, OR-of-conjuncts
pushdown), Q8 (nation market share inside a region), Q17
(small-quantity-order revenue, per-part avg threshold re-join), Q21
shape (suppliers alone on problem orders, EXISTS + NOT-EXISTS double
probe) and Q22 shape (dormant high-balance customers, anti-join under a
scalar-aggregate threshold).

Reference parity: the upstream engine answers these altitudes through
its qb/jx aggregate pipeline ([UPSTREAM MoDevETL/pyLibrary/queries]);
here each is the declarative Catalyst statement of the same report, with
the join strategy chosen for a 100 TB fact table (dimension chains
broadcast, fact never shuffled before its first aggregation wherever the
shape allows).

Float discipline: every money sum goes through the decimal-exact compat
layer (`dsum_money`/`sql_dsum_money`); ratios divide two already-rounded
doubles and round the quotient, so both engines see bit-identical
inputs to a correctly-rounded IEEE division.

Also here:

- ``q_tpch_late_shipments`` — TPC-H Q12: late line items by priority class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modevetl_spark.functions.compat import (
    dmul,
    dsum_money,
    sql_dmul,
    sql_dsum_money,
    sql_money,
)
from modevetl_spark.queries import prep
from modevetl_spark.queries._registry import make_registry
from modevetl_spark.sources.catalog import load

QUERIES, ORACLE, q = make_registry()


# --- TPC-H Q10 shape: returned-item revenue ranking ---------------------

_Q10_ORACLE = f"""
SELECT c.c_custkey, c.c_name, n.n_name, {sql_dsum_money("revenue")}
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@q("q_tpch_returned_items", oracle_sql=_Q10_ORACLE)
def tpch_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+: TPC-H Q10 shape — which customers returned the most revenue
    in a quarter. The canonical "rank entities by fact-mass under a
    slice" report.

    Plan shape: the quarter's order slice broadcasts onto the
    returnflag-filtered fact (both filters reach the parquet scans), so
    lineitem streams through a broadcast-hash join and only the matched
    rows hit the custkey aggregation exchange. Customer and nation
    attach AFTER the rollup — the join input is group-count-sized, not
    fact-sized — and the final top-20 is a TakeOrderedAndProject (no
    global sort). At 100 TB the date slice may outgrow the broadcast
    threshold: drop the hint and the same plan degrades to a shuffled
    join keyed on orderkey, while the post-rollup dimension joins stay
    broadcast. Ties on the 2dp revenue break by custkey so the LIMIT
    content is deterministic in both engines."""
    prep(spark)
    o = (
        load(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    per_cust = (
        li.join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(dsum_money("l_extendedprice", "l_discount").alias("revenue"))
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        per_cust.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --- TPC-H Q13 shape: customer order-count distribution -----------------

_Q13_ORACLE = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c.c_custkey,
           CAST(COALESCE(cnt, 0) AS BIGINT) AS c_count
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS cnt
        FROM orders
        WHERE o_orderpriority <> '1-URGENT'
        GROUP BY o_custkey
    ) oc ON oc.o_custkey = c.c_custkey
)
GROUP BY c_count
"""


@q("q_tpch_order_count_histogram", oracle_sql=_Q13_ORACLE)
def tpch_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+: TPC-H Q13 shape — distribution of per-customer order counts
    (urgent orders excluded, the fixture's stand-in for the comment
    filter), INCLUDING the zero-order customers the left join preserves.

    Plan shape: aggregate the fact FIRST (one custkey exchange with
    map-side combine — the only fact-sized shuffle), then left-join
    customer onto the customer-cardinality count table, then a second,
    tiny aggregation on the count value. The join is left as an equi
    join with no strategy hint: at sf the count table broadcasts; at
    100 TB both sides are customer-cardinality and AQE picks the
    shuffled join — the semantics and the code don't change. Folding
    the count into the customer row BEFORE any join with the raw fact
    is what keeps the big table out of the outer join entirely."""
    prep(spark)
    oc = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c = load(spark, sf_dir, "customer").select("c_custkey")
    per_cust = c.join(oc, F.col("o_custkey") == F.col("c_custkey"), "left").select(
        F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


# --- TPC-H Q14 shape: promotion revenue share ---------------------------

_Q14_ORACLE = f"""
SELECT ROUND(
         100.0 * ROUND(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                     THEN {sql_money()} END) AS DOUBLE), 2)
         / ROUND(CAST(SUM({sql_money()}) AS DOUBLE), 2), 6) AS promo_pct
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
  AND l.l_shipdate < TIMESTAMP '1997-10-01'
"""


@q("q_tpch_promo_revenue", oracle_sql=_Q14_ORACLE)
def tpch_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+: TPC-H Q14 shape — the share of a month's revenue that came
    from promotional part types, a guarded ratio of two conditional
    sums computed in ONE pass over the slice.

    Plan shape: the month filter reaches the lineitem scan; part
    broadcasts (it is 30× smaller than the fact and only (partkey,
    type) survives pruning); both sums come out of a single one-row
    hash aggregate — no second scan for the denominator (the same
    single-pass discipline as q_text_tfidf's folded corpus count).
    Both engines round each decimal-exact sum to 2dp BEFORE the
    division, so the quotient is one correctly-rounded IEEE op over
    bit-identical operands."""
    prep(spark)
    from modevetl_spark.functions.compat import money

    li = (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    m = money("l_extendedprice", "l_discount")
    agg = joined.agg(
        F.round(
            F.sum(F.when(F.col("p_type") == "PROMO", m)).cast("double"), 2
        ).alias("promo"),
        F.round(F.sum(m).cast("double"), 2).alias("total"),
    )
    return agg.select(
        F.round(F.lit(100.0) * F.col("promo") / F.col("total"), 6).alias("promo_pct")
    )


# --- TPC-H Q19 shape: disjunctive-predicate revenue ---------------------

_Q19_CLAUSES_SQL = """(
     (p.p_brand = 'Brand#1'  AND p.p_size BETWEEN 1 AND 5
      AND l.l_quantity BETWEEN 1 AND 11)
  OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 10
      AND l.l_quantity BETWEEN 10 AND 20)
  OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 1 AND 15
      AND l.l_quantity BETWEEN 20 AND 30)
)"""

_Q19_ORACLE = f"""
SELECT {sql_dsum_money("disjunct_revenue")}
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE {_Q19_CLAUSES_SQL}
"""


@q("q_tpch_disjunct_revenue", oracle_sql=_Q19_ORACLE)
def tpch_disjunct_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+: TPC-H Q19 shape — revenue under an OR of brand/size/quantity
    conjuncts, the classic test of disjunctive predicate handling.

    Plan shape: the disjunction's single-table envelopes are factored
    out and PUSHED — lineitem scans only quantity ∈ [1,30] (the union
    of the three quantity ranges) and part is pre-filtered to the three
    brands and size ≤ 15 BEFORE broadcasting, so the broadcast hash
    table holds only plausible parts. The residual cross-table OR runs
    as the join filter on the already-thinned stream. At 100 TB this
    factoring is the difference between broadcasting all of part and
    broadcasting three brands' worth. One one-row aggregate; zero
    shuffles."""
    prep(spark)
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity").between(1, 30))
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    )
    p = (
        load(spark, sf_dir, "part")
        .where(
            F.col("p_brand").isin("Brand#1", "Brand#13", "Brand#20")
            & (F.col("p_size").between(1, 15))
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    clause = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(clause)
        .agg(dsum_money("l_extendedprice", "l_discount").alias("disjunct_revenue"))
    )


# --- TPC-H Q8 shape: nation market share within a region ----------------

_Q8_ORACLE = """
SELECT o_year,
       CASE WHEN total <> 0 THEN ROUND(nat / total, 6) END AS mkt_share
FROM (
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           ROUND(CAST(SUM(CASE WHEN ns.n_name = 'NATION_3'
                   THEN CAST(TRY_CAST(l.l_extendedprice AS DECIMAL(18,6))
                             AS DECIMAL(19,6))
                        * CAST(TRY_CAST(1 - l.l_discount AS DECIMAL(18,6))
                               AS DECIMAL(19,6)) END)
                 AS DOUBLE), 2) AS nat,
           ROUND(CAST(SUM(CAST(TRY_CAST(l.l_extendedprice AS DECIMAL(18,6))
                               AS DECIMAL(19,6))
                        * CAST(TRY_CAST(1 - l.l_discount AS DECIMAL(18,6))
                               AS DECIMAL(19,6)))
                 AS DOUBLE), 2) AS total
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = nc.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
)
"""


@q("q_tpch_market_share", oracle_sql=_Q8_ORACLE)
def tpch_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+: TPC-H Q8 shape — one supplier nation's share of the revenue
    delivered into a region, by order year. The deepest snowflake in
    the suite: BOTH fact foreign keys resolve through two-hop dimension
    chains (customer→nation→region and supplier→nation).

    Plan shape: every dimension chain collapses to a broadcast before
    touching the fact — region filters nation, the filtered
    customer→nation→region chain broadcasts onto orders, the order
    slice broadcasts onto lineitem, supplier→nation broadcasts last. So
    the fact is never shuffled; the only exchange carries ~2 year rows
    out of the final aggregate. Numerator (CASE-gated) and denominator
    come from ONE aggregate; each is decimal-exact and 2dp-rounded
    before the share division, with an explicit zero-denominator guard
    (Spark ANSI raises where DuckDB NULLs — the z-score lesson). At
    100 TB customer outgrows the broadcast threshold: remove the hint
    on that one join and the plan degrades to a single shuffled join on
    custkey while everything else stays broadcast."""
    prep(spark)
    from modevetl_spark.functions.compat import money

    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    cust_chain = (
        load(spark, sf_dir, "customer")
        .join(
            F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    o = (
        load(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(cust_chain), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", F.year("o_orderdate").cast("long").alias("o_year"))
    )
    supp_nation = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    m = money("l_extendedprice", "l_discount")
    per_year = (
        li.join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", m)).cast(
                    "double"
                ),
                2,
            ).alias("nat"),
            F.round(F.sum(m).cast("double"), 2).alias("total"),
        )
    )
    return per_year.select(
        "o_year",
        F.when(
            F.col("total") != 0, F.round(F.col("nat") / F.col("total"), 6)
        ).alias("mkt_share"),
    )


# --- TPC-H Q17 shape: small-quantity-order revenue ----------------------

_Q17_ORACLE = """
SELECT ROUND(CAST(SUM(TRY_CAST(l.l_extendedprice AS DECIMAL(18,6)))
                  AS DOUBLE)
             / CAST(7.0 AS DOUBLE), 2) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN (
    SELECT l2.l_partkey,
           ROUND(CAST(SUM(TRY_CAST(l2.l_quantity AS DECIMAL(18,6)))
                      AS DOUBLE)
                 / COUNT(TRY_CAST(l2.l_quantity AS DECIMAL(18,6))), 6)
               AS avg_qty
    FROM lineitem l2
    JOIN part p2 ON p2.p_partkey = l2.l_partkey
    WHERE p2.p_brand = 'Brand#1'
    GROUP BY l2.l_partkey
) a ON a.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < CAST(0.2 AS DOUBLE) * a.avg_qty
"""


@q("q_tpch_small_qty_revenue", oracle_sql=_Q17_ORACLE)
def tpch_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+: TPC-H Q17 shape — revenue lost if small orders (below 20% of
    a part's average order quantity) were not taken, for one brand. The
    canonical correlated-aggregate-subquery decorrelation.

    Plan shape: the brand's partkeys broadcast FIRST, thinning lineitem
    to one brand's rows at the scan boundary; the per-part average is
    one hash aggregate over that thin slice, and — being part-count
    sized for one brand — broadcasts back onto the same slice for the
    threshold filter. The fact is scanned once, never shuffled (the
    per-part agg's exchange carries brand-part rows only, ~80 keys).
    The threshold compare multiplies the 6dp-rounded average by a
    double literal — one correctly-rounded IEEE op, identical in both
    engines. At 100 TB the brand slice of `part` still broadcasts
    (parts of one brand ≈ 1/25 of part); if it didn't, both joins
    degrade to shuffles co-partitioned on partkey and the agg reuses
    that partitioning — still one fact shuffle total."""
    prep(spark)
    bp = (
        load(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_li = li.join(
        F.broadcast(bp), F.col("l_partkey") == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    from modevetl_spark.functions.compat import davg

    avg_qty = brand_li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        davg("l_quantity").alias("avg_qty")
    )
    small = brand_li.join(
        F.broadcast(avg_qty), F.col("l_partkey") == F.col("a_partkey")
    ).where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
    return small.agg(
        F.round(
            F.sum(F.col("l_extendedprice").try_cast("decimal(18,6)")).cast(
                "double"
            )
            / F.lit(7.0),
            2,
        ).alias("avg_yearly")
    )


# --- TPC-H Q21 shape: suppliers alone at fault on shared orders ---------

_Q21_ORACLE = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM (
    SELECT l.l_orderkey,
           l.l_suppkey,
           MAX(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_r
    FROM lineitem l
    GROUP BY l.l_orderkey, l.l_suppkey
) os
JOIN (
    SELECT l_orderkey,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT CASE WHEN l_returnflag = 'R'
                               THEN l_suppkey END) AS n_supp_r
    FROM lineitem
    GROUP BY l_orderkey
) o ON o.l_orderkey = os.l_orderkey
JOIN supplier s ON s.s_suppkey = os.l_suppkey
WHERE os.has_r = 1 AND o.n_supp > 1 AND o.n_supp_r = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


@q("q_tpch_waiting_suppliers", oracle_sql=_Q21_ORACLE)
def tpch_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+: TPC-H Q21 shape — suppliers who were the ONLY supplier with
    a returned ('R') line on a multi-supplier order, ranked by how often
    (the fixture's returnflag stands in for the late-delivery predicate;
    the classic form is an EXISTS + NOT-EXISTS double self-probe).

    Plan shape: the double EXISTS decorrelates into ONE pass — group
    the fact by (orderkey, suppkey), then derive both order-level
    verdicts (how many suppliers, how many at fault) from that same
    relation with a second orderkey-keyed aggregate, and join verdicts
    back onto it co-partitioned on orderkey. The fact shuffles exactly
    once (the composite-key agg); everything after is sized by distinct
    (order, supplier) pairs, not line items — no self-join of raw
    lineitem ever happens. Supplier names broadcast; the top-10 is
    TakeOrdered with a name tie-break. At 100 TB the orderkey
    co-partitioning means the verdict join is exchange-free under AQE;
    the count-distinct pair runs as two stacked partial aggregates, not
    an expand."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    os_ = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(
            F.when(F.col("l_returnflag") == "R", F.lit(1)).otherwise(F.lit(0))
        ).alias("has_r")
    )
    # order-level verdicts as window sums over the SAME pair relation —
    # a second groupBy+join would make Catalyst re-scan the fact (no
    # automatic CTE reuse after column pruning; the chi-square lesson)
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey")
    guilty = (
        os_.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_supp_r", F.sum("has_r").over(w))
        .where(
            (F.col("has_r") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_supp_r") == 1)
        )
        .select("l_suppkey")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        guilty.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(10)
    )


# --- TPC-H Q22 shape: dormant high-balance customers --------------------

_Q22_ORACLE = """
WITH thresh AS (
    SELECT ROUND(CAST(SUM(TRY_CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(TRY_CAST(c_acctbal AS DECIMAL(18,6))), 6) AS avg_bal
    FROM customer WHERE c_acctbal > 0
)
SELECT CAST(c.c_custkey % 7 AS BIGINT) AS cntrycode,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(CAST(SUM(TRY_CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 2)
         AS totacctbal
FROM customer c, thresh t
WHERE c.c_acctbal > t.avg_bal
  AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '1999-01-01'
  )
GROUP BY 1
"""


@q("q_tpch_dormant_customers", oracle_sql=_Q22_ORACLE)
def tpch_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+: TPC-H Q22 shape — high-balance customers with no recent
    orders, bucketed by country code (custkey mod 7 stands in for the
    phone prefix). Scalar-aggregate threshold + anti-join, the "global
    sales opportunity" report.

    Plan shape: the positive-balance average is a one-row aggregate
    broadcast-cross-joined onto customer (in-DAG, no driver collect —
    the TF-IDF lesson); the dormancy probe is a LEFT ANTI join against
    the date-sliced orders projection, whose distinct custkeys broadcast
    (one quarter's actives ≪ customer). The customer table itself is
    scanned once and never shuffled until the 7-bucket rollup. At
    100 TB, if the active-customer slice outgrows the broadcast
    threshold the anti-join degrades to a shuffled left-anti
    co-partitioned on custkey — same code, no hint to rewrite."""
    prep(spark)
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    thresh = (
        c.where(F.col("c_acctbal") > 0)
        .agg(
            # try_cast at the fold seam: one 1e300 balance row NULLs
            # out instead of aborting the stage (COVERAGE.md M11);
            # the divisor counts only surviving operands to match the
            # oracle's COUNT over the same TRY_CAST expression
            F.round(
                F.sum(F.col("c_acctbal").try_cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count(F.col("c_acctbal").try_cast("decimal(18,6)")),
                6,
            ).alias("avg_bal")
        )
    )
    recent = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    rich = c.crossJoin(F.broadcast(thresh)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    dormant = rich.join(
        F.broadcast(recent),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    )
    return dormant.groupBy(
        (F.col("c_custkey") % 7).cast("long").alias("cntrycode")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("numcust"),
        # try_cast here too: a 1e300 balance passes the > avg_bal
        # filter and would abort this second fold (COVERAGE.md M11)
        F.round(
            F.sum(F.col("c_acctbal").try_cast("decimal(18,6)")).cast(
                "double"
            ),
            2,
        ).alias("totacctbal"),
    )


# --- TPC-H Q6 shape: forecast revenue change ----------------------------

_Q6_ORACLE = f"""
SELECT ROUND(CAST(SUM({sql_dmul('l_extendedprice', 'l_discount')})
                  AS DOUBLE), 2)
         AS forecast_revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@q("q_tpch_forecast_revenue", oracle_sql=_Q6_ORACLE)
def tpch_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+: TPC-H Q6 shape — revenue that would be recovered by
    eliminating small-quantity discounts in a year. The purest
    scan-dominated query in the suite: one table, three conjunctive
    predicates, one sum.

    Plan shape: ALL three predicates reach the parquet scan as pushed
    filters (plan-gated), the projection prunes to the two money
    columns, and the whole query is scan → partial agg → one-row final
    agg — zero joins, one exchange carrying one row per task. This is
    the query where columnar pruning + predicate pushdown IS the
    performance story: at 100 TB it reads two columns of the row
    groups the shipdate/discount/quantity statistics can't exclude,
    nothing else."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(
            # try convention at the fold seam (r13 inline-fold cohort):
            # one hostile price row NULLs its term instead of aborting
            F.sum(dmul("l_extendedprice", "l_discount")).cast("double"),
            2,
        ).alias("forecast_revenue")
    )


# --- TPC-H Q15 shape: top supplier(s) by period revenue -----------------

_Q15_ORACLE = f"""
WITH srev AS (
    SELECT l_suppkey AS supplier_no, {sql_dsum_money("total_revenue")}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN srev r ON r.supplier_no = s.s_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM srev)
"""


@q("q_tpch_top_supplier", oracle_sql=_Q15_ORACLE)
def tpch_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+: TPC-H Q15 shape — the supplier(s) achieving the maximum
    quarterly revenue: an aggregate feeding a scalar-max subquery that
    filters the same aggregate (the classic view-reuse query). Unlike a
    LIMIT 1 this keeps ALL argmax ties, which is why it is not just
    q_sort_limit again.

    Plan shape: the quarter slice aggregates once on suppkey (the only
    fact-sized exchange), then is PINNED with one localCheckpoint so
    both consumers — the one-row scalar-max aggregate and the filter —
    read it without re-scanning the fact (Catalyst would re-scan for
    the subquery if written naively: no CTE reuse after pruning, the
    Q21 lesson). The scalar max broadcast-cross-joins back onto the
    supplier-cardinality relation (the repo's Q22 scalar pattern) —
    NOT a `Window.partitionBy()` global max, which would funnel the
    growing supplier aggregate through one task. Supplier names
    broadcast onto the surviving row(s). The 2dp-rounded revenue makes
    the max comparison engine-exact. Plan-gated: no global Window node
    (tests/test_plans.py::test_no_data_sized_global_windows)."""
    prep(spark)
    li = (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    srev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum_money("l_extendedprice", "l_discount").alias("total_revenue")
    ).localCheckpoint(eager=True)
    mx = srev.agg(F.max("total_revenue").alias("mx"))
    best = srev.crossJoin(F.broadcast(mx)).where(
        F.col("total_revenue") == F.col("mx")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return best.join(
        F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey")
    ).select("s_suppkey", "s_name", "total_revenue")


# --- TPC-H Q12 shape: late shipments by priority class ------------------

_Q12_ORACLE = """
SELECT CASE CAST(l.l_partkey % 3 AS INT)
         WHEN 0 THEN 'AIR' WHEN 1 THEN 'RAIL' ELSE 'SHIP' END AS shipmode,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
GROUP BY 1
"""


@q("q_tpch_late_shipments", oracle_sql=_Q12_ORACLE)
def tpch_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+: TPC-H Q12 shape — how many high- vs low-priority line items
    shipped late, per ship mode. Fixture adaptation (documented, the
    same policy as the other Q shapes): the fixture has no
    ``l_shipmode`` / commit / receipt dates, so the mode is a derived
    3-way carrier assignment by part (``l_partkey % 3``) and "late"
    is shipped more than 60 days after the order date — the shape
    (fact-fact equi join, conjunct date predicate spanning both sides,
    CASE-split counts over a tiny derived key) is Q12's exactly.

    Plan shape: the ship-late predicate needs columns from BOTH sides,
    so the join itself cannot be avoided: a plain orderkey equi join
    with no strategy hint — at sf the orders side broadcasts under
    AQE, at 100 TB both sides are fact-sized and it degrades to a
    shuffled hash join on the natural join key with no code change.
    The date filter applies immediately post-join (before any other
    column is touched) and the aggregation key has 3 values, so the
    final agg is map-side-combined down to 3 rows per task before a
    negligible exchange."""
    prep(spark)
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_shipdate"
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    mode = (
        F.when(F.col("l_partkey") % 3 == 0, "AIR")
        .when(F.col("l_partkey") % 3 == 1, "RAIL")
        .otherwise("SHIP")
    )
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(mode.alias("shipmode"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )
