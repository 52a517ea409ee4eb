"""Link-graph centrality ([EXT] — rounds out the graph family next to
transitive closure and connected components): PageRank over an edge
list, the crawl-seed / URL-prioritization signal a large-scale web-data
pipeline ranks domains with.

Plain DataFrame ops (GraphFrames-free): each iteration is one join from
ranks onto edges (co-partitioned on the source key) plus one hash
aggregation of contributions on the destination key. Dangling-node mass
(pages with no out-links) is a broadcast ONE-ROW aggregate inside the
iteration's DAG — no driver collect at all — redistributed uniformly,
keeping the rank vector a probability distribution. Lineage is
truncated per round with ``localCheckpoint`` like the closure loop, so
20 iterations don't build a 20-deep plan.

Float discipline (same as q_token_entropy / q_embedding_cohesion): every
order-sensitive sum — the per-destination contribution aggregate and the
dangling-mass scalar — goes through round-to-9dp + DECIMAL(18,9), so the
accumulation is association-free and each iteration is a deterministic
function of the previous rank vector. That makes the whole fixed-
iteration run bit-replayable by an external engine (the DuckDB oracle
unrolls the identical recurrence), at a cost of ~1e-9 per-iteration
quantization — far below the 1e-4 fixpoint gap of the iteration budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modevetl_spark.operators.closure import _tuned_shuffle


def partkey_tree_edges(part: DataFrame) -> DataFrame:
    """The repo's deterministic synthetic hierarchy: binary-tree parent
    edges over partkeys (child k -> parent k div 2). Shared by
    q_graph_closure and q_graph_pagerank so 'same edge list' is true by
    construction, not by copy-paste."""
    return part.where(F.col("p_partkey") >= 2).select(
        F.col("p_partkey").alias("src"),
        F.expr("p_partkey div 2").alias("dst"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 15,
    quantize_dp: int | None = 9,
) -> DataFrame:
    """-> (node, rank); ranks sum to ~1 over all nodes (9dp quantized).

    Standard damped PageRank with uniform teleport and uniform dangling
    redistribution, fixed iteration count (O(diameter)-ish convergence;
    15 iterations is within ~1e-4 of the fixpoint for typical link
    graphs). At 100 TB the per-iteration shape is one shuffle keyed on
    src (the ranks join — co-partitioned with the edge list if the edges
    are pre-partitioned on src) and one keyed on dst (the contribution
    agg with map-side combine); the dangling-mass scalar rides the same
    job as a broadcast one-row aggregate, so there is no per-iteration
    driver traffic beyond the checkpoint bookkeeping.

    SIMPLE-GRAPH semantics: parallel edges collapse via ``distinct()``
    before out-degrees are counted, so edge multiplicity does NOT weight
    the transition probabilities (multigraph engines like GraphFrames
    differ on multi-edge inputs). This matches how the engine feeds it —
    dedup'd link lists — and is a documented choice, not an accident.

    Determinism contract (``quantize_dp=9``, the default): contributions
    are rounded to 9dp and summed as DECIMAL(18,9) (exact, order-free);
    the dangling scalar uses the same decimal sum; each new rank is
    re-rounded to 9dp. A 9dp-rounded double survives a
    double→DECIMAL(18,9) cast exactly (|x|·2⁻⁵³ ≪ 0.5e-9 for ranks ≤
    1), so every iteration is reproducible to the bit by any IEEE-754
    engine applying the same recurrence — this is what the DuckDB oracle
    replays.

    PRECISION BOUND: quantizing at 9dp requires ranks ≫ 1e-9, i.e.
    n ≲ 1e7–1e8 nodes (ranks start at 1/n; beyond that they floor to
    zero). For web-scale graphs pass ``quantize_dp=None``: no rounding,
    sums accumulate as DECIMAL(38,18) — still order-free deterministic
    WITHIN Spark (same input → same ranks at any executor count), but
    not bit-replayable by an external engine (double→decimal(38,18)
    casts differ across engines at the last digit). The graded query
    keeps the replayable default on its 10⁴–10⁵-node fixture graph.
    """
    # Size the shuffle width to the edge list BEFORE the setup shuffles
    # run (distinct, vertex union, out-degree, degree join): on a
    # small-to-medium graph those four shuffles at the session's
    # full-table width cost more than the iterations themselves
    # (measured ~2.5 s of a 6.7 s sf0.1 run). edges.count() is a narrow
    # scan, no shuffle.
    n_edges = edges.count()
    if n_edges == 0:
        return edges.select(
            F.col(src).cast("long").alias("node"), F.lit(0.0).alias("rank")
        )

    dec = "decimal(18,9)" if quantize_dp is not None else "decimal(38,18)"

    def _q(col):
        return F.round(col, quantize_dp) if quantize_dp is not None else col

    with _tuned_shuffle(edges, n_edges):
        e = (
            edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
            .distinct()
            .cache()
        )
        verts = (
            e.select(F.col("s").alias("node"))
            .union(e.select(F.col("d").alias("node")))
            .distinct()
        )
        out_deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("out_deg"))
        # the dangling-node membership is loop-invariant: pin it onto
        # the vertex table ONCE (r13, guide §2.1 — the per-iteration
        # left-anti join + one-row broadcast exchange this replaces was
        # two scheduler round-trips per iteration)
        vflag = (
            verts.join(
                out_deg.select(F.col("s").alias("node")).withColumn(
                    "has_out", F.lit(True)
                ),
                "node",
                "left",
            )
            .select("node", F.col("has_out").isNull().alias("is_dang"))
            .cache()
        )
        n = vflag.count()
        # out-degree is loop-invariant: attach it to the edge list ONCE,
        # so each iteration runs a single src-keyed join instead of two
        e_deg = (
            e.join(out_deg.withColumnRenamed("s", "s2"), e.s == F.col("s2"))
            .select("s", "d", "out_deg")
            .cache()
        )
        teleport = (1.0 - damping) / n

        # unpersist on EVERY exit (closure-loop convention): a task
        # failure mid-iteration must not leak the cached edge set for
        # the session's life. _tuned_shuffle sizes the whole build's
        # shuffle width to the graph and parks AQE, same reasoning as
        # the closure loop.
        try:
            from pyspark.sql import Observation

            # dangling mass: rank on nodes with no out-links — the same
            # order-free decimal sum as before (the per-row cast skips
            # non-dangling rows as SQL NULLs, so the decimal fold sees
            # exactly the old anti-join subset), now observed DURING
            # each iteration's eager checkpoint job and read back as a
            # driver scalar for the NEXT iteration's literal: zero
            # extra jobs where the r12 form paid a left-anti join plus
            # a one-row broadcast exchange per iteration (r13, guide
            # §5.3 — the scalar is loop state, not data). Eager
            # checkpoints stay: only the plan-truncating eager form
            # keeps Catalyst analysis O(1) per iteration (the lazy
            # variant grew the logical plan and analysis time
            # quadratically — measured slower than r12).
            def _dang_sum():
                return F.coalesce(
                    F.sum(
                        F.when(F.col("is_dang"), F.col("rank")).cast(dec)
                    ).cast("double"),
                    F.lit(0.0),
                ).alias("dm")

            obs = Observation()
            ranks = (
                vflag.select(
                    "node", _q(F.lit(1.0 / n)).alias("rank"), "is_dang"
                )
                .observe(obs, _dang_sum())
                .localCheckpoint(eager=True)
            )
            for _ in range(iterations):
                dm = obs.get["dm"]
                contribs = (
                    e_deg.join(ranks, e_deg.s == ranks.node)
                    .select(
                        F.col("d").alias("node"),
                        # per-edge term rounded, then decimal-summed: the
                        # aggregate is exact whatever the shuffle order
                        _q(F.col("rank") / F.col("out_deg"))
                        .cast(dec)
                        .alias("c"),
                    )
                    .groupBy("node")
                    .agg(F.sum("c").cast("double").alias("s_in"))
                )
                obs = Observation()
                ranks = (
                    vflag.join(contribs, "node", "left")
                    .select(
                        "node",
                        _q(
                            F.lit(teleport)
                            + F.lit(damping)
                            * F.coalesce(F.col("s_in"), F.lit(0.0))
                            + F.lit(damping) * F.lit(dm) / F.lit(n)
                        ).alias("rank"),
                        "is_dang",
                    )
                    .observe(obs, _dang_sum())
                    .localCheckpoint(eager=True)
                )
            ranks = ranks.select("node", "rank")
        finally:
            e.unpersist()
            vflag.unpersist()
            e_deg.unpersist()
    return ranks


def kcore(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    iterations: int = 10,
) -> DataFrame:
    """-> (node, core_degree): nodes surviving ``iterations`` rounds of
    k-core peeling (repeatedly delete nodes with undirected degree < k)
    with their degree inside the surviving subgraph. The third iterative
    graph family next to value propagation (pagerank/HITS) and closure:
    PRUNING to a fixpoint — the standard spam-farm / periphery filter
    before running centrality at scale.

    Fixed iteration count so the run is CTE-unrollable by the oracle
    (the pagerank replay contract); peeling strictly shrinks the node
    set, so once two consecutive rounds agree it has converged — the
    pytest gate runs one extra round and asserts stability on the
    fixture graph.

    Scale shape per round: one degree aggregate (map-side combined) and
    one semi-join of edges against surviving nodes — both keyed on the
    node id; lineage truncates per round via localCheckpoint. All
    integer arithmetic, no float discipline needed.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = und
    for _ in range(iterations):
        deg = (
            e.select(F.col("a").alias("node"))
            .union(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    return (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )
