"""Transitive closure — the reference's hierarchy fixpoint job.

Reference: ``MoDevETL/hierarchy.py`` computes the transitive
bug-dependency hierarchy by looping over ``dependson`` edges, unioning
each frontier of newly reached descendants until no set grows.

Spark-first: semi-naive datalog iteration driven from the driver, with the
heavy work as joins the planner can optimize per-iteration:

- only the *frontier* (paths discovered last round) joins the edge set each
  iteration — not the whole accumulated closure;
- ``localCheckpoint(eager=True)`` truncates lineage each round (without it
  the plan doubles per iteration and the DAG scheduler melts);
- the edge set is reused every iteration → cache it;
- convergence = empty frontier, checked with ``isEmpty()`` (cheapest
  action).

Scale notes (100 TB): each iteration is one shuffle join keyed on the join
column; for power-law graphs pass ``salt_hot_hubs=True`` (semi-naive /
ancestor walk) — each round's frontier-edge join goes through
``adaptive_salted_join``, so a celebrity hub's rows spread over
measured-per-key salt counts instead of melting one reducer. Iterations
are bounded by graph diameter; ``max_iterations`` guards pathological
cycles. Cycles are handled by the anti-join against the accumulated
closure (already-seen pairs never re-enter the frontier).
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@contextlib.contextmanager
def _tuned_shuffle(df: DataFrame, n_rows: int):
    """Tune the session for a fixpoint loop's duration; restore on exit.

    Two knobs: (1) shuffle width sized to the iteration's data —
    iterative jobs re-shuffle small-but-growing frames every round, and
    the static session width (sized for full-table scans) costs ~2x in
    pure task overhead (measured 6.5 s -> 3.6 s at sf0.1 going 32 -> 8
    partitions on 250k-row rounds); scales back up with the data (one
    partition per ~500k rows, floored at 4, capped at 4x parallelism).
    (2) AQE off — runtime re-planning adds a scheduling round per
    shuffle, pure latency when every round's frames are small and the
    width is already right (measured ~25% per-iteration saving at
    sf0.1). On a real cluster the same reasoning holds per-round; AQE
    earns its keep on the big one-shot scans, not in the loop.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    cap = spark.sparkContext.defaultParallelism * 4
    tuned = max(4, min(cap, n_rows // 500_000 + 4))
    spark.conf.set("spark.sql.shuffle.partitions", str(tuned))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def _frontier_edge_join(
    frontier: DataFrame,
    edges: DataFrame,
    salt_hot_hubs: bool,
    unique_col: str,
    target_rows_per_salt: int,
    max_salts: int,
) -> DataFrame:
    """One fixpoint round's frontier-edge equi-join on ``__mid`` (both
    inputs pre-renamed). With ``salt_hot_hubs`` the join runs through
    ``adaptive_salted_join``: a per-round key histogram of the frontier
    finds hub mids and sizes their salt counts, so power-law graphs don't
    funnel a celebrity node's rows into one reducer."""
    if not salt_hot_hubs:
        return frontier.join(edges, on="__mid")
    from modevetl_spark.operators.skew import adaptive_salted_join

    return adaptive_salted_join(
        frontier,
        edges,
        on="__mid",
        big_unique_col=unique_col,
        target_rows_per_salt=target_rows_per_salt,
        max_salts=max_salts,
    )


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    strategy: str = "doubling",
    salt_hot_hubs: bool = False,
    target_rows_per_salt: int = 1_000_000,
    max_salts: int = 64,
) -> DataFrame:
    """All (src, dst) pairs such that dst is reachable from src.

    ``edges`` must have columns [src, dst]. Returns the closure including
    the direct edges.

    strategy='doubling' (default): path doubling — R_{k+1} = R_k ∪
    (R_k ⋈ R_k) converges in ceil(log2(diameter)) rounds; each driver-side
    round costs fixed scheduling latency, so 4 heavy rounds beat 15 light
    ones (measured 14 s -> ~4 s on the partkey tree at sf0.1). Worst case
    generates O(|closure|·avg_depth) intermediate rows per round before
    the distinct.

    strategy='seminaive': classic frontier iteration — one round per level,
    each round joins only the newly discovered paths against the base
    edges. Prefer it when the closure is much larger than memory per round
    or diameters are tiny.
    """
    if salt_hot_hubs and strategy == "doubling":
        raise ValueError(
            "salt_hot_hubs requires strategy='seminaive': path doubling "
            "self-joins the closure (no small side to replicate)"
        )
    if strategy == "doubling":
        return _closure_doubling(edges, src, dst, max_iterations)
    return _closure_seminaive(
        edges, src, dst, max_iterations, salt_hot_hubs,
        target_rows_per_salt, max_salts,
    )


def _closure_doubling(
    edges: DataFrame, src: str, dst: str, max_iterations: int
) -> DataFrame:
    # narrow count BEFORE any shuffle so the initial distinct runs at the
    # tuned width too (same setup-width lesson as pagerank: the session's
    # full-table width wastes task overhead on a small edge list)
    n_edges = edges.count()
    from pyspark.sql import Observation

    with _tuned_shuffle(edges, n_edges):
        # the fixpoint row count rides each round's eager checkpoint as
        # an observed metric (r13: one scheduler round-trip per round
        # instead of two — the post-checkpoint count() job re-scanned
        # the persisted RDD only to drive the termination test)
        obs = Observation()
        closure = (
            edges.select(src, dst)
            .distinct()
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n = obs.get["n"]
        for _ in range(max_iterations):
            obs = Observation()
            doubled = (
                closure.withColumnRenamed(dst, "__mid")
                .join(closure.withColumnRenamed(src, "__mid"), on="__mid")
                .select(src, dst)
                .union(closure)
                .distinct()
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            n2 = obs.get["n"]
            if n2 == n:
                return closure
            closure, n = doubled, n2
    raise RuntimeError(f"closure did not converge in {max_iterations} iterations")


def _closure_seminaive(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iterations: int,
    salt_hot_hubs: bool = False,
    target_rows_per_salt: int = 1_000_000,
    max_salts: int = 64,
) -> DataFrame:
    edges = edges.select(src, dst).distinct().cache()
    closure = edges.localCheckpoint(eager=True)
    frontier = closure

    try:
        with _tuned_shuffle(edges, closure.count()):
            for _ in range(max_iterations):
                # frontier(src, mid) ⋈ edges(mid, dst) -> candidate new paths
                step = (
                    _frontier_edge_join(
                        frontier.withColumnRenamed(dst, "__mid"),
                        edges.withColumnRenamed(src, "__mid"),
                        salt_hot_hubs,
                        src,
                        target_rows_per_salt,
                        max_salts,
                    )
                    .select(src, dst)
                    .distinct()
                )
                new_paths = step.join(closure, on=[src, dst], how="left_anti")
                new_paths = new_paths.localCheckpoint(eager=True)
                if new_paths.isEmpty():
                    break
                closure = closure.union(new_paths).localCheckpoint(eager=True)
                frontier = new_paths
            else:
                raise RuntimeError(
                    f"closure did not converge in {max_iterations} iterations"
                )
    finally:
        # unpersist on EVERY exit, including the non-convergence raise
        edges.unpersist()

    return closure
