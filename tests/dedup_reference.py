"""Full-corpus MinHash LSH candidate pairs: the recompute reference the
incremental and streaming dedup tests compare the standing jobs with."""

from __future__ import annotations

from pyspark.sql import DataFrame

from modevetl_spark.operators.dedup import _banded_pairs, build_minhash_index


def full_minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via MinHash LSH.

    Banding goes through :func:`build_minhash_index` — the SAME rows the
    persisted-index incremental path stores — so the incremental-equals-
    full equivalence is true by construction, not by parallel
    implementations staying in sync."""
    banded = build_minhash_index(docs, id_col, text_col, shingle_n, k, bands)
    return _banded_pairs(banded, id_col, ["band_id", "band_hash"])
