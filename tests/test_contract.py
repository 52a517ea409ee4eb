"""Differential test of EVERY registered query against its DuckDB oracle,
plus the driver smoke contract. This is the local twin of the driver's
CORRECTNESS gate — run at sf0.001 for speed (the driver uses sf0.01).
"""

from __future__ import annotations

import functools
import json
import os

import pytest

import __spark_entry__ as entrymod
from scripts import grading_evidence as GE
from tests.oracle import compare

_QUERIES = entrymod.queries()
_ORACLE = entrymod.oracle_sql()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_every_query_has_callable():
    assert _QUERIES, "no queries registered"
    for name, fn in _QUERIES.items():
        assert callable(fn), name


@pytest.mark.parametrize("name", sorted(_ORACLE))
def test_oracle_parity(spark, duck, sf_dir, name):
    compare(_QUERIES[name](spark, sf_dir), duck, _ORACLE[name])


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLE)))
def test_rows_only(spark, sf_dir, name):
    df = _QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


@functools.lru_cache(maxsize=None)
def _live_fingerprints(seed: str) -> dict:
    return GE.fingerprint_tree(GE.ROOT, {**os.environ, "PYTHONHASHSEED": seed})


def _committed_grading() -> dict:
    def once(pairs):
        assert len(pairs) == len(dict(pairs)), "grading.json repeats a key"
        return dict(pairs)

    with open(GE.GRADING) as f:
        return json.load(f, object_pairs_hook=once)


def test_emission_order_follows_grading_priority():
    """The driver grades the first 50 emitted keys: the order must be the
    derived priority, so every key never graded or changed since graded
    sits in that window before any rotation slot."""
    from modevetl_spark import queries as Q

    grading = _committed_grading()
    prios = [Q._grading_priority(grading.get(k)) for k in _QUERIES]
    assert prios == sorted(prios), "emission order violates grading priority"
    n_first = sum(1 for p in prios if not p[0])
    assert all(not p[0] for p in prios[: min(50, n_first)])


def test_grading_evidence_current():
    """grading.json is derived, never hand-edited: one entry per registry
    key, each round equal to the one the committed CORRECTNESS files give,
    each fp equal to the live fingerprint of the working tree."""
    grading = _committed_grading()
    rerun = "re-run `python scripts/grading_evidence.py` and commit grading.json"
    assert set(grading) == set(_QUERIES), (
        f"entries without a key {sorted(set(grading) - set(_QUERIES))}, "
        f"keys without an entry {sorted(set(_QUERIES) - set(grading))}: {rerun}"
    )
    rounds = GE.graded_rounds()
    stale_rounds = sorted(k for k, e in grading.items() if e["round"] != rounds.get(k, 0))
    assert not stale_rounds, f"round is stale for {stale_rounds}: {rerun}"
    live = _live_fingerprints("1")
    stale_fps = sorted(k for k, e in grading.items() if e["fp"] != live[k])
    assert not stale_fps, f"fp is stale for {stale_fps}: {rerun}"


def test_fingerprints_independent_of_hash_seed():
    """Set iteration order and the repr of callables change with
    PYTHONHASHSEED; a fingerprint must not (aggstate._PARTIAL is a dict of
    lambdas, skew._SALTED_JOIN_HOWS a frozenset)."""
    one, two = _live_fingerprints("1"), _live_fingerprints("2")
    assert len(one) == len(_QUERIES)
    assert one == two, sorted(k for k in one if one[k] != two.get(k))
    # grading.json's fp was computed in the script's own process, under
    # its own hash seed
    entry = _committed_grading()["q_agg_incremental_state"]
    assert entry["round"] > 0 and entry["fp"] == one["q_agg_incremental_state"]


def test_load_all_raises_on_missing_module(monkeypatch, request):
    """A query module that fails to import must fail the registry load,
    not silently drop its keys from the graded registry."""
    from modevetl_spark import queries as Q

    monkeypatch.setattr(Q, "_MODULES", [*Q._MODULES, "no_such_module"])
    Q._load_all.cache_clear()
    request.addfinalizer(Q._load_all.cache_clear)
    with pytest.raises(ModuleNotFoundError):
        Q.all_queries()


def test_registry_loads_once_returns_copies():
    """The import loop, grading.json read and sort run once per process;
    every call hands out its own dicts."""
    from modevetl_spark import queries as Q

    Q.all_queries()
    misses = Q._load_all.cache_info().misses
    a, b = Q.all_queries(), Q.all_queries()
    oa = Q.all_oracle()
    assert Q._load_all.cache_info().misses == misses
    assert a == b and a is not b and list(a) == list(b)
    a.pop(next(iter(a)))
    oa.clear()
    assert Q.all_queries() == b and Q.all_oracle()
