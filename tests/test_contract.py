"""Differential test of EVERY registered query against its DuckDB oracle,
plus the driver smoke contract. This is the local twin of the driver's
CORRECTNESS gate — run at sf0.001 for speed (the driver uses sf0.01).
"""

from __future__ import annotations

import ast
import functools
import glob
import importlib
import json
import os
import pkgutil

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


# Top-level defs that no front door reaches but that stay, one reason each.
_STREAMING = "Structured Streaming surface, which PAPER.md names"
_UNREACHED_KEPT = {
    f"modevetl_spark.streaming.structured.{name}": reason
    for name, reason in {
        "events_stream": f"{_STREAMING}: the events source",
        "tumbling_counts": f"{_STREAMING}: watermarked tumbling windows",
        "session_counts": f"{_STREAMING}: native session windows",
        "deduped": f"{_STREAMING}: watermark-bounded dedup",
        "stateful_sessions": f"{_STREAMING}: applyInPandasWithState sessions",
        "run_to_sink": f"{_STREAMING}: append-mode file sink",
        "run_foreach_batch": f"{_STREAMING}: the cron jobs' bodies per micro-batch",
        "documents_stream": f"{_STREAMING}: the documents source",
    }.items()
}


def _front_door_roots(w: GE.Walker) -> list[int]:
    """Walker nodes of what the three front doors call: every registry
    callable, the cron CLI's ``jobs.main``, the names each query module's
    top-level statements load (its oracle strings are built there), and
    the package names ``__spark_entry__.py``, ``bench.py`` and
    ``perfbench/`` import."""
    from modevetl_spark import jobs
    from modevetl_spark import queries as Q

    objs = [*_QUERIES.values(), jobs.main]
    roots = []
    for name in Q._MODULES:
        mod = importlib.import_module(f"{GE.PKG}.queries.{name}")
        with open(mod.__file__, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for s in tree.body:
            if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef)):
                s.body = [ast.Pass()]  # runs when called, not on import
        roots += w._refs(tree, dict(vars(mod)), mod.__package__)
    doors = [os.path.join(GE.ROOT, p) for p in ("__spark_entry__.py", "bench.py")]
    for path in doors + sorted(glob.glob(os.path.join(GE.ROOT, "perfbench", "*.py"))):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and GE._ours(n.module):
                mod = importlib.import_module(n.module)
                objs += [getattr(mod, a.name) for a in n.names]
    return roots + [i for i in map(w.node, objs) if i is not None]


def test_every_def_reached_from_a_front_door():
    """Every top-level def and class of the package is reached from a
    front door (registry, cron CLI, benchmark) or kept on purpose in
    _UNREACHED_KEPT; code only tests call is deleted with its tests."""
    w = GE.Walker()
    reached: set[int] = set()
    for root in _front_door_roots(w):
        if root not in reached:
            reached |= w.reach(root)
    import modevetl_spark

    unreached = {}
    for info in pkgutil.walk_packages(modevetl_spark.__path__, f"{GE.PKG}."):
        if info.name == GE.REGISTRY:
            continue
        mod = importlib.import_module(info.name)
        with open(mod.__file__, encoding="utf-8") as f:
            body = ast.parse(f.read()).body
        for s in body:
            if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if w.node(getattr(mod, s.name)) not in reached:
                    unreached[f"{info.name}.{s.name}"] = s.end_lineno - s.lineno + 1
    stray = sorted(set(unreached) - set(_UNREACHED_KEPT))
    assert not stray, (
        f"{len(stray)} defs ({sum(unreached[k] for k in stray)} lines) "
        f"reached by no front door: {stray}"
    )
    gone = sorted(set(_UNREACHED_KEPT) - set(unreached))
    assert not gone, f"kept entries now reached or gone, drop them: {gone}"


def _unloaded_imports(path: str) -> list[str]:
    """``path:line name`` for each name an import binds in a scope (the
    module or a function) that no code of that scope, nested scopes
    included, loads. Imports marked ``noqa: F401`` are kept on purpose."""
    with open(path, encoding="utf-8") as f:
        src = f.read()
    lines = src.splitlines()
    out = []

    def scope(node):
        imports, todo = [], list(ast.iter_child_nodes(node))
        while todo:
            n = todo.pop()
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                scope(n)
                continue
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                imports.append(n)
            todo.extend(ast.iter_child_nodes(n))
        loads = {
            n.id
            for n in ast.walk(node)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        for imp in imports:
            if getattr(imp, "module", None) == "__future__":
                continue
            if "noqa: F401" in lines[imp.lineno - 1]:
                continue
            for a in imp.names:
                name = (a.asname or a.name).split(".")[0]
                if name not in loads:
                    out.append(f"{os.path.relpath(path, GE.ROOT)}:{imp.lineno} {name}")

    scope(ast.parse(src))
    return out


def test_no_unused_imports():
    """Every imported name is loaded in its scope, in the package, its
    tests, its scripts and the entry files. Package ``__init__``
    re-exports are exempt. Neither pyflakes nor ruff ships with the
    toolchain, so this is the only check of it."""
    paths = [
        p
        for pat in ("*.py", "modevetl_spark/**/*.py", "scripts/*.py", "tests/*.py")
        for p in sorted(glob.glob(os.path.join(GE.ROOT, pat), recursive=True))
        if os.path.basename(p) != "__init__.py"
    ]
    assert len(paths) > 50
    unused = [u for p in paths for u in _unloaded_imports(p)]
    assert not unused, f"imported, never loaded: {unused}"


def test_slow_tier_entries_name_existing_tests():
    """conftest's _SLOW_TESTS is matched against collected node ids, and
    an entry that names no test is silently ignored: every entry must
    name a test function that exists in its file."""
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "conftest.py"), encoding="utf-8") as f:
        conftest = ast.parse(f.read())
    (entries,) = [
        ast.literal_eval(n.value)
        for n in conftest.body
        if isinstance(n, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "_SLOW_TESTS" for t in n.targets)
    ]
    defined: dict[str, set[str]] = {}
    missing = []
    for entry in sorted(entries):
        fname, *scope = entry.split("[", 1)[0].split("::")
        if fname not in defined:
            with open(os.path.join(here, fname), encoding="utf-8") as f:
                defined[fname] = {
                    n.name
                    for n in ast.walk(ast.parse(f.read()))
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                }
        if scope[-1] not in defined[fname]:
            missing.append(entry)
    assert not missing, f"_SLOW_TESTS entries naming no test: {missing}"
