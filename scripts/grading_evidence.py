"""Write modevetl_spark/queries/grading.json, the evidence the registry
orders its keys by (``queries._load_all``). Per key: ``round``, the latest
CORRECTNESS_rNN.json at the repo root whose entry for it is a full pass
(0 if none, or if its latest entry failed); ``graded``, its fingerprint
in the tree that round graded (the parent of the commit adding the file,
unpacked by ``git archive``); ``fp``, its fingerprint in the working tree.

A fingerprint hashes the key's oracle SQL and the AST (no comments,
docstrings or own def name) of every modevetl_spark function, class and
constant its callable reaches through globals, ``module.attr``, closures
and function-local imports, minus what every key reaches. ``--fingerprint``
prints them for the package in the current directory; each tree is
fingerprinted that way in a fresh subprocess.

Run after a grading round lands a CORRECTNESS file, and after any change
to a query, an operator or an oracle: python scripts/grading_evidence.py
"""

from __future__ import annotations

import ast
import glob
import hashlib
import importlib
import importlib.util
import inspect
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import textwrap
import types

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GRADING = os.path.join(ROOT, "modevetl_spark", "queries", "grading.json")
PKG = "modevetl_spark"
# The @q(key, oracle) registration is not a dependency: the key's oracle
# is hashed directly, and the registry dicts its closure holds would tie
# every key to every other key of its module.
REGISTRY = f"{PKG}.queries._registry"


def _ours(module: str | None) -> bool:
    return module != REGISTRY and (module == PKG or str(module).startswith(PKG + "."))


def _sha(data) -> str:
    return hashlib.sha256(json.dumps(data, sort_keys=True).encode()).hexdigest()


def _tree(obj) -> ast.AST:
    """AST of a def, class or lambda, without docstrings or its own name."""
    if obj.__name__ == "<lambda>":
        # a lambda's source line may not parse alone: take every lambda
        # that starts on its line from the module AST
        code = obj.__code__
        with open(code.co_filename, encoding="utf-8") as f:
            module = ast.parse(f.read())
        found = [n for n in ast.walk(module) if isinstance(n, ast.Lambda)]
        node = ast.Module([ast.Expr(n) for n in found if n.lineno == code.co_firstlineno], [])
    else:
        node = ast.parse(textwrap.dedent(inspect.getsource(obj))).body[0]
        node.name = ""
    for n in ast.walk(node):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if ast.get_docstring(n) is not None:
                n.body = n.body[1:] or [ast.Pass()]
    return node


class Walker:
    """Dependency graph of package objects keyed by identity: a node's
    digest covers its own definition, its edges the objects it names."""

    def __init__(self) -> None:
        self.digest: dict[int, str] = {}
        self.edges: dict[int, set[int]] = {}
        self._pinned: list = []  # keeps every walked object alive, so ids stay unique

    def node(self, obj) -> int | None:
        """The node of ``obj``, or None when it is not a dependency."""
        if callable(obj) and not isinstance(obj, type):
            obj = inspect.unwrap(obj)
        code = isinstance(obj, (types.FunctionType, type))
        if code and not _ours(obj.__module__):
            return None
        if not code and (callable(obj) or inspect.ismodule(obj)):
            return None  # a builtin, a foreign callable object or a module
        i = id(obj)
        if i not in self.digest:
            self._pinned.append(obj)
            self.digest[i], self.edges[i] = "", set()  # "" until computed: breaks cycles
            if code:
                tree = _tree(obj)
                module = sys.modules[obj.__module__]
                scope = dict(vars(module))
                if isinstance(obj, types.FunctionType):
                    cells = (c.cell_contents for c in obj.__closure__ or ())
                    scope.update(zip(obj.__code__.co_freevars, cells))
                self.edges[i] = self._refs(tree, scope, module.__package__)
                self.digest[i] = _sha(ast.dump(tree))
            else:
                self.digest[i] = _sha(self.canon(obj, self.edges[i]))
        return i

    def canon(self, obj, edges: set[int]):
        """Plain data as JSON: sets sorted, callables by their code, never
        by ``repr`` (both vary with PYTHONHASHSEED)."""
        if obj is None or isinstance(obj, (bool, int, float, str)):
            return obj
        if isinstance(obj, (list, tuple, set, frozenset)):
            items = [self.canon(v, edges) for v in obj]
            if isinstance(obj, (set, frozenset)):
                items.sort(key=json.dumps)
            return [type(obj).__name__, items]
        if isinstance(obj, dict):
            items = [[self.canon(k, edges), self.canon(v, edges)] for k, v in obj.items()]
            return ["dict", sorted(items, key=json.dumps)]
        i = self.node(obj) if callable(obj) else None
        if i is not None:
            edges.add(i)
            return ["code", self.digest[i]]
        if hasattr(obj, "json") and type(obj).__module__.startswith("pyspark."):
            return ["spark", obj.json()]  # a StructType
        name = getattr(obj, "__qualname__", type(obj).__qualname__)
        return [getattr(obj, "__module__", None) or type(obj).__module__, name]

    def _refs(self, tree: ast.AST, scope: dict, package: str) -> set[int]:
        for n in ast.walk(tree):  # imports inside a def or class are local
            if isinstance(n, ast.ImportFrom):
                name = importlib.util.resolve_name("." * n.level + (n.module or ""), package)
                if _ours(name):
                    mod = importlib.import_module(name)
                    for a in n.names:
                        if not hasattr(mod, a.name):  # a submodule
                            importlib.import_module(f"{name}.{a.name}")
                        scope[a.asname or a.name] = getattr(mod, a.name)
                    # the edge to each imported object hashes its content;
                    # where it is imported from does not change the key
                    n.module, n.level = None, 0

        def resolve(e):
            if isinstance(e, ast.Name) and not e.id.startswith("__"):  # not __file__ etc.
                return scope.get(e.id)
            if isinstance(e, ast.Attribute):
                mod = resolve(e.value)
                if inspect.ismodule(mod) and _ours(mod.__name__):
                    return getattr(mod, e.attr, None)
            return None

        out = set()
        for n in ast.walk(tree):
            if isinstance(n, (ast.Name, ast.Attribute)) and isinstance(n.ctx, ast.Load):
                obj = resolve(n)
                i = None if obj is None else self.node(obj)
                if i is not None:
                    out.add(i)
        return out

    def reach(self, root: int) -> set[int]:
        seen, todo = {root}, [root]
        while todo:
            for j in self.edges[todo.pop()] - seen:
                seen.add(j)
                todo.append(j)
        return seen


def fingerprints() -> dict[str, str]:
    """``{key: fp}`` for the ``modevetl_spark`` package on ``sys.path``."""
    from modevetl_spark import queries as Q

    oracle, w = Q.all_oracle(), Walker()
    reach = {k: w.reach(w.node(fn)) for k, fn in Q.all_queries().items()}
    shared = set.intersection(*reach.values())
    return {
        k: _sha({"oracle": oracle.get(k), "code": sorted({w.digest[i] for i in r - shared})})
        for k, r in sorted(reach.items())
    }


def fingerprint_tree(tree: str, env: dict | None = None) -> dict[str, str]:
    """Fingerprint the package in ``tree`` in a fresh interpreter."""
    env = dict(os.environ if env is None else env)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (tree, env.get("PYTHONPATH")) if p)
    cmd = [sys.executable, os.path.abspath(__file__), "--fingerprint"]
    out = subprocess.run(cmd, cwd=tree, env=env, check=True, stdout=subprocess.PIPE).stdout
    return json.loads(out)


def graded_rounds() -> dict[str, int]:
    """Key -> round of its latest CORRECTNESS entry, 0 if that entry failed."""

    def round_of(path: str) -> int:
        return int(re.search(r"_r(\d+)\.json$", path).group(1))

    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")), key=round_of):
        with open(path) as f:
            for key, e in json.load(f).items():
                full = all(e.get(m) is True for m in ("rows_match", "schema_match", "hash_match"))
                latest[key] = round_of(path) if full and e.get("err") is None else 0
    return latest


def build() -> dict[str, dict]:
    current, derived = fingerprint_tree(ROOT), graded_rounds()
    rounds = {k: derived.get(k, 0) for k in current}
    graded: dict[int, dict[str, str]] = {0: {}}
    for rnd in sorted(set(rounds.values()) - {0}):
        name = f"CORRECTNESS_r{rnd:02d}.json"
        git = ["git", "-C", ROOT, "log", "--diff-filter=A", "--format=%P", "--", name]
        parents = subprocess.run(git, check=True, stdout=subprocess.PIPE, text=True).stdout
        parents = parents.split()
        if not parents:
            raise SystemExit(f"no commit in this history adds {name}")
        with tempfile.TemporaryDirectory() as tree:
            tar = os.path.join(tree, "graded.tar")  # the parent of the first commit adding it
            subprocess.run(["git", "-C", ROOT, "archive", "-o", tar, parents[-1]], check=True)
            shutil.unpack_archive(tar, tree)
            graded[rnd] = fingerprint_tree(tree)
    return {
        k: {"round": rounds[k], "graded": graded[rounds[k]].get(k), "fp": fp}
        for k, fp in current.items()
    }


if __name__ == "__main__":
    if sys.argv[1:] == ["--fingerprint"]:
        sys.path.insert(0, os.getcwd())
        import modevetl_spark

        if not os.path.realpath(modevetl_spark.__file__).startswith(os.getcwd() + os.sep):
            raise SystemExit(f"imported {modevetl_spark.__file__}, not the package here")
        json.dump(fingerprints(), sys.stdout)
    else:
        evidence = build()
        with open(GRADING, "w") as f:
            f.write(json.dumps(evidence, indent=1) + "\n")
        changed = [k for k, e in evidence.items() if e["round"] == 0 or e["graded"] != e["fp"]]
        print(f"{len(evidence)} keys, {len(changed)} never graded or changed: {changed}")
