"""Repo lint gates that pytest can enforce without external tools.

Round-4 verdict found a silently-shadowed test: two ``def
test_kafka_stale_offset_clamp`` in one module, where the second definition
replaces the first at import time, so the first can never run (pyflakes
F811). pyflakes isn't installed in this sandbox, so this is an AST-based
equivalent: any same-scope redefinition of a function or class in the repo's
Python files fails loudly here.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCAN_DIRS = ["kasper_spark", "tests", "examples", "tools", "ci"]
SCAN_FILES = ["__spark_entry__.py", "bench.py"]


def _iter_py_files():
    for d in SCAN_DIRS:
        yield from sorted((REPO / d).rglob("*.py"))
    for f in SCAN_FILES:
        p = REPO / f
        if p.exists():
            yield p


def _redefinitions(tree: ast.AST, path: Path) -> list[str]:
    """Find duplicate def/class names within one lexical scope.

    Scopes considered: module body, class body, function body. Names bound
    by defs inside *different* branches of an if/try (conditional fallback
    definitions) are legitimate, so branches are treated as separate
    scopes — only straight-line duplicates (the F811 shadowing bug class)
    are flagged.
    """
    problems: list[str] = []

    def scan_body(body: list[ast.stmt], scope: str) -> None:
        seen: dict[str, int] = {}
        # Module-level UPPER_CASE constant reassignment is the same bug
        # class for data, not code: a later `_FOO = 2` silently overrides an
        # earlier `_FOO = 4` that intervening definitions captured at import
        # time while call-time readers see the new value (this exact split
        # shipped a wrong nprobe between ann_ivf_topk's oracle and its
        # Spark body before this gate caught it).
        if scope == "module":
            const_seen: dict[str, int] = {}
            for node in body:
                if isinstance(node, ast.Assign) and len(node.targets) == 1:
                    t = node.targets[0]
                    if isinstance(t, ast.Name) and t.id.upper() == t.id and len(t.id) > 1:
                        if t.id in const_seen:
                            problems.append(
                                f"{path.relative_to(REPO)}:{node.lineno}: "
                                f"module constant `{t.id}` reassigned "
                                f"(first at line {const_seen[t.id]}) — import-time "
                                f"captures and call-time reads now disagree"
                            )
                        else:
                            const_seen[t.id] = node.lineno
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                # decorated re-binds (e.g. @overload, @prop.setter) are valid
                decos = {
                    d.id if isinstance(d, ast.Name) else getattr(d, "attr", "")
                    for d in node.decorator_list
                }
                if decos & {"overload", "setter", "deleter", "getter", "register"}:
                    continue
                if node.name in seen:
                    problems.append(
                        f"{path.relative_to(REPO)}:{node.lineno}: "
                        f"`{node.name}` redefined in {scope} "
                        f"(first at line {seen[node.name]}) — earlier def can never run"
                    )
                else:
                    seen[node.name] = node.lineno
            # recurse into nested scopes / branches
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scan_body(node.body, f"function {node.name}")
            elif isinstance(node, ast.ClassDef):
                scan_body(node.body, f"class {node.name}")
            elif isinstance(node, (ast.If, ast.Try, ast.While, ast.For, ast.With)):
                for branch in (
                    [node.body]
                    + [h.body for h in getattr(node, "handlers", [])]
                    + [getattr(node, "orelse", [])]
                    + [getattr(node, "finalbody", [])]
                ):
                    if branch:
                        scan_body(branch, scope)

    scan_body(tree.body, "module")  # type: ignore[attr-defined]
    return problems


def test_no_shadowed_definitions():
    all_problems: list[str] = []
    for path in _iter_py_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        all_problems.extend(_redefinitions(tree, path))
    assert not all_problems, "shadowed definitions (F811):\n" + "\n".join(all_problems)


def test_no_pinned_persist_in_engine_source():
    """Cache-discipline gate (VERDICT r05 #4): a pinned ``.persist()`` /
    ``.cache()`` with no ``unpersist()`` stays in the CacheManager until
    session end, so one query's intermediates bleed memory pressure into
    the next across a 169-query sweep. The engine uses eager
    ``localCheckpoint()`` instead: same materialization + reuse, but the
    blocks are released by the ContextCleaner once the result goes out of
    scope, and the lineage is actually cut. Any new pinned persist must
    come with an unpersist in the same function — or better, use
    localCheckpoint and stay off this lint's radar entirely."""
    problems: list[str] = []
    for path in sorted((REPO / "kasper_spark").rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if not isinstance(node, ast.FunctionDef):
                continue
            calls = [
                n.func.attr
                for n in ast.walk(node)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
            ]
            pinned = sum(1 for c in calls if c in ("persist", "cache"))
            released = sum(1 for c in calls if c == "unpersist")
            if pinned > released:
                problems.append(
                    f"{path.relative_to(REPO)}: function `{node.name}` pins "
                    f"{pinned} cache(s) but releases {released} — use "
                    "localCheckpoint() or pair with unpersist()"
                )
    assert not problems, "\n".join(problems)


# ---- Pinned-only code gate ----------------------------------------------
#
# A module-level private function in kasper_spark/ must be reachable from
# a live root: a registered query, a public name, module-level code, or
# the tools/, examples/, perfbench/, bench.py and __spark_entry__.py
# entry points. One that only tests reach is a second copy of a
# computation kept for comparison; where the live form has a DuckDB
# oracle, tests/test_oracle_parity.py certifies it instead.
#
# Reachability is by name over the AST (any Name, attribute, imported
# name or identifier-shaped string constant counts as a reference), so
# it over-approximates what is live and never flags a real caller.

LIVE_ROOT_DIRS = ["tools", "examples", "perfbench"]
LIVE_ROOT_FILES = ["bench.py", "__spark_entry__.py"]

# Kept test-only references: each is the only value reference its tests
# have.
TEST_ONLY_ALLOWED = {
    "_ann_lsh_topk_hof": "ann_lsh_topk has no DuckDB oracle; its only value reference",
    "_pq_encode": "JVM encoder that _pq_encode_np is checked against, code for code",
    "_pqres_encode": "JVM encoder for _pqres_encode_np and the persisted residual codes",
    "_train_centroids_np": "long-form centroids for the pyarrow write round trip and _kmeans_core",
    "_ivf_trained_candidates_np": "candidate half of the composed form the fused trained-IVF serve equals",
}


def _identifiers(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _module_stmts(body: list[ast.stmt]):
    """Module-level statements, looking through if/try blocks."""
    for s in body:
        if isinstance(s, (ast.If, ast.Try)):
            for branch in (
                [s.body, s.orelse, getattr(s, "finalbody", [])]
                + [h.body for h in getattr(s, "handlers", [])]
            ):
                yield from _module_stmts(branch)
        else:
            yield s


def _files_identifiers(paths) -> set[str]:
    out: set[str] = set()
    for p in paths:
        out |= _identifiers(ast.parse(p.read_text(), filename=str(p)))
    return out


def pinned_only_functions(repo: Path = REPO) -> dict[str, str]:
    """{name: "path:line"} of module-level private functions in
    kasper_spark/ that no live root reaches (tests-only or dead)."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    live: set[str] = set()
    for path in sorted((repo / "kasper_spark").rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for s in _module_stmts(tree.body):
            if not isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                live |= _identifiers(s)
                continue
            where = f"{path.relative_to(repo)}:{s.lineno}"
            defs.setdefault(s.name, []).append((where, s))
            registered = False
            for d in s.decorator_list:
                live |= _identifiers(d)
                f = d.func if isinstance(d, ast.Call) else d
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
                registered |= name.startswith("register")
            if registered or not s.name.startswith("_"):
                live.add(s.name)
    for d in LIVE_ROOT_DIRS:
        live |= _files_identifiers(sorted((repo / d).rglob("*.py")))
    live |= _files_identifiers(repo / f for f in LIVE_ROOT_FILES if (repo / f).exists())

    reached: set[str] = set()
    work = [n for n in live if n in defs]
    while work:
        n = work.pop()
        if n in reached:
            continue
        reached.add(n)
        for _, node in defs[n]:
            work.extend(i for i in _identifiers(node) if i in defs and i not in reached)
    return {
        name: where
        for name, nodes in defs.items()
        if name.startswith("_") and not name.startswith("__") and name not in reached
        for where, node in nodes
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def test_no_pinned_only_private_functions():
    found = pinned_only_functions()
    unexpected = {n: w for n, w in found.items() if n not in TEST_ONLY_ALLOWED}
    assert not unexpected, (
        "private functions no live root reaches (delete them, or certify the "
        "live form in tests/test_oracle_parity.py):\n"
        + "\n".join(f"{w}: {n}" for n, w in sorted(unexpected.items()))
    )
    stale = sorted(set(TEST_ONLY_ALLOWED) - set(found))
    assert not stale, f"allowlisted names that are now live or gone: {stale}"
