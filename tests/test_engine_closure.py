"""The split between the crawl engine and the gate catalogue, checked
statically with ``ast`` (no Spark):

* the *engine closure* is every package module imported, transitively,
  from ``plans/crawl.py``, ``tools/crawl_main.py`` and ``bench.py``;
* every package module is reachable from those roots or from the gate
  catalogue ``plans/queries.py``, apart from the listed orphans that
  only their own tests import; the list may shrink, never grow;
* the engine does not import the gate catalogue;
* every gate ``bench.py`` times is registered.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "goto_eater_crawler_spark"
QUERIES = f"{PKG}.plans.queries"

# Reached only by their own tests: the Structured Streaming variants and
# the pure-Python robots.txt parser (the engine's robots path is the
# Catalyst ``robots_split``).
KNOWN_ORPHANS = {
    f"{PKG}.functions.robotstxt",
    f"{PKG}.streaming",
    f"{PKG}.streaming.hotspots_stream",
    f"{PKG}.streaming.ingest",
    f"{PKG}.streaming.quota_stream",
    f"{PKG}.streaming.retry_stream",
    f"{PKG}.streaming.seen_stream",
}


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file path, for every module in the package."""
    mods = {}
    for root, _, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            parts = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            mods[".".join(parts)] = path
    return mods


MODULES = _package_modules()


def _imports(path: str, module: str | None) -> set[str]:
    """Package modules a file imports anywhere in its body (function-
    local imports included), with the parent packages Python imports
    on the way."""
    is_pkg = path.endswith("__init__.py")
    with open(path) as f:
        tree = ast.parse(f.read())
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = module.split(".") if is_pkg else module.split(".")[:-1]
                parts = parts[: len(parts) - node.level + 1]
                base = ".".join(parts + ([node.module] if node.module else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(
            ".".join(parts[:i])
            for i in range(1, len(parts) + 1)
            if ".".join(parts[:i]) in MODULES
        )
    return out


def _closure(roots: set[str]) -> set[str]:
    seen: set[str] = set()
    stack = list(roots)
    while stack:
        mod = stack.pop()
        if mod not in seen:
            seen.add(mod)
            stack.extend(_imports(MODULES[mod], mod) - seen)
    return seen


def _engine_closure() -> set[str]:
    roots = {f"{PKG}.plans.crawl"}
    for script in ("tools/crawl_main.py", "bench.py"):
        roots |= _imports(os.path.join(REPO, script), None)
    return _closure(roots)


def _registered_gates() -> set[str]:
    with open(MODULES[QUERIES]) as f:
        tree = ast.parse(f.read())
    return {
        deco.args[0].value
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        for deco in node.decorator_list
        if isinstance(deco, ast.Call)
        and getattr(deco.func, "id", None) == "_register"
    }


def test_every_package_module_has_a_caller():
    reachable = _engine_closure() | _closure({QUERIES})
    orphans = set(MODULES) - reachable
    new = sorted(orphans - KNOWN_ORPHANS)
    assert not new, f"modules nothing in the engine or gates imports: {new}"
    stale = sorted(KNOWN_ORPHANS - orphans)
    assert not stale, f"no longer orphans, drop them from the list: {stale}"


def test_engine_does_not_import_the_gate_catalogue():
    engine = _engine_closure()
    assert f"{PKG}.plans.crawl" in engine
    assert QUERIES not in engine, "the engine must not import the gate catalogue"


def test_bench_headline_gates_are_registered():
    with open(os.path.join(REPO, "bench.py")) as f:
        tree = ast.parse(f.read())
    headline = next(
        ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "HEADLINE_GATES" for t in node.targets)
    )
    assert headline
    missing = sorted(set(headline) - _registered_gates())
    assert not missing, f"bench.py times unregistered gates: {missing}"
