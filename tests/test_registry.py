"""Registry contract tests: the driver-verification window is FROZEN.

The external driver hash-verifies only the first ``DRIVER_CHECK_CAP``
entries of ``queries()``/``oracle_sql()`` (SURVEY.md §5.2). Round 2's
driver run verified exactly ``DRIVER_WINDOW`` (CORRECTNESS_r02.json,
50/50 green); pinning by name keeps that verdict stable across module
refactors and mid-round driver runs.
"""

import ast
import importlib
from pathlib import Path

from server_spark import registry


def _ordered_names():
    registry._ensure_loaded()
    return [q.name for q in registry._ordered()]


def test_driver_window_is_frozen():
    names = _ordered_names()
    assert names[: registry.DRIVER_CHECK_CAP] == list(registry.DRIVER_WINDOW)


def test_window_entries_all_oracle_backed():
    registry._ensure_loaded()
    for name in registry.DRIVER_WINDOW:
        q = registry.REGISTRY[name]
        assert q.oracle, f"{name} is in the driver window but has no oracle"


def test_no_rows_only_before_oracle_backed():
    """Every rows-only entry sorts after every oracle-backed one, so a
    growing cap can only ADD verified queries."""
    names = _ordered_names()
    registry._ensure_loaded()
    tiers = [0 if registry.REGISTRY[n].oracle else 1 for n in names]
    assert tiers == sorted(tiers)


def test_new_queries_must_be_late():
    """Guard for future rounds: every oracle query outside the frozen
    window must carry late=True — otherwise it was meant for the
    window and the freeze list needs a deliberate edit."""
    registry._ensure_loaded()
    for q in registry.REGISTRY.values():
        if q.name in registry.DRIVER_WINDOW:
            continue
        if q.oracle:
            assert q.late, (
                f"{q.name} is oracle-backed but outside DRIVER_WINDOW and "
                "not late=True; either add it to the freeze list "
                "deliberately or register it late"
            )


def test_queries_and_oracles_align():
    registry._ensure_loaded()
    qs = registry.queries()
    os = registry.oracle_sql()
    assert set(os) <= set(qs)
    # dict order of oracle_sql follows queries order
    qnames = [n for n in qs if n in os]
    assert list(os) == qnames


PKG = Path(registry.__file__).resolve().parent
ROOT = PKG.parent


def _package_imports(path):
    """(lineno, module, name) for every absolute ``server_spark``
    import in ``path``, function-local ones included; ``name`` is None
    for a plain ``import server_spark...``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            targets = [(node.module, a.name) for a in node.names]
        else:
            continue
        for module, name in targets:
            if module.split(".")[0] == "server_spark":
                yield node.lineno, module, name


def test_in_package_imports_resolve():
    """Every ``from server_spark... import name`` and ``import
    server_spark...`` resolves, function-local ones included, in the
    package and in everything that imports it: the tests, the scripts,
    the benchmarks and the driver entry. A dangling local import
    otherwise raises only when the query that holds it runs, and one
    in a test file only as a collection error."""
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in (PKG, ROOT / "tests", ROOT / "scripts", ROOT / "perfbench"):
        files += d.rglob("*.py")
    missing = []
    for path in sorted(files):
        for lineno, module, name in _package_imports(path):
            where = f"{path.relative_to(ROOT)}:{lineno}"
            try:
                mod = importlib.import_module(module)
            except ImportError as e:
                missing.append(f"{where}: {module} ({e})")
                continue
            if name is None or hasattr(mod, name):
                continue
            try:
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                missing.append(f"{where}: {module}.{name}")
    assert not missing, "unresolved in-package imports:\n" + "\n".join(missing)


# Package modules that no measured surface imports (ROADMAP D3): each
# is reached only from tests. Wire one into a measured surface or
# delete it, then take it off this list.
UNREACHED_BACKLOG = frozenset({
    "plans.bucketing",
    "plans.layout",
    "sources.dump_datasource",
    "sources.json_dump",
})


def test_package_modules_reach_a_measured_surface():
    """Every ``server_spark`` module is imported, directly or through
    other package modules (function-local imports included), from a
    measured surface: a registered query module, ``bench.py``, the
    driver entry, ``scripts/`` or the benchmark harness outside its
    tests. A module only tests reach is dead weight the benchmarks
    never see; the known ones are ``UNREACHED_BACKLOG``, and a new one
    fails here by name."""
    modules = {}
    for path in PKG.rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        modules[".".join(parts)] = path

    def edges(path):
        for _, module, name in _package_imports(path):
            target = f"{module}.{name}"
            yield target if target in modules else module

    surfaces = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    surfaces += (ROOT / "scripts").glob("*.py")
    surfaces += (ROOT / "perfbench").glob("*.py")
    todo = [f"{registry._PACKAGE}.{m}" for m in registry._MODULES]
    for path in surfaces:
        todo += edges(path)
    reached = set()
    while todo:
        mod = todo.pop()
        if mod in reached or mod not in modules:
            continue
        reached.add(mod)
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        todo += [mod.rsplit(".", k)[0] for k in range(1, mod.count(".") + 1)]
        todo += edges(modules[mod])
    unreached = {m.split(".", 1)[1] for m in set(modules) - reached}
    assert unreached == UNREACHED_BACKLOG, (
        f"reached only from tests: {sorted(unreached - UNREACHED_BACKLOG)}; "
        f"no longer in the backlog: {sorted(UNREACHED_BACKLOG - unreached)}"
    )


def test_order_is_independent_of_import_history():
    """A process that imports a late query module before its first
    ``queries()`` call gets this process's order: past the driver
    window, queries sort by their module's place in the registry's
    import list and their definition line, not by which module was
    imported first."""
    import json
    import subprocess
    import sys

    registry._ensure_loaded()
    listed = {f"{registry._PACKAGE}.{m}" for m in registry._MODULES}
    assert {q.fn.__module__ for q in registry.REGISTRY.values()} <= listed
    code = (
        "import json, server_spark.queries.warehouse\n"
        "from server_spark import registry\n"
        "print(json.dumps(list(registry.queries())))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=Path(registry.__file__).resolve().parents[1], timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.splitlines()[-1]) == _ordered_names()
