"""Every library module must be reachable from an entry point.

Walks the import graph with ``ast`` (imports inside functions included)
from the driver contract, the bench harnesses, the jobs, the benchmark
and the scripts. A package ``__init__`` that re-exports a module does not
count as a use of it: only a name actually imported through the package
reaches the module that defines it. A module that only tests reach is an
orphan; delete it or give it a caller.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "fastcdc_rs_spark"
ENTRY_POINTS = ["__spark_entry__.py", "bench.py", "bench_extra.py",
                "jobs", "perfbench", "scripts"]
ALLOWLIST = {
    f"{PKG}.kernel.ronomon": "the crate's ronomon variant, pinned by the golden tests",
    f"{PKG}.kernel.v2016": "the crate's v2016 variant, pinned by the golden tests",
    f"{PKG}.kernel.stream": "the crate's StreamCDC, pinned by stream-equals-memory tests",
    f"{PKG}.plans.quality": "physical-plan assertions that the tests import",
}


def _index() -> dict[str, Path]:
    """Dotted name -> file for every library module and package."""
    mods = {}
    for p in (REPO / PKG).rglob("*.py"):
        parts = p.relative_to(REPO).with_suffix("").parts
        mods[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = p
    return mods


def _imports(path: Path, name: str):
    """(module, imported names) for every import statement in ``path``."""
    pkg = name if path.name == "__init__.py" else name.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name, ()
        elif isinstance(node, ast.ImportFrom):
            base = pkg
            for _ in range(node.level - 1):
                base = base.rpartition(".")[0]
            mod = node.module or ""
            if node.level:
                mod = f"{base}.{mod}" if mod else base
            yield mod, [alias.name for alias in node.names]


def _reached(mods: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = [p for e in ENTRY_POINTS for p in
            ((REPO / e).rglob("*.py") if (REPO / e).is_dir() else [REPO / e])]

    def use(mod: str, names) -> None:
        if mod in mods and mods[mod].name != "__init__.py" and mod not in seen:
            seen.add(mod)
            todo.append(mods[mod])
        for n in names:
            if f"{mod}.{n}" in mods:
                use(f"{mod}.{n}", ())
            elif mod in mods and mods[mod].name == "__init__.py":
                # a name taken from a package resolves to its defining module
                for src, got in _imports(mods[mod], mod):
                    if n in got:
                        use(src, (n,))

    while todo:
        path = todo.pop()
        name = next((m for m, p in mods.items() if p == path), path.stem)
        for mod, names in _imports(path, name):
            use(mod, names)
    return seen


def test_every_library_module_has_a_non_test_caller():
    mods = _index()
    library = {m for m, p in mods.items() if p.name != "__init__.py"}
    orphans = sorted(library - _reached(mods) - ALLOWLIST.keys())
    assert not orphans, f"modules no entry point reaches: {orphans}"


def test_allowlist_is_current():
    # an allowlisted module that an entry point reaches, or that is gone,
    # no longer needs its entry
    mods = _index()
    assert ALLOWLIST.keys() <= mods.keys() - _reached(mods)
