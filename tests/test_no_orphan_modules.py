"""Every library module, and every public function of one, must be
reachable from an entry point.

Walks the import graph with ``ast`` (imports inside functions included)
from the driver contract, the bench harnesses, the jobs, the benchmark
and the scripts. A package ``__init__`` that re-exports a module does not
count as a use of it: only a name actually imported through the package
reaches the module that defines it. A module that only tests reach is an
orphan; delete it or give it a caller. The same holds one level down for
the public top-level functions and classes of the reached modules.
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
# public functions that no entry point calls, kept as the references that
# tests compare the production path against
FUNCTION_ALLOWLIST = {
    f"{PKG}.kernel.fastcdc.cut": "scalar chunker of the oracle and the goldens",
    f"{PKG}.kernel.fastcdc.chunk_bytes": "scalar chunker of the oracle and the goldens",
    f"{PKG}.kernel.signatures.minhash_batch": "list form in the native-vs-numpy parity tests",
    f"{PKG}.kernel.signatures.kgram_shingles": "list form in the native-vs-numpy parity tests",
    f"{PKG}.kernel.signatures.simhash_batch": "list form in the native-vs-numpy parity tests",
    f"{PKG}.operators.knn.cosine_expr": "per-pair reference for _cosine_ridden",
    f"{PKG}.operators.suffix.suffix_array": "reference suffix array for sa_lcp",
    f"{PKG}.operators.suffix.lcp_array": "reference Kasai LCP for sa_lcp",
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


def _entry_files() -> list[Path]:
    return [p for e in ENTRY_POINTS for p in
            ((REPO / e).rglob("*.py") if (REPO / e).is_dir() else [REPO / e])]


def _reached(mods: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = _entry_files()

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


def _defining(mods: dict[str, Path], mod: str, name: str) -> tuple[str, str]:
    """Follow a name taken from a package to the module that defines it."""
    while mod in mods and mods[mod].name == "__init__.py":
        src = next((m for m, got in _imports(mods[mod], mod) if name in got), None)
        if src is None:
            break
        mod = src
    return mod, name


def _name_uses(path: Path, name: str, mods: dict[str, Path]):
    """(module, name) for every name ``path`` imports from a library
    module or reads as an attribute of an imported library module."""
    tree = ast.parse(path.read_text())
    bound: dict[str, str] = {}  # local name -> library module it binds
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.asname and alias.name in mods:
                    bound[alias.asname] = alias.name
    for mod, names in _imports(path, name):
        if not names and mod.split(".")[0] in mods:
            bound[mod.split(".")[0]] = mod.split(".")[0]
        for n in names:
            if f"{mod}.{n}" in mods:
                bound[n] = f"{mod}.{n}"
            elif mod in mods:
                yield _defining(mods, mod, n)
    for node in ast.walk(tree):
        chain = []
        while isinstance(node, ast.Attribute):
            chain.append(node.attr)
            node = node.value
        if isinstance(node, ast.Name) and node.id in bound and chain:
            mod = bound[node.id]
            for attr in reversed(chain):
                if f"{mod}.{attr}" not in mods:
                    yield _defining(mods, mod, attr)
                    break
                mod = f"{mod}.{attr}"


def _unused_functions() -> list[str]:
    mods = _index()
    reached = _reached(mods)
    checked = {m for m in reached if m not in ALLOWLIST}
    name_of = {p: m for m, p in mods.items()}
    used = {f"{m}.{n}" for p in _entry_files() + [mods[m] for m in reached]
            for m, n in _name_uses(p, name_of.get(p, p.stem), mods)}
    unused = []
    for mod in sorted(checked):
        top = {}  # top-level def/class name -> names its body reads
        live: set[str] = set()
        for stmt in ast.parse(mods[mod].read_text()).body:
            refs = {n.id for n in ast.walk(stmt) if isinstance(n, ast.Name)}
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                top[stmt.name] = refs
                if f"{mod}.{stmt.name}" in used or (
                        mod.startswith(f"{PKG}.streaming.") and not stmt.name.startswith("_")):
                    live.add(stmt.name)
            else:  # module-level code runs on import
                live |= refs
        todo = list(live & top.keys())
        while todo:  # names a live definition reads are live too
            for ref in top[todo.pop()] & top.keys() - live:
                live.add(ref)
                todo.append(ref)
        unused += [f"{mod}.{n}" for n in top if not n.startswith("_") and n not in live]
    return unused


def test_every_public_function_has_a_non_test_caller():
    orphans = sorted(set(_unused_functions()) - FUNCTION_ALLOWLIST.keys())
    assert not orphans, f"public functions no entry point calls: {orphans}"


def test_function_allowlist_is_current():
    # an allowlisted function that an entry point calls, or that is gone,
    # no longer needs its entry
    assert FUNCTION_ALLOWLIST.keys() <= set(_unused_functions())
