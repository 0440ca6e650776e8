"""Result frames carry no cache state: persisted intermediates live in
``fastcdc_rs_spark/cache.py``'s registry, released by ``cache.scope()``.

Walks the library and the jobs with ``ast``. A ``_graft_*`` attribute may
be written only at the sites below, each kept because a harness outside
the library reads it. Any read of ``_graft_caches`` — attribute or
``getattr`` — is a second cache mechanism and fails.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
ROOTS = ["fastcdc_rs_spark", "jobs"]
# (file, attribute) -> the reader that keeps the write
ALLOWED_WRITES = {
    ("fastcdc_rs_spark/operators/verify.py", "_graft_caches"):
        "perfbench/workloads.py counts hub pairs in the _deg table (verify.hub_pairs)",
    ("fastcdc_rs_spark/operators/components.py", "_graft_cc_stats"):
        "near_dup_clusters' summary and perfbench's components.rounds",
}
_ATTR_FUNCS = {"getattr": "read", "hasattr": "read",
               "setattr": "write", "delattr": "write"}


def _graft_uses():
    """(file, line, attribute, "read" | "write") per ``_graft_*`` use."""
    for root in ROOTS:
        for path in sorted((REPO / root).rglob("*.py")):
            rel = path.relative_to(REPO).as_posix()
            for node in ast.walk(ast.parse(path.read_text())):
                if isinstance(node, ast.Attribute) and node.attr.startswith("_graft_"):
                    kind = "read" if isinstance(node.ctx, ast.Load) else "write"
                    yield rel, node.lineno, node.attr, kind
                elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                      and node.func.id in _ATTR_FUNCS and len(node.args) >= 2
                      and isinstance(node.args[1], ast.Constant)
                      and str(node.args[1].value).startswith("_graft_")):
                    yield rel, node.lineno, node.args[1].value, _ATTR_FUNCS[node.func.id]


def test_no_graft_cache_state():
    bad = [f"{f}:{line} {kind}s {attr}" for f, line, attr, kind in _graft_uses()
           if (kind == "write" and (f, attr) not in ALLOWED_WRITES)
           or (kind == "read" and attr == "_graft_caches")]
    assert not bad, ("register persisted frames with cache.register_cache "
                     "instead of hanging them on result frames:\n" + "\n".join(bad))


def test_each_allowed_write_is_one_line():
    lines: dict[tuple[str, str], list[int]] = {}
    for f, line, attr, kind in _graft_uses():
        if kind == "write":
            lines.setdefault((f, attr), []).append(line)
    off = {site: lines.get(site, []) for site in ALLOWED_WRITES
           if len(lines.get(site, [])) != 1}
    assert not off, f"each allowlisted write must happen at exactly one line: {off}"
