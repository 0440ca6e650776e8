"""Kernel UDFs are Arrow UDFs.

A UDF that calls a kernel entry point (``chunk_*``, ``signature_*``,
``simhash_*``), directly or through a helper in its module, must be an
``F.arrow_udf``: a ``pandas_udf`` takes every batch through pandas objects
instead of handing the column's Arrow buffers to the kernel as one ragged
batch (operators/ragged.py).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "fastcdc_rs_spark"
KERNEL = re.compile(r"(chunk|signature|simhash)_")


def _name(node: ast.AST) -> str:
    if isinstance(node, ast.Call):
        node = node.func
    return node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", "")


def _calls(fn: ast.AST) -> set[str]:
    return {_name(n) for n in ast.walk(fn) if isinstance(n, ast.Call)}


def _kernel_udfs() -> dict[str, list[str]]:
    """{"pandas_udf": [...], "arrow_udf": [...]} of ``file:function`` for
    every UDF whose body reaches a kernel entry point."""
    found: dict[str, list[str]] = {"pandas_udf": [], "arrow_udf": []}
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        defs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        reach = {fn.name for fn in defs if any(KERNEL.match(c) for c in _calls(fn))}
        grew = True
        while grew:  # helpers that call the kernel count as the kernel
            more = {fn.name for fn in defs if _calls(fn) & reach} - reach
            reach |= more
            grew = bool(more)
        udfs = {fn.name: _name(d) for fn in defs for d in fn.decorator_list}
        for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
            if call.args and isinstance(call.args[0], ast.Name):  # F.pandas_udf(fn, ...)
                udfs.setdefault(call.args[0].id, _name(call))
        for fn, kind in sorted(udfs.items()):
            if kind in found and fn in reach:
                found[kind].append(f"{path.relative_to(PKG.parent)}:{fn}")
    return found


def test_kernel_udfs_are_arrow_udfs():
    found = _kernel_udfs()
    assert not found["pandas_udf"], (
        "kernel UDFs must be F.arrow_udf, not pandas_udf: " + ", ".join(found["pandas_udf"])
    )
    # the chunk, chunk-hash, signature, fused signature and fused SimHash
    # UDFs: a missing one means the guard stopped seeing it
    ops = "fastcdc_rs_spark/operators"
    assert sorted(found["arrow_udf"]) == sorted([
        f"{ops}/chunk.py:_chunk", f"{ops}/chunk.py:_hashes",
        f"{ops}/minhash.py:_sig", f"{ops}/minhash.py:_chunk_sig",
        f"{ops}/simhash.py:_chunk_simhash",
    ]), found
