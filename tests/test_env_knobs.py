"""Every environment variable the library and the jobs read, with its reason.

Walks ``fastcdc_rs_spark/`` and ``jobs/`` with ``ast`` for each
``os.environ[...]``, ``os.environ.get(...)`` and ``os.getenv(...)`` read.
The set of names must equal ``KNOBS``: a new knob has to be added here
with the reason it exists, and a knob whose last read is deleted has to
leave with it.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
ROOTS = ["fastcdc_rs_spark", "jobs"]
KNOBS = {
    "SPARK_GRAFT_CPUS": "local[N] cores and default parallelism of a session",
    "SPARK_GRAFT_BCAST_THRESHOLD": "broadcast-join threshold for hosts with "
                                   "tight driver memory",
    "SPARK_GRAFT_DRIVER_MEM": "spark.driver.memory of a local session",
    "SPARK_GRAFT_NATIVE": "0 forces the numpy kernels; the suite checks their "
                          "parity with the C kernel",
    "CC": "the C compiler that builds the native kernel",
    "DEDUP_INPUT": "the batch job's input parquet dir",
    "DEDUP_OUTPUT": "the batch job's output root",
    "DEDUP_CONFIG": "the batch job's JSON overrides of DedupConfig",
    "INCDEDUP_SOURCE": "the incremental job's source snapshot table root",
    "INCDEDUP_WORK": "the incremental job's working dir",
}


def _is_environ(node: ast.AST) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "environ"


def _key_nodes(tree: ast.AST):
    """The key expression of every environment read in ``tree``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Load) \
                and _is_environ(node.value):
            yield node.slice
        elif isinstance(node, ast.Call) and node.args \
                and isinstance(node.func, ast.Attribute) and (
                    node.func.attr == "getenv" or (
                        node.func.attr == "get" and _is_environ(node.func.value))):
            yield node.args[0]


def _env_reads() -> dict[str, set[str]]:
    """Knob name -> files that read it; a non-literal key is reported by
    its source text so that the comparison fails on it."""
    reads: dict[str, set[str]] = {}
    for root in ROOTS:
        for path in sorted((REPO / root).rglob("*.py")):
            src = path.read_text()
            for key in _key_nodes(ast.parse(src)):
                name = (key.value if isinstance(key, ast.Constant)
                        and isinstance(key.value, str)
                        else f"<non-literal {ast.get_source_segment(src, key)}>")
                reads.setdefault(name, set()).add(str(path.relative_to(REPO)))
    return reads


def test_every_env_knob_is_pinned_with_a_reason():
    reads = _env_reads()
    unlisted = {k: sorted(v) for k, v in reads.items() if k not in KNOBS}
    unread = sorted(KNOBS.keys() - reads.keys())
    assert not unlisted, f"environment reads without a pinned reason: {unlisted}"
    assert not unread, f"pinned knobs that nothing reads any more: {unread}"
