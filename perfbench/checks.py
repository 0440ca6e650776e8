"""Pure helpers of the benchmark: output checks and summary statistics.

Nothing here imports Spark, so the unit tests in test_perfbench.py run
without a JVM.
"""

from __future__ import annotations

import json
import statistics


def cluster_digest(doc_ids, cluster_ids) -> list[int]:
    """Order-independent digest of a ``(doc_id, cluster_id)`` assignment:
    ``[rows, sum(cluster_id), sum(doc_id * cluster_id)]`` in exact integers.
    Spark computes the same three aggregates in decimal(38,0)
    (workloads.digest_columns), so the two sides compare exactly."""
    rows = s1 = s2 = 0
    for d, c in zip(doc_ids, cluster_ids):
        rows += 1
        s1 += int(c)
        s2 += int(d) * int(c)
    return [rows, s1, s2]


def pair_recall(got: set[tuple[int, int]], want: set[tuple[int, int]]) -> float:
    """Share of the oracle's pairs that the run produced (1.0 when the
    oracle has none)."""
    if not want:
        return 1.0
    return len(got & want) / len(want)


def median(values) -> float:
    return float(statistics.median(values))


def settled(times: list[float], tolerance: float = 0.1) -> bool:
    """Warm-up stop rule: at least two reps, and the last one within
    ``tolerance`` of the one before it."""
    return len(times) >= 2 and abs(times[-1] - times[-2]) <= tolerance * times[-2]


def metric_names(benchmark_json: str, trace: bool) -> list[str]:
    """Names the result line must carry: the end-to-end metrics when
    untraced, the per-layer ones when traced."""
    with open(benchmark_json) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def metric_units(benchmark_json: str) -> dict[str, str]:
    with open(benchmark_json) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], names: list[str],
                units: dict[str, str]) -> str:
    """The final stdout line. Every name in ``names`` must have a value
    and every value a name: either mismatch is a benchmark bug."""
    missing = [n for n in names if n not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    undeclared = sorted(set(values) - set(names))
    if undeclared:
        raise KeyError(f"metrics not in BENCHMARK.json: {undeclared}")
    metrics = {n: {"value": float(values[n]), "unit": units[n]} for n in names}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})
