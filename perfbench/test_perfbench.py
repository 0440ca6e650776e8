"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

import checks
import workloads
from spans import Tracer, self_time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_JSON = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children_once():
    root = span(0, 0.0, 10.0)
    kids = [span(1, 1.0, 3.0, 0), span(2, 2.0, 4.0, 0), span(3, 6.0, 7.0, 0)]
    # children cover [1, 4] and [6, 7]: 4 s of the 10
    assert self_time(root, kids) == pytest.approx(6.0)


def test_self_time_clips_children_to_parent():
    root = span(0, 2.0, 5.0)
    assert self_time(root, [span(1, 0.0, 3.0, 0), span(2, 4.5, 9.0, 0)]) == pytest.approx(1.5)
    assert self_time(root, []) == pytest.approx(3.0)


def test_tracer_records_parents_and_self_time():
    t = Tracer("run-1")
    with t.span("pipeline") as p:
        with t.span("minhash"):
            pass
        with t.span("lsh"):
            pass
    assert [s["parent"] for s in t.spans] == [None, p["id"], p["id"]]
    assert all(s["run"] == "run-1" for s in t.spans)
    kids = t.children(p)
    covered = sum(k["end"] - k["start"] for k in kids)
    assert t.self_time(p) == pytest.approx(p["end"] - p["start"] - covered)


def test_cluster_digest_and_recall():
    assert checks.cluster_digest([1, 2, 3], [1, 1, 3]) == [3, 5, 12]
    # a single relabelled doc changes the digest
    assert checks.cluster_digest([1, 2, 3], [1, 2, 3]) != [3, 5, 12]
    want = {(1, 2), (2, 3), (4, 5), (6, 7)}
    assert checks.pair_recall(want | {(8, 9)}, want) == 1.0
    assert checks.pair_recall({(1, 2), (4, 5)}, want) == 0.5
    assert checks.pair_recall(set(), set()) == 1.0


def test_warmup_settles_on_two_close_reps():
    assert not checks.settled([])
    assert not checks.settled([10.0])
    assert not checks.settled([10.0, 5.0])
    assert checks.settled([10.0, 5.0, 5.2])


def test_result_line_needs_every_metric_and_no_other():
    names = checks.metric_names(BENCH_JSON, trace=False)
    units = checks.metric_units(BENCH_JSON)
    values = {n: 1.5 for n in names}
    line = json.loads(checks.result_line(True, 3, 0, values, names, units))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(names)
    with pytest.raises(KeyError):
        checks.result_line(True, 3, 0, {}, names, units)
    with pytest.raises(KeyError):
        checks.result_line(True, 3, 0, {**values, "bogus": 1.0}, names, units)


def test_benchmark_json_follows_the_contract():
    with open(BENCH_JSON) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= spec["run_seconds"] <= 60
    names = [w["name"] for w in spec["workloads"]]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        names.append(m["name"])
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    assert all(NAME.match(n) for n in names) and len(names) == len(set(names))
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_emitted_layer_metrics_are_declared():
    """Every per-layer name the code writes as a literal key, every
    per-layer template and every query is declared in BENCHMARK.json."""
    declared = set(checks.metric_names(BENCH_JSON, trace=True))
    emitted = set()
    for mod in ("run.py", "workloads.py"):
        with open(os.path.join(HERE, mod)) as f:
            src = f.read()
        emitted |= set(re.findall(r'"([a-z_]+\.[a-z_]+)":', src))
        for suffix in re.findall(r'f"\{layer\}\.([a-z_]+)"', src):
            emitted |= {f"{layer}.{suffix}" for layer in workloads.SPARK_LAYERS}
    emitted |= {f"query.{q}_s" for q in workloads.QUERIES}
    assert emitted - declared == set()
    assert len(emitted) > 40
