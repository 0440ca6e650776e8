"""Physical-plan quality assertions (EXPLAIN matchers).

The engine's scale story rests on a handful of plan properties that
Catalyst gives us *only if* the queries are phrased right: filters and
projections reaching the parquet scan, small dimensions broadcast instead
of shuffled, joins staying hash-equi, Python appearing only in Arrow
batches. These helpers make those properties assertable in tests (and
greppable in notebooks) instead of eyeballed from ``df.explain()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = [
    "executed_plan",
    "assert_pushed_filter",
    "assert_read_schema",
    "assert_broadcast_join",
    "assert_no_cartesian",
    "assert_no_python_row_udf",
]


def executed_plan(df: DataFrame) -> str:
    """The physical (executed) plan as a string, AQE-initial form."""
    return df._jdf.queryExecution().executedPlan().toString()


def assert_pushed_filter(df: DataFrame, fragment: str) -> str:
    """Assert a ``PushedFilters: [...]`` entry containing ``fragment``
    exists — i.e. the predicate reached the parquet scan."""
    plan = executed_plan(df)
    pushed = [
        ln for ln in plan.splitlines()
        if "PushedFilters:" in ln and fragment in ln
    ]
    assert pushed, f"filter {fragment!r} not pushed to scan:\n{plan}"
    return plan


def assert_read_schema(df: DataFrame, schema_fragment: str,
                       absent: str | None = None) -> str:
    """Assert the parquet ``ReadSchema`` contains exactly the pruned
    columns (and optionally that ``absent`` does not appear in it).

    Plan ``toString`` truncates long lines with ``...`` — the match is
    prefix-tolerant on both sides.
    """
    plan = executed_plan(df)
    found = False
    for seg in plan.split("ReadSchema: ")[1:]:
        line = seg.split("\n", 1)[0].rstrip()
        if absent is not None:
            assert absent not in line, f"column {absent!r} not pruned:\n{plan}"
        shown = line[:-3] if line.endswith("...") else line
        n = min(len(shown), len(schema_fragment))
        if shown[:n] == schema_fragment[:n]:
            found = True
    assert found, f"ReadSchema {schema_fragment!r} not found:\n{plan}"
    return plan


def assert_broadcast_join(df: DataFrame) -> str:
    """Assert at least one broadcast exchange/join exists in the plan."""
    plan = executed_plan(df)
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, (
        f"expected a broadcast join:\n{plan}"
    )
    return plan


def assert_no_cartesian(df: DataFrame) -> str:
    """Assert no cartesian product was planned (a fact⨝fact join that
    lost its equi-condition shows up as CartesianProduct)."""
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    return plan


def assert_no_python_row_udf(df: DataFrame) -> str:
    """Assert no row-at-a-time Python UDF in the plan (BatchEvalPython);
    Arrow-batched UDFs (ArrowEvalPython) are the allowed path."""
    plan = executed_plan(df)
    assert "BatchEvalPython" not in plan, (
        f"row-at-a-time Python UDF in hot path:\n{plan}"
    )
    return plan
