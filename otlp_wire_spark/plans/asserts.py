"""Plan assertions — the allocation-gate analog (SURVEY.md §5.6): the
reference pins zero-alloc hot paths with testing.AllocsPerRun; we pin plan
shape: no Python evaluation, broadcast (not shuffle) joins, filters pushed
into the scan, and how often an expensive expression appears in the
optimized plan (tests/test_plan_invariants.py). Used by tests and
available to users auditing their own compositions."""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def count_in_plan(df: DataFrame, fragment: str) -> int:
    """Occurrences of ``fragment`` in the optimized logical plan — how many
    times Catalyst will evaluate an expression (it does not CSE across
    operators, so a substituted alias shows up once per copy)."""
    return optimized_plan(df).count(fragment)


def assert_no_python(df: DataFrame) -> None:
    """Hot paths must be pure JVM — neither Arrow- nor row-Python."""
    plan = executed_plan(df)
    assert "EvalPython" not in plan, f"Python evaluation in plan:\n{plan[:2000]}"


def assert_broadcast_join(df: DataFrame) -> None:
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan, f"no broadcast join:\n{plan[:2000]}"
    assert "SortMergeJoin" not in plan, f"sort-merge join present:\n{plan[:2000]}"


def count_shuffles(df: DataFrame) -> int:
    """Number of shuffle exchanges (broadcast exchanges excluded) — the
    scale-audit number: every one is a full-data network pass at 100 TB."""
    plan = executed_plan(df)
    return sum(
        1
        for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    )


def assert_max_shuffles(df: DataFrame, n: int) -> None:
    got = count_shuffles(df)
    assert got <= n, f"{got} shuffle exchanges (budget {n}):\n{executed_plan(df)[:3000]}"


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    """The named column must appear in the scan's PushedFilters."""
    plan = executed_plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(fragment in ln for ln in pushed), (
        f"filter on {fragment!r} not pushed; PushedFilters lines: {pushed}"
    )
