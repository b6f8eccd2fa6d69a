"""Physical-plan auditing: make "is this the plan I'd want at 100 TB?"
an executable assertion instead of a code-review note.

The reference delegates optimization to SQLite/MySQL and never inspects a
plan. This engine's contract is the opposite: every operator is expected
to (a) push filters into the parquet scan (row-group skipping), (b) prune
the read schema to referenced columns, (c) broadcast dimension-sized join
sides, and (d) stay inside whole-stage codegen. These helpers read the
executed plan string — the same text ``df.explain("formatted")`` prints —
so tests/test_plans.py can fail a regression the moment a query stops
doing one of those things.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The final (possibly AQE-replanned) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """The ``df.explain("formatted")`` text, returned instead of printed."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def plan_summary(df: DataFrame) -> dict[str, int]:
    """Operator census of the physical plan — exchanges and single-
    partition exchanges are the numbers to watch when scaling up."""
    plan = physical_plan(df)
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "single_partition_exchanges": len(re.findall(r"Exchange SinglePartition", plan)),
        "broadcast_hash_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "nested_loop_joins": len(re.findall(r"NestedLoopJoin", plan)),
        "cartesian_products": len(re.findall(r"CartesianProduct", plan)),
        "window_nodes": len(re.findall(r"\bWindow\b", plan)),
        "scans": len(re.findall(r"FileScan parquet|Scan parquet", plan)),
    }


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Assert each fragment (e.g. a column name) appears in a scan's
    PushedFilters list — i.e. the predicate reached the parquet reader
    and row groups can be skipped on min/max stats."""
    plan = physical_plan(df)
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    for frag in fragments:
        assert frag in pushed, (
            f"filter on {frag!r} not pushed to scan; PushedFilters={pushed or '<none>'}"
        )


def assert_read_schema_pruned(df: DataFrame, table_hint: str, max_cols: int) -> None:
    """Assert the scan whose path contains ``table_hint`` reads at most
    ``max_cols`` columns — column pruning reached the reader."""
    plan = physical_plan(df)
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\][^\n]*", plan):
        line = m.group(0)
        if table_hint in line:
            cols = [c for c in m.group(1).split(",") if c.strip()]
            assert len(cols) <= max_cols, (
                f"{table_hint} scan reads {len(cols)} columns ({m.group(1)}); "
                f"expected <= {max_cols} — column pruning regressed"
            )
            return
    raise AssertionError(f"no parquet scan matching {table_hint!r} in plan")


def assert_broadcast_join(df: DataFrame, min_count: int = 1) -> None:
    """Assert at least ``min_count`` broadcast hash joins — dimension-sized
    sides must not trigger a full shuffle."""
    s = plan_summary(df)
    assert s["broadcast_hash_joins"] >= min_count, (
        f"expected >= {min_count} broadcast hash joins, plan has "
        f"{s['broadcast_hash_joins']} (SMJ={s['sort_merge_joins']})"
    )


def assert_no_cartesian(df: DataFrame) -> None:
    """Assert no CartesianProduct: an unconstrained cross join at 100 TB
    is an outage, not a plan."""
    s = plan_summary(df)
    assert s["cartesian_products"] == 0, "plan contains CartesianProduct"


def assert_whole_stage_codegen(df: DataFrame) -> None:
    """Assert at least one WholeStageCodegen span — the query's hot path
    compiles to JVM bytecode rather than falling back to interpreted rows.
    Under AQE the ``*(n)`` stage markers only appear once the plan is
    finalized, so this executes THIS dataframe's query execution via
    collect (call it at audit scale only — sf0.001 in tests); count()
    would build a different query and leave this plan unfinalized."""
    df.collect()
    plan = physical_plan(df)
    assert "WholeStageCodegen" in plan or re.search(r"\*\(\d+\)", plan), (
        "no WholeStageCodegen span in finalized plan"
    )
