"""Physical-plan inspection helpers — the engine's plan-quality contract.

Used by tests/test_plans.py to pin the plans we want: broadcast joins for
small dims, TakeOrderedAndProject for top-k, pushed parquet filters, pruned
read schemas, bounded exchange counts. A correctness-green query with a
regressed plan (a broadcast that became a sort-merge, a filter that stopped
pushing down) fails these checks instead of silently becoming a 100 TB
bottleneck.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """explain('formatted') as a string — unlike the simple plan string, scan
    details (ReadSchema, PushedFilters) are printed untruncated."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges)."""
    return physical_plan(df).count("Exchange hashpartitioning") + \
        physical_plan(df).count("Exchange rangepartitioning")


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in physical_plan(df)


def is_top_k(df: DataFrame) -> bool:
    """True when limit+orderBy planned as TakeOrderedAndProject
    (per-partition heaps; no global sort)."""
    return "TakeOrderedAndProject" in physical_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def scan_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every parquet scan — column-pruning check."""
    return re.findall(r"ReadSchema: struct<([^>\n]*)>", formatted_plan(df))


def _top_level_bracket_groups(s: str) -> list[str]:
    """Split '[..], [..], [..]' into top-level groups (nested [] handled)."""
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def partitionless_windows(df: DataFrame) -> list[str]:
    """Window / WindowGroupLimit nodes with an EMPTY partition spec — every
    row of their input flows through ONE task. Returns the offending plan
    lines (empty list = clean). Fine over bounded inputs (per-type/per-day
    aggregates, P-row offset tables); a scale killer over unbounded ones —
    tests keep an explicit allowlist of the justified-bounded cases.

    Node formats: ``Window [exprs], [partSpec], [orderSpec]`` when both are
    present; with only 2 groups the second is EITHER a bare partition spec
    (``partitionBy`` without ``orderBy`` — fine) or a bare order spec
    (``orderBy`` without ``partitionBy`` — global); order specs are the
    ones carrying ASC/DESC. ``WindowGroupLimit [partSpec], [orderSpec],
    rank, k`` prints the partition spec first — empty = global.
    """
    def _is_order_spec(group: str) -> bool:
        return " ASC" in group or " DESC" in group

    out = []
    for line in physical_plan(df).splitlines():
        stripped = line.lstrip(" +-:*")
        if stripped.startswith("Window "):
            groups = _top_level_bracket_groups(stripped)
            if len(groups) < 3 and (
                    len(groups) < 2 or not groups[1].strip()
                    or _is_order_spec(groups[1])):
                out.append(stripped)
        elif stripped.startswith("WindowGroupLimit"):
            groups = _top_level_bracket_groups(stripped)
            if groups and not groups[0].strip():
                out.append(stripped)
    return out
