"""Ordinal-scale helpers for the reference's severity semantics (R9,
reference task.ts:116,143-146)."""

from __future__ import annotations

from pyspark.sql import functions as F

# Most-severe-first, as in the reference (task.ts:116).
SEVERITY_ORDER = ["extreme", "high", "considerable", "moderate", "low", "noRating"]


def sql_array(values) -> str:
    """SQL text of an array<string> literal."""
    return "array(" + ", ".join(f"'{v}'" for v in values) + ")"


def severity_rank_sql(expr: str) -> str:
    """SQL text of severity_rank over the SQL expression `expr`."""
    pos = f"array_position({sql_array(SEVERITY_ORDER)}, {expr})"
    return f"CASE WHEN {pos} = 0 THEN {len(SEVERITY_ORDER)} ELSE {pos} END"


def severity_rank(expr: str):
    """1-based rank on the ordinal scale of the SQL expression `expr`;
    unknown strings rank as noRating (defined fallback — documented
    deviation from the reference's undefined behavior at task.ts:144-146,
    see SURVEY.md §2.B.2), a null ranks null. One F.expr: the whole rank
    crosses to the JVM as one string."""
    return F.expr(severity_rank_sql(expr))
