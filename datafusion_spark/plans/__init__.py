"""Plan-audit helpers (DataFusion's EXPLAIN/ANALYZE surface)."""

from datafusion_spark.plans.audit import (
    explain_analyze,
    explain_str,
    operator_counts,
    plan_nodes,
    pushed_filters,
    scan_columns,
)

__all__ = [
    "explain_str",
    "explain_analyze",
    "operator_counts",
    "plan_nodes",
    "pushed_filters",
    "scan_columns",
]
