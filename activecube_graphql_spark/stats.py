"""Execution stats / headers side-channel (SURVEY §2.1 S5).

Reference: per-query execution stats and transport headers are attached to
the query object out-of-band (cube_field.rb:51-52). Spark-side: wall time,
row count, the chosen representation, and physical-plan facts harvested
from ``df.queryExecution`` — returned alongside the rows, never embedded
in them.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Optional


@dataclass
class ExecutionStats:
    wall_seconds: float
    row_count: int
    representation: Optional[str]  # None → raw fact table
    plan_summary: str              # first physical-plan line
    used_broadcast_join: bool
    headers: dict[str, Any] = field(default_factory=dict)


# Data-dependent physical routing breadcrumbs. Operators that pick a plan
# by measured stats (ngram_jaccard index|bitmap, connected_components
# driver|distributed, embedding pairs exact|lsh) report the choice here,
# so callers and tests observe WHICH path ran without parsing logs.
# Session-level observability state, latest decision per operator.
_routing: dict[str, str] = {}


def record_routing(op: str, decision: str) -> None:
    _routing[op] = decision


def routing_decisions() -> dict[str, str]:
    return dict(_routing)


def execute(builder, headers: Optional[dict] = None):
    """Run a CubeQueryBuilder and return (rows, ExecutionStats) — the
    analogue of ``cube_query.stats= / headers= ; cube_query.query``
    (cube_field.rb:49-53)."""
    df = builder.df()
    rep = builder._cached()[1]  # the plan-cache entry df() used
    t0 = time.perf_counter()
    rows = df.collect()
    wall = time.perf_counter() - t0
    plan = df._jdf.queryExecution().executedPlan().toString()
    return rows, ExecutionStats(
        wall_seconds=round(wall, 4),
        row_count=len(rows),
        representation=rep.name if rep is not None else None,
        plan_summary=plan.splitlines()[0] if plan else "",
        used_broadcast_join="BroadcastHashJoin" in plan,
        headers=dict(headers or {}),
    )
