"""Physical-plan introspection helpers.

The only code that turns a plan into a string: every helper reads
``df._jdf.queryExecution()`` (classic local mode) through here. These
power test assertions about the plan shapes that matter at scale:

- ``scan_columns``: the ReadSchema actually requested from Parquet —
  column pruning proof (SURVEY.md P1; reference analog: lazy per-column
  dataset reads, ``/root/reference/heparchy/read/hdf.py:262-316``).
- ``pushed_filters`` / ``has_partition_filters``: predicate pushdown and
  partition pruning proof (P2/P3; reference analog: chunked O(1) lookup,
  ``read/hdf.py:454-466``).
- ``has_broadcast_join`` / ``shuffle_count``: join-strategy and shuffle
  audits for the 1000-executor question "does this plan shuffle more than
  it must?".
- ``global_windows``: unpartitioned windows, the single-task sort class.

After an action, an ``AdaptiveSparkPlan`` prints both its final and its
initial plan; every helper reads only the final one, so nothing is
counted twice.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

__all__ = [
    "physical_plan",
    "executed_plan",
    "analyzed_plan",
    "scan_columns",
    "pushed_filters",
    "has_partition_filters",
    "has_broadcast_join",
    "shuffle_count",
    "wholestage_codegen_ids",
    "global_windows",
]


def _final(plan: str) -> str:
    """Drop the top-level AQE ``== Initial Plan ==`` section (printed
    after the final plan once the query has run). A pre-action plan has
    none at the top level — nested ones are indented — and is returned
    unchanged."""
    return plan.split("\n+- == Initial Plan ==\n")[0]


def physical_plan(df: DataFrame) -> str:
    """The (pre-execution) physical plan string."""
    return _final(df._jdf.queryExecution().sparkPlan().toString())


def executed_plan(df: DataFrame) -> str:
    """The executed plan string (the AQE final plan after an action)."""
    return _final(df._jdf.queryExecution().executedPlan().toString())


def analyzed_plan(df: DataFrame) -> str:
    """The analyzed logical plan string (where join hints still show as
    ``ResolvedHint``)."""
    return _final(df._jdf.queryExecution().analyzed().toString())


def scan_columns(df: DataFrame) -> list[list[str]]:
    """Column names in each Parquet scan's ReadSchema, one list per scan."""
    plan = executed_plan(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [
            f.split(":")[0].strip() for f in m.group(1).split(",") if f.strip()
        ]
        out.append(cols)
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    """Flattened PushedFilters entries across all scans."""
    plan = executed_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(p.strip() for p in m.group(1).split(",") if p.strip())
    return out


def has_partition_filters(df: DataFrame, *cols: str) -> bool:
    """True if every named column appears in some scan's PartitionFilters."""
    plan = executed_plan(df)
    filters = " ".join(
        m.group(1) for m in re.finditer(r"PartitionFilters: \[([^\]]+)\]", plan)
    )
    return all(c in filters for c in cols)


def has_broadcast_join(df: DataFrame) -> bool:
    plan = executed_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (BroadcastExchange is not a
    shuffle; ReusedExchange reads an already-written one and is excluded)."""
    plan = executed_plan(df)
    return len(
        re.findall(
            r"(?<!Reused)Exchange (?:hashpartitioning|rangepartitioning|"
            r"SinglePartition|RoundRobinPartitioning)",
            plan,
        )
    )


def wholestage_codegen_ids(df: DataFrame) -> set[int]:
    """The distinct WholeStageCodegen span ids — wider spans, fewer
    interpreted boundaries. Matches both the verbose node name and the
    compact ``*(n)`` operator prefix."""
    plan = executed_plan(df)
    ids = {
        int(m.group(1))
        for m in re.finditer(r"WholeStageCodegen \((\d+)\)", plan)
    }
    ids |= {int(m.group(1)) for m in re.finditer(r"\*\((\d+)\)", plan)}
    return ids


def global_windows(df: DataFrame) -> list[str]:
    """Unpartitioned window specs in the executed plan: the spec's FIRST
    element is an order entry (attr ASC/DESC) or the frame itself — no
    partition columns, so the whole frame funnels through one task."""
    return re.findall(
        r"windowspecdefinition\((?:\w+#\d+\w* (?:ASC|DESC)"
        r"|specifiedwindowframe)",
        executed_plan(df),
    )
