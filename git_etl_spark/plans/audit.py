"""Physical-plan audit helpers.

Plan *shape* is a correctness property at 100 TB: a filter that
doesn't reach the scan, a broadcast that silently became a sort-merge,
or a top-k that plans a global sort are all silent 100× regressions.
These helpers make plan shape assertable in tests, so a refactor that
degrades a plan fails CI the same way a wrong result would.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Final physical plan string (AQE plans are inspected pre-runtime;
    runtime re-optimization can only improve on what we assert)."""
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", physical_plan(df)):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every parquet scan — the column-pruning audit."""
    return re.findall(r"ReadSchema: ([^\n]+)", physical_plan(df))


def count_shuffles(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (AQE reuse not counted)."""
    return physical_plan(df).count("Exchange hashpartitioning") + physical_plan(
        df
    ).count("Exchange rangepartitioning")


def hash_exchanges(df: DataFrame, below: str | None = None) -> list[str]:
    """Every ``Exchange hashpartitioning(...)`` line of the plan, from
    ``Exchange`` on, with expression ids (``#N``, ``#NL``) and
    ``plan_id=N`` stripped, so gates can count or compare exchanges
    without depending on how Spark numbers attributes. With ``below``,
    only the lines after the first one containing that text: the plan
    prints parents first, so these exchanges sit under it."""
    lines = physical_plan(df).splitlines()
    if below is not None:
        lines = lines[next(i for i, ln in enumerate(lines) if below in ln) :]
    return [
        re.sub(r"#\d+L?|plan_id=\d+", "", line[line.index("Exchange") :])
        for line in lines
        if "Exchange hashpartitioning" in line
    ]


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df) or (
        "BroadcastNestedLoopJoin" in physical_plan(df)
    )


def has_take_ordered(df: DataFrame) -> bool:
    """Top-k planned as TakeOrderedAndProject (no global sort)."""
    return "TakeOrderedAndProject" in physical_plan(df)


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct WholeStageCodegen stages in the *final* plan. Under AQE
    the executed plan (with codegen wrappers) only exists after an
    action, so this runs the query through the noop sink first."""
    df.collect()  # an action on THIS dataset finalizes its own AQE plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages appear as "*(n) Operator" prefixes in the final plan
    return len(set(re.findall(r"\*\((\d+)\)", plan)))
