"""Physical-plan inspection helpers.

The reference had no optimizer and hand-placed every 'rewrite'
(SURVEY.md §4); our engine delegates to Catalyst — these helpers make
the delegation *checkable*: tests assert that filters reach the parquet
scan, small dims broadcast, no operator degenerates into a cartesian
product, and hot expressions stay inside whole-stage codegen. They read
the executed/spark plan strings — the same surface a human reads via
``df.explain('formatted')`` — so assertions track exactly what would
run on a cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    from ..compat import formatted_plan_string

    return formatted_plan_string(df)


def _executed_plan_str(df: DataFrame) -> str:
    """AQE-final physical plan string. Classic-only primary (the JVM
    queryExecution handle); on Connect fall back to the formatted
    explain text — it carries the same node names (BroadcastHashJoin,
    Exchange hashpartitioning, CartesianProduct) the helpers below
    grep for, minus whole-stage-codegen star markers, which
    ``codegen_stage_count`` also matches by node name."""
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return formatted_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every file scan in the plan."""
    plan = formatted_plan(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def scan_columns(df: DataFrame) -> list[list[str]]:
    """ReadSchema column lists per file scan — column pruning evidence."""
    plan = formatted_plan(df)
    out = []
    for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.split(",") if c.strip()]
        out.append(cols)
    return out


def broadcast_join_count(df: DataFrame) -> int:
    """BroadcastHashJoin and BroadcastNestedLoopJoin nodes in the plan
    ``df`` last executed (``_plan_nodes``' walk), so the plans of cached
    relations are not counted. Classic sessions only."""
    joins = ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
    return sum(p.nodeName() in joins for p in _plan_nodes(df))


def shuffle_count(df: DataFrame) -> int:
    """Shuffle Exchange nodes (hash, range, round-robin and
    single-partition) in the AQE-final plan of ``df`` once it has run,
    else in its initial plan; broadcasts, reused exchanges and the plans
    of cached relations are not counted. Classic sessions only."""
    return sum(p.nodeName() == "Exchange" for p in _plan_nodes(df))


def wholestage_codegen_spans(df: DataFrame, execute: bool = True) -> int:
    """Count WholeStageCodegen spans. Under AQE the final physical plan
    (with codegen annotations) exists only after execution, so this
    triggers a count() by default."""
    if execute:
        # collect() runs THIS df's queryExecution (count() would build a
        # new one and leave this AQE plan isFinalPlan=false forever)
        df.collect()
    return len(re.findall(r"\*\(\d+\)|WholeStageCodegen \(\d+\)", _executed_plan_str(df)))


def assert_no_cartesian(df: DataFrame, allow_broadcast_nl: bool = True) -> None:
    """Raise if the plan contains a cartesian product — the reference's
    fatal mistake (``DBSCAN.py:161``). BroadcastNestedLoop against a
    bounded build side (centroid sets, query vectors) is allowed by
    default because its cost is |big| x |small-bounded|."""
    plan = _executed_plan_str(df)
    if "CartesianProduct" in plan:
        raise AssertionError("plan contains CartesianProduct:\n" + plan)
    if not allow_broadcast_nl and "BroadcastNestedLoopJoin" in plan:
        raise AssertionError("plan contains BroadcastNestedLoopJoin:\n" + plan)


def _plan_nodes(df: DataFrame):
    """Every node of the physical plan ``df`` last executed (its initial
    plan when it has not run), walking the AQE-final plan through its
    query stages. It reads the JVM plan, so classic sessions only."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(p.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(p.plan())
        else:
            yield p
        children = p.children()
        stack.extend(children.apply(i) for i in range(children.size()))


def node_metrics(df: DataFrame, node: str, metric: str = "numOutputRows") -> list[int]:
    """Values of one SQL metric (e.g. ``numOutputRows``, shown as "number
    of output rows" in the Spark UI) on every physical node named
    ``node`` (e.g. ``Generate``) in the plan ``df`` last executed, so run
    ``df.collect()`` first (``_plan_nodes``' walk)."""
    out = []
    for p in _plan_nodes(df):
        if p.nodeName() == node:
            m = p.metrics().get(metric)
            if m.isDefined():
                out.append(int(m.get().value()))
    return out
