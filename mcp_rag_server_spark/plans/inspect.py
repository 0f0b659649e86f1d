"""Physical-plan inspection: the operators in this engine claim specific
scale properties (filters reach the parquet scan, dims broadcast, top-k
never global-sorts, narrow stages don't shuffle). Those claims are
regression-tested (tests/test_plan_shapes.py) with these helpers, so a
refactor that silently degrades a plan — a lost pushdown, a broadcast
that becomes a shuffle join — fails CI, not a 100 TB production run.

The reference engine has no planner at all (SURVEY.md §3: hard-coded
imperative pipelines), so there is nothing to compare against; these
assertions encode what the *Spark* plans must look like.
"""

from __future__ import annotations

import contextlib
import io
import re
from collections.abc import Callable

from pyspark.sql import DataFrame


def plan_string(df: DataFrame | str, mode: str = "formatted") -> str:
    """The physical plan as text (what ``df.explain(mode)`` prints). The
    helpers below take a plan already rendered as text, such as one of
    :func:`read_plans`, in place of ``df``; it is returned as it is."""
    if isinstance(df, str):
        return df
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def tree_section(df: DataFrame | str) -> str:
    """Just the operator tree of the formatted plan (each node appears a
    second time in the details section; counts must not double)."""
    return plan_string(df).split("\n\n")[0]


def count_exchanges(df: DataFrame | str) -> int:
    """Number of shuffle boundaries in the initial plan. Broadcast
    exchanges are excluded — they ship a dim to every executor, not the
    fact data across the cluster (\\bExchange\\b does not match inside
    BroadcastExchange)."""
    return len(re.findall(r"\bExchange\b", tree_section(df)))


def has_take_ordered(df: DataFrame | str) -> bool:
    """True when orderBy().limit() planned as TakeOrderedAndProject —
    per-partition heap top-k + driver merge, never a global sort."""
    return "TakeOrderedAndProject" in plan_string(df)


def broadcast_join_count(df: DataFrame | str) -> int:
    return len(
        re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", tree_section(df))
    )


def pushed_filters(df: DataFrame, path_fragment: str) -> str:
    """The PushedFilters line of the scan whose file path contains
    ``path_fragment`` ('' matches the first scan)."""
    plan = plan_string(df)
    out = []
    current_loc = None
    for line in plan.splitlines():
        if line.startswith("Location:"):
            current_loc = line
        elif (
            line.startswith("PushedFilters:")
            and current_loc
            and path_fragment in current_loc
        ):
            out.append(line)
    return "\n".join(out)


def read_schema(df: DataFrame, path_fragment: str) -> str:
    """The ReadSchema of the scan matching ``path_fragment`` — the column
    pruning witness (a scan reading all columns for a 2-column projection
    is a bug at 100 TB)."""
    plan = plan_string(df)
    out = []
    current_loc = None
    for line in plan.splitlines():
        if line.startswith("Location:"):
            current_loc = line
        elif line.startswith("ReadSchema:") and current_loc and path_fragment in current_loc:
            out.append(line)
    return "\n".join(out)


def _initial_plan(description: str) -> str:
    """``description`` (a formatted physical plan) cut to its pre-AQE
    part: the ``== Initial Plan ==`` tree, a blank line, then the
    details of that tree's nodes — the layout of :func:`plan_string`."""
    tree, details = description.split("\n\n", 1)
    tree = tree.split("== Initial Plan ==", 1)[-1]
    tree = tree.removeprefix("== Physical Plan ==").strip("\n")
    nodes = set(re.findall(r"\((\d+)\)", tree))
    kept = [
        block
        for block in details.strip("\n").split("\n\n")
        if re.match(r"\((\d+)\)", block)[1] in nodes
    ]
    return "\n\n".join([tree, *kept])


def read_plans(spark, run: Callable[[], object]) -> list[str]:
    """The pre-AQE plans of the reads (plans that scan and write
    nothing) that ``run()`` executed, in order, from the SQL status
    store. An operator that writes files and returns a checkpoint of
    reading them back runs that read-back last; its returned plan
    (``ExistingRDD``) no longer shows it. Plans, not execution
    descriptions, pick the reads: a job description left set on the
    thread replaces the description of every later execution."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        # in execution-id order; events reach the store through the
        # async listener bus
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return store.executionsList()

    before = executions()
    last = before.last().executionId() if before.nonEmpty() else -1
    run()
    after = executions()
    executed = []
    for i in reversed(range(after.size())):
        if after.apply(i).executionId() <= last:
            break
        executed.insert(0, after.apply(i))
    plans = [_initial_plan(e.physicalPlanDescription()) for e in executed]
    return [p for p in plans if "Scan " in p and "Execute " not in p]
