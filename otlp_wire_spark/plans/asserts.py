"""Physical-plan assertions — the allocation-gate analog (SURVEY.md §5.6):
the reference pins zero-alloc hot paths with testing.AllocsPerRun; we pin
plan shape: no per-row Python, broadcast (not shuffle) joins, filters
pushed into the scan. Used by tests and available to users auditing their
own compositions."""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_nodes(df: DataFrame) -> Iterator:
    """Every node of ``df``'s executed physical plan, through AQE query
    stages and into cached relations' plans and subqueries. Read node
    fields (metrics, scan paths) here rather than matching the plan
    string, which cuts metadata at spark.sql.maxMetadataStringLength."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        yield node
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        for kids in (node.children(), node.innerChildren()):
            stack += [kids.apply(i) for i in range(kids.size())]


def _built_in_python(rdd) -> bool:
    """True iff ``rdd``'s lineage holds a PythonRDD — rows made by Python
    workers (``createDataFrame(<Python list>)``, ``rdd.map(<lambda>)``)."""
    seen, stack = set(), [rdd]
    while stack:
        r = stack.pop()
        if r.id() in seen:
            continue
        seen.add(r.id())
        if r.getClass().getSimpleName() == "PythonRDD":
            return True
        deps = r.dependencies()
        stack += [deps.apply(i).rdd() for i in range(deps.size())]
    return False


def assert_no_python(df: DataFrame) -> None:
    """Hot paths must be pure JVM, inputs included: no Arrow- or row-Python
    evaluation node, and no scan of an RDD built in Python (an
    ``RDDScanExec``, printed ``Scan ExistingRDD``, over a PythonRDD — it
    runs Python worker tasks at every action that reads it). Scans of
    JVM-built RDDs, e.g. ``localCheckpoint`` output, pass."""
    for node in plan_nodes(df):
        cls = node.getClass().getSimpleName()
        assert "EvalPython" not in cls, (
            f"Python evaluation in plan:\n{executed_plan(df)[:2000]}"
        )
        assert cls != "RDDScanExec" or not _built_in_python(node.rdd()), (
            f"scan of a Python-built RDD in plan:\n{executed_plan(df)[:2000]}"
        )


def assert_arrow_only(df: DataFrame) -> None:
    """Where Python IS used it must be Arrow-batched, never per-row."""
    plan = executed_plan(df)
    assert "BatchEvalPython" not in plan, f"per-row Python in plan:\n{plan[:2000]}"


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
