"""Physical-plan introspection helpers (plan-guard evidence).

``executed_exchange_count`` walks the executed SparkPlan tree and counts
the shuffle exchanges the plan will actually run, excluding everything
behind an ``InMemoryTableScan``: the cached relation stores its build plan
(including the exchanges that built it) and prints it in ``toString``, but
a scan of the materialized cache re-executes none of it — substring-
counting "Exchange" over the plan string therefore overcounts, which is
exactly the mistake the iterative loops' plan-guard tests must not make.

Semantics: the count is the **steady-state** shuffle cost of the plan —
exchanges behind an ``InMemoryTableScan`` are excluded whether or not the
cache is materialized yet, so a snapshot taken before the first execution
does NOT include the one-time cache-build exchanges that first run also
executes (e.g. a CC round's two ``repartition`` cache builds, or
PageRank's CSR-layout shuffle). That is deliberate: the loops take the
snapshot on superstep/round 1 while the per-superstep guard pins the cost
every *subsequent* iteration pays, which is what scales with iteration
count. Bench output and BENCH/BASELINE.md label the recorded number
"steady-state executed shuffles per superstep" accordingly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


#: Logical-plan node / expression markers for every way Python code can
#: appear in a DataFrame plan: group-map (applyInPandas), map-partitions
#: (mapInPandas), cogroup, and scalar/aggregate (pandas_udf or plain udf,
#: both of which print as ``...#N`` PythonUDF expressions inside a
#: project/aggregate but always carry one of these node names or the
#: literal "PythonUDF" in the analyzed tree's string form).
_PYTHON_STAGE_MARKERS = (
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInArrow",
    "ArrowEvalPython",   # vectorized pandas_udf projection/aggregate
    "BatchEvalPython",   # row-at-a-time Python UDF
    "PythonUDF",
    "PythonUDAF",
)


def plan_has_python_stage(df: DataFrame) -> bool:
    """True if the frame's plan contains a Python evaluation stage.

    The co-occurrence builder goes eager exactly when this is true: a plan
    branch that re-executes a Python/Arrow stage pays the full
    Python-worker round trip again, so sharing one materialized pass is
    always right there — whereas re-scanning a columnar source is often
    cheaper than persisting (see ``cooccurrence_edges``'s docstring).

    Checks the ANALYZED logical plan first (free; catches the named
    InPandas/InArrow relational nodes). Scalar pandas/Python UDFs print
    with the user function's name in the analyzed tree — no marker — so if
    the logical scan is clean, fall back to the pre-AQE PHYSICAL plan,
    where they surface as ``ArrowEvalPython`` / ``BatchEvalPython``
    operators. Both inspections only plan, never run a job.
    """
    qe = df._jdf.queryExecution()
    s = qe.analyzed().toString()
    if any(m in s for m in _PYTHON_STAGE_MARKERS):
        return True
    s = qe.sparkPlan().toString()
    return any(m in s for m in _PYTHON_STAGE_MARKERS)


def executed_exchange_count(df: DataFrame) -> int:
    def walk(node) -> int:
        cls = node.getClass().getSimpleName()
        if cls.startswith("InMemoryTableScan"):
            return 0
        if cls.startswith("AdaptiveSparkPlan"):
            # leafless wrapper: descend into the current physical plan
            # (the initial plan pre-execution, the final plan after)
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        n = 1 if cls.startswith("ShuffleExchange") else 0
        it = node.children().iterator()
        while it.hasNext():
            n += walk(it.next())
        return n

    return walk(df._jdf.queryExecution().executedPlan())
