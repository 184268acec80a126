"""Conf-isolated planning scope for iterative superstep loops.

The superstep loops (``plans/loop.py``) pin two
plan-time session properties for their fixed-shape round plans: AQE off
(per-stage driver re-planning is pure serial overhead on a frozen plan) and
``spark.sql.shuffle.partitions`` sized to the measured data. Both are
session-global: mutating them on the caller's session would leak into any
query another driver thread plans concurrently.

``loop_session`` gives each loop its own ``SparkSession.newSession()`` —
same SparkContext, same cache manager (persisted DataFrames and
localCheckpoint blocks are shared), but an isolated SQLConf — so the loop
can pin whatever it wants without the caller ever observing a changed conf.
``rebind`` moves a DataFrame's analyzed plan between two sessions of the
same context (Spark 4's classic ``Dataset.ofRows``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def loop_session(caller: SparkSession) -> SparkSession:
    """A fresh conf-isolated session sharing ``caller``'s SparkContext.

    The caller's *explicitly set* runtime SQLConf delta is copied in
    (``SQLConf.getAllConfs`` returns exactly the settings map, not
    defaults), so a caller configuring at runtime via ``conf.set`` — time
    zone, ANSI mode, codegen/join tunables — sees identical behavior inside
    the loop as when the loops ran on the caller's session directly.
    ``newSession()`` alone only inherits builder-time SparkConf entries.
    Static/non-modifiable keys in the delta are skipped (they are
    context-global already).
    """
    s = caller.newSession()
    delta = caller._jsparkSession.sessionState().conf().getAllConfs()
    it = delta.iterator()
    while it.hasNext():
        kv = it.next()
        k, v = kv._1(), kv._2()
        try:
            if s.conf.isModifiable(k):
                s.conf.set(k, v)
        except Exception:
            continue
    return s


def rebind(df: DataFrame, target: SparkSession) -> DataFrame:
    """Re-plan ``df`` onto ``target`` (a session of the same SparkContext).

    Constructs a Dataset over the SAME analyzed logical plan
    (``Dataset.ofRows``, at ``org.apache.spark.sql.classic.Dataset`` since
    Spark 4, the package's floor) — the attribute ids are preserved
    exactly, which matters downstream: a ``localCheckpoint`` captures its
    output partitioning in terms of the physical attributes, and any
    re-aliasing between plan and output (which a view introduces for every
    column) can strand the captured partitioning on an attribute the
    optimizer collapsed away — measured as two avoidable O(V) state
    shuffles per PageRank superstep.
    """
    if df.sparkSession._jsparkSession.equals(target._jsparkSession):
        return df
    jdf = target._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        target._jsparkSession, df._jdf.queryExecution().analyzed()
    )
    return DataFrame(jdf, target)
