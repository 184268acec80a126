"""Operators free every block they persist, on success and on failure.

``sc._jsc.getPersistentRDDs()`` lists persisted caches and local
checkpoints alike. Around each call, its key set must gain nothing when a
superstep fails mid-loop, and exactly the one checkpoint the result reads
when the call succeeds. For the non-loop operators on the corpus path
(triangles, the eager co-occurrence build) the session's CacheManager must
end empty too: a ``persist()`` that was never materialized registers there
but never shows up in ``getPersistentRDDs()``.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from bluegraph_spark.operators.components import connected_components
from bluegraph_spark.operators.cooccurrence import (
    cooccurrence_edges,
    occurrences_from_aggregator,
)
from bluegraph_spark.operators.embeddings import fastrp_embeddings
from bluegraph_spark.operators.louvain import louvain
from bluegraph_spark.operators.lpa import label_propagation
from bluegraph_spark.operators.mst import minimum_spanning_forest
from bluegraph_spark.operators.pagerank import pagerank
from bluegraph_spark.operators.paths import k_shortest_distances, shortest_paths
from bluegraph_spark.operators.triangles import triangle_count_global, triangle_counts
from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer

N = 60

RUNS = {
    "pagerank": lambda g, cp: pagerank(g, weight_col="w", checkpointer=cp),
    "cc": lambda g, cp: connected_components(g, checkpointer=cp),
    "lpa": lambda g, cp: label_propagation(g, weight_col="w", checkpointer=cp),
    "sssp": lambda g, cp: shortest_paths(g, 0, weight_col="w", checkpointer=cp),
    "kssp": lambda g, cp: k_shortest_distances(
        g, 0, k=2, weight_col="w", checkpointer=cp
    ),
    "louvain": lambda g, cp: louvain(g, weight_col="w", checkpointer=cp),
    "mst": lambda g, cp: minimum_spanning_forest(g, weight_col="w"),
    "fastrp": lambda g, cp: fastrp_embeddings(g, dim=4, weight_col="w"),
}
WITH_CHECKPOINTER = ["pagerank", "cc", "lpa", "sssp", "kssp", "louvain"]
ONE_RESULT_CHECKPOINT = ["pagerank", "cc", "lpa", "sssp", "kssp"]


@pytest.fixture(scope="module")
def graph(spark):
    rows = [(i, (i + 1) % N, 1.0) for i in range(N)] + [
        (i, (i * 7 + 3) % N, float(i % 5 + 1)) for i in range(N)
    ]
    return spark.createDataFrame(rows, "src long, dst long, w double")


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


class FailingCheckpointer(SuperstepCheckpointer):
    def save(self, iteration, state, metrics=None):
        if iteration == 2:
            raise RuntimeError("injected failure in save(2)")
        return super().save(iteration, state, metrics)


def _raise_on_call(monkeypatch, method: str, nth: int) -> None:
    real = getattr(ClassicDataFrame, method)
    calls = []

    def fails(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == nth:
            raise RuntimeError(f"injected failure in {method} #{nth}")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, method, fails)


@pytest.mark.parametrize("op", WITH_CHECKPOINTER)
def test_failing_checkpointer_leaks_nothing(spark, graph, tmp_path, op):
    before = _persistent(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        RUNS[op](graph, FailingCheckpointer(str(tmp_path), op))
    assert _persistent(spark) - before == set()


@pytest.mark.parametrize("op", sorted(RUNS))
def test_failing_local_checkpoint_leaks_nothing(spark, graph, monkeypatch, op):
    _raise_on_call(monkeypatch, "localCheckpoint", 3)
    before = _persistent(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        RUNS[op](graph, None)
    assert _persistent(spark) - before == set()


@pytest.mark.parametrize("op", ONE_RESULT_CHECKPOINT)
def test_success_keeps_only_the_result_checkpoint(spark, graph, op):
    before = _persistent(spark)
    res = RUNS[op](graph, None)
    assert len(_persistent(spark) - before) == 1
    out = next(v for v in vars(res).values() if hasattr(v, "collect"))
    assert out.count() > 0  # the kept checkpoint is the one the result reads


@pytest.fixture(scope="module")
def python_occurrences(spark):
    """An occurrence table with a Python stage, so the build goes eager."""
    df = spark.range(N).select(
        (F.col("id") % 12).alias("doc"), (F.col("id") % 7).cast("string").alias("tok")
    )
    return occurrences_from_aggregator(df, "doc", lambda pdf: set(pdf["tok"]))


NON_LOOP = {
    "triangle_counts": lambda g, occ: triangle_counts(g),
    "triangle_count_global": lambda g, occ: triangle_count_global(g),
    "cooccurrence_eager": lambda g, occ: cooccurrence_edges(
        occ, statistics=["frequency", "npmi"]
    ),
}


@pytest.fixture()
def empty_cache(spark):
    spark.catalog.clearCache()
    yield spark._jsparkSession.sharedState().cacheManager()


@pytest.mark.parametrize("op", list(NON_LOOP))
def test_non_loop_success_keeps_only_the_result_checkpoint(
    spark, graph, python_occurrences, empty_cache, op
):
    before = _persistent(spark)
    res = NON_LOOP[op](graph, python_occurrences)
    kept = _persistent(spark) - before
    assert empty_cache.isEmpty()
    if op == "triangle_count_global":
        assert kept == set()
    else:
        assert len(kept) == 1
        assert res.count() > 0  # the kept checkpoint is the one the result reads


@pytest.mark.parametrize("op", list(NON_LOOP))
def test_non_loop_failure_leaks_nothing(
    spark, graph, python_occurrences, empty_cache, monkeypatch, op
):
    if op == "triangle_count_global":
        _raise_on_call(monkeypatch, "count", 2)
    else:
        _raise_on_call(monkeypatch, "localCheckpoint", 1)
    before = _persistent(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        NON_LOOP[op](graph, python_occurrences)
    assert _persistent(spark) - before == set()
    assert empty_cache.isEmpty()
