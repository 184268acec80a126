"""Operators free every block they persist, on success and on failure.

``sc._jsc.getPersistentRDDs()`` lists persisted caches and local
checkpoints alike. Around each call, its key set must gain nothing when a
superstep fails mid-loop, and exactly the one checkpoint the result reads
when the call succeeds. For the one-shot operators the key set may gain
only checkpoints the result reads, and the session's CacheManager must
end empty too: a ``persist()`` that was never materialized registers there
but never shows up in ``getPersistentRDDs()``.
"""

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from bluegraph_spark.operators.components import connected_components
from bluegraph_spark.operators.cooccurrence import (
    cooccurrence_edges,
    occurrences_from_aggregator,
)
from bluegraph_spark.operators.dedup import (
    jaccard_pairs,
    minhash_band_index,
    minhash_dedup_incremental,
    minhash_dedup_pairs,
)
from bluegraph_spark.operators.embeddings import fastrp_embeddings
from bluegraph_spark.operators.hierarchy import (
    single_linkage_clusters,
    single_linkage_dendrogram,
)
from bluegraph_spark.operators.linkpred import generate_negative_edges, node_index
from bluegraph_spark.operators.louvain import louvain
from bluegraph_spark.operators.lpa import label_propagation
from bluegraph_spark.operators.metrics import density
from bluegraph_spark.operators.mst import minimum_spanning_forest
from bluegraph_spark.operators.pagerank import pagerank
from bluegraph_spark.operators.paths import k_shortest_distances, shortest_paths
from bluegraph_spark.operators.triangles import triangle_count_global, triangle_counts
from bluegraph_spark.operators.walks import generate_random_walks
from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer
from bluegraph_spark.plans.loop import SuperstepLoop, _checkpoint_rdds

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
ONE_RESULT_CHECKPOINT = ["pagerank", "cc", "lpa", "sssp", "kssp", "fastrp"]


@pytest.fixture(scope="module")
def graph(spark):
    rows = [(i, (i + 1) % N, 1.0) for i in range(N)] + [
        (i, (i * 7 + 3) % N, float(i % 5 + 1)) for i in range(N)
    ]
    return spark.createDataFrame(rows, "src long, dst long, w double")


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


class FailingCheckpointer(SuperstepCheckpointer):
    def __init__(self, base_path, run_id, fail_at):
        super().__init__(base_path, run_id)
        self.fail_at = fail_at

    def save(self, iteration, state, metrics=None):
        if iteration == self.fail_at:
            raise RuntimeError(f"injected failure in save({iteration})")
        return super().save(iteration, state, metrics)


@pytest.fixture(scope="module")
def last_superstep(spark, graph, tmp_path_factory):
    """Each checkpointed op's last superstep on ``graph``, from one clean run."""
    base = str(tmp_path_factory.mktemp("last"))
    out = {}
    for op in WITH_CHECKPOINTER:
        cp = SuperstepCheckpointer(base, op)
        RUNS[op](graph, cp)
        out[op] = cp.latest()
    return out


def _raise_on_call(monkeypatch, method: str, nth: int) -> None:
    real = getattr(ClassicDataFrame, method)
    calls = []

    def fails(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == nth:
            raise RuntimeError(f"injected failure in {method} #{nth}")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, method, fails)


@pytest.mark.parametrize(
    "op, at",
    [pytest.param(op, "mid", id=op) for op in WITH_CHECKPOINTER]
    + [pytest.param(op, "last", id=f"{op}-last") for op in WITH_CHECKPOINTER],
)
def test_failing_checkpointer_leaks_nothing(
    spark, graph, tmp_path, last_superstep, op, at
):
    # a mid-run write fails at the next superstep's commit, the last one
    # at the loop's result: both must free every block the call made
    fail_at = 2 if at == "mid" else last_superstep[op]
    before = _persistent(spark)
    with pytest.raises(RuntimeError, match=rf"injected failure in save\({fail_at}\)"):
        RUNS[op](graph, FailingCheckpointer(str(tmp_path), op, fail_at))
    assert _persistent(spark) - before == set()


@pytest.mark.parametrize("op", sorted(RUNS))
def test_failing_local_checkpoint_leaks_nothing(spark, graph, monkeypatch, op):
    _raise_on_call(monkeypatch, "localCheckpoint", 3)
    before = _persistent(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        RUNS[op](graph, None)
    assert _persistent(spark) - before == set()


@pytest.mark.parametrize(
    "op, stored",
    [pytest.param(op, False, id=op) for op in ONE_RESULT_CHECKPOINT]
    + [
        pytest.param(op, True, id=f"{op}-checkpointer")
        for op in ONE_RESULT_CHECKPOINT
        if op in WITH_CHECKPOINTER
    ],
)
def test_success_keeps_only_the_result_checkpoint(spark, graph, tmp_path, op, stored):
    before = _persistent(spark)
    res = RUNS[op](graph, SuperstepCheckpointer(str(tmp_path), op) if stored else None)
    assert len(_persistent(spark) - before) == 1
    out = res if hasattr(res, "collect") else next(
        v for v in vars(res).values() if hasattr(v, "collect")
    )
    assert out.count() > 0  # the kept checkpoint is the one the result reads


def test_fastrp_step_frees_the_superseded_state(spark, graph, monkeypatch):
    # (the state's checkpoints, every persisted RDD) right after each step
    seen = []
    step = SuperstepLoop.step

    def spy(self, *args, **kwargs):
        rec = step(self, *args, **kwargs)
        seen.append((set(_checkpoint_rdds(self.state)), _persistent(spark)))
        return rec

    monkeypatch.setattr(SuperstepLoop, "step", spy)
    fastrp_embeddings(graph, dim=4, iteration_weights=(1.0,) * 4, weight_col="w")
    assert len(seen) == 4
    for (superseded, _), (_, live) in zip(seen, seen[1:]):
        assert superseded and not superseded & live


@pytest.fixture(scope="module")
def inputs(spark, graph):
    # an occurrence table with a Python stage, so the build goes eager
    occ = spark.range(N).select(
        (F.col("id") % 12).alias("doc"), (F.col("id") % 7).cast("string").alias("tok")
    )
    words = [f"w{i}" for i in range(20)]
    # docs i and i + 6 share their text: every run has verified pairs
    docs = spark.createDataFrame(
        [(i, " ".join(words[i % 6 + j] for j in range(8))) for i in range(24)],
        "id long, text string",
    )
    return SimpleNamespace(
        graph=graph,
        occ=occurrences_from_aggregator(occ, "doc", lambda pdf: set(pdf["tok"])),
        docs=docs,
        corpus=docs.filter("id < 16"),
        batch=docs.filter("id >= 16"),
    )


# op -> (call, the method the failure test makes raise, which of its calls)
NON_LOOP = {
    "triangle_counts": (lambda i: triangle_counts(i.graph), "localCheckpoint", [1]),
    "triangle_count_global": (
        lambda i: triangle_count_global(i.graph), "count", [2]
    ),
    "cooccurrence_eager": (
        lambda i: cooccurrence_edges(i.occ, statistics=["frequency", "npmi"]),
        "localCheckpoint", [1],
    ),
    "jaccard_pairs": (
        lambda i: jaccard_pairs(i.docs, "id", "text"), "localCheckpoint", [1]
    ),
    "minhash_dedup_pairs": (
        lambda i: minhash_dedup_pairs(i.docs, "id", "text"), "localCheckpoint", [1]
    ),
    "minhash_dedup_incremental": (
        lambda i: minhash_dedup_incremental(
            i.batch, i.corpus, minhash_band_index(i.corpus, "id", "text"),
            "id", "text",
        ),
        "localCheckpoint", [1, 2],
    ),
    "node_index": (
        lambda i: node_index(i.graph.select(F.col("src").alias("id"))),
        "localCheckpoint", [1, 2],
    ),
    "generate_negative_edges": (
        lambda i: generate_negative_edges(i.graph), "localCheckpoint", [1, 2]
    ),
    "density": (lambda i: density(i.graph), "count", [2]),
    "generate_random_walks": (
        lambda i: generate_random_walks(i.graph, walk_length=3),
        "localCheckpoint", [1],
    ),
    "single_linkage_threshold": (
        lambda i: single_linkage_clusters(i.graph, "w", threshold=2.0),
        "localCheckpoint", [1, 2],
    ),
    "single_linkage_n_clusters": (
        lambda i: single_linkage_clusters(i.graph, "w", n_clusters=3),
        "localCheckpoint", [1, 2],
    ),
    "single_linkage_dendrogram": (
        lambda i: single_linkage_dendrogram(i.graph, "w"), "localCheckpoint", [1, 2]
    ),
}
# the first failure case of each op keeps the bare op name as its id
FAILURES = [
    pytest.param(op, method, nth, id=op if k == 0 else f"{op}-{method}-{nth}")
    for op, (_, method, nths) in NON_LOOP.items()
    for k, nth in enumerate(nths)
]


@pytest.fixture()
def empty_cache(spark):
    spark.catalog.clearCache()
    yield spark._jsparkSession.sharedState().cacheManager()


@pytest.mark.parametrize("op", list(NON_LOOP))
def test_non_loop_success_keeps_only_the_result_checkpoint(
    spark, inputs, empty_cache, op
):
    before = _persistent(spark)
    res = NON_LOOP[op][0](inputs)
    kept = _persistent(spark) - before
    assert empty_cache.isEmpty()
    out = getattr(res, "labels", res)
    if not hasattr(out, "collect"):  # a scalar result reads nothing
        assert kept == set()
    else:
        assert kept and kept <= set(_checkpoint_rdds(out))
        assert out.count() > 0  # the kept checkpoints are the ones it reads


@pytest.mark.parametrize("op, method, nth", FAILURES)
def test_non_loop_failure_leaks_nothing(
    spark, inputs, empty_cache, monkeypatch, op, method, nth
):
    _raise_on_call(monkeypatch, method, nth)
    before = _persistent(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        NON_LOOP[op][0](inputs)
    assert _persistent(spark) - before == set()
    assert empty_cache.isEmpty()
