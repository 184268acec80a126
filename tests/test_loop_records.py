"""Every iterative operator records its supersteps through one loop path.

Each loop runs once on a small graph (the karate club plus a three-vertex
path). The records are read from the ``SuperstepLoop`` the call opened,
so operators whose result carries no history (FastRP) are covered too,
and a result's ``history`` must be that loop's. Every record has at least
``iteration``, ``superstep_sec`` and ``converged``; iterations run 1..n
with no gap; the last record's ``converged`` is the result's, where the
result has one.
"""

import pytest
from pyspark.sql import functions as F

from bluegraph_spark.operators.components import connected_components
from bluegraph_spark.operators.embeddings import fastrp_embeddings
from bluegraph_spark.operators.linkpred import fit_edge_predictor
from bluegraph_spark.operators.louvain import louvain
from bluegraph_spark.operators.lpa import label_propagation
from bluegraph_spark.operators.mst import minimum_spanning_forest
from bluegraph_spark.operators.pagerank import pagerank
from bluegraph_spark.operators.paths import k_shortest_distances, shortest_paths
from bluegraph_spark.plans import loop as loop_module
from tests.graph_fixtures import karate, nx_to_edges_df


W = "strength"
LOOPS = {
    "pagerank": lambda e: pagerank(e, weight_col=W),
    "cc": lambda e: connected_components(e),
    "lpa": lambda e: label_propagation(e, weight_col=W),
    "sssp": lambda e: shortest_paths(e, "0", weight_col=W),
    "kshortest": lambda e: k_shortest_distances(e, "0", k=2, weight_col=W),
    "louvain": lambda e: louvain(e, weight_col=W),
    "mst": lambda e: minimum_spanning_forest(e, weight_col=W),
    "fastrp": lambda e: fastrp_embeddings(
        e, dim=4, iteration_weights=(1.0, 0.5, 2.0), weight_col=W
    ),
    "gd_fit": lambda e: fit_edge_predictor(
        e.select(W, (F.col(W) > 0.5).cast("int").alias("y")), "y", [W],
        iterations=5,
    ),
}


@pytest.fixture(scope="module")
def graph(spark):
    g = karate()
    g.add_edge(100, 101, strength=0.5)
    g.add_edge(101, 102, strength=0.7)
    return nx_to_edges_df(spark, g, weight=W)


@pytest.fixture()
def loops(monkeypatch):
    """Every ``SuperstepLoop`` opened, in call order."""
    seen = []
    init = loop_module.SuperstepLoop.__init__

    def spy(self, *args, **kwargs):
        init(self, *args, **kwargs)
        seen.append(self)

    monkeypatch.setattr(loop_module.SuperstepLoop, "__init__", spy)
    return seen


@pytest.mark.parametrize("name", list(LOOPS))
def test_every_loop_records_its_supersteps(graph, loops, name):
    res = LOOPS[name](graph)
    assert len(loops) == 1
    history = loops[0].history
    if hasattr(res, "history"):
        assert res.history is history
    assert history
    for rec in history:
        assert {"iteration", "superstep_sec", "converged"} <= set(rec), rec
    assert [r["iteration"] for r in history] == list(range(1, len(history) + 1))
    if hasattr(res, "converged"):
        assert history[-1]["converged"] == res.converged
