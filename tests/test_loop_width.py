"""Width invariance of the loops: ``SuperstepLoop.width`` is every loop's
one width rule, so no result may depend on the width it picks.

Each loop runs twice on the same small graph (the karate club plus a
three-vertex path, 81 edges): at the rule's width, which is 1, and with
``LOOP_ROWS_PER_PARTITION`` lowered so that every loop freezes at width 3
or more, over an input repartitioned into 7 slices. Labels, distances,
embeddings and the spanning forest must match exactly, PageRank within
the oracle tolerance.
"""

import pytest

from bluegraph_spark.operators.components import connected_components
from bluegraph_spark.operators.embeddings import fastrp_embeddings
from bluegraph_spark.operators.louvain import louvain
from bluegraph_spark.operators.lpa import label_propagation
from bluegraph_spark.operators.mst import minimum_spanning_forest
from bluegraph_spark.operators.pagerank import pagerank
from bluegraph_spark.operators.paths import k_shortest_distances, shortest_paths
from bluegraph_spark.plans import loop as loop_module
from tests.graph_fixtures import karate, nx_to_edges_df


W = "strength"
LOOPS = {
    "pagerank": lambda e: pagerank(e, weight_col=W, tol=0.0, max_iter=20).ranks,
    "components": lambda e: connected_components(e).components,
    "lpa": lambda e: label_propagation(e, weight_col=W).labels,
    "sssp": lambda e: shortest_paths(e, "0", weight_col=W).distances,
    "kshortest": lambda e: k_shortest_distances(
        e, "0", k=2, weight_col=W, max_iter=4
    ).distances,
    "louvain": lambda e: louvain(e, weight_col=W, exact_rounds=4).labels,
    "mst": lambda e: minimum_spanning_forest(e, weight_col=W).tree_edges,
    "fastrp": lambda e: fastrp_embeddings(
        e, dim=4, iteration_weights=(1.0, 1.0), weight_col=W
    ),
}


@pytest.fixture(scope="module")
def graph(spark):
    g = karate()
    g.add_edge(100, 101, strength=0.5)
    g.add_edge(101, 102, strength=0.7)
    return nx_to_edges_df(spark, g, weight=W)


@pytest.fixture()
def widths(monkeypatch):
    """The width each loop freezes at, in call order."""
    seen = []
    freeze = loop_module.SuperstepLoop.freeze

    def spy(self, n_parts):
        seen.append(n_parts)
        freeze(self, n_parts)

    monkeypatch.setattr(loop_module.SuperstepLoop, "freeze", spy)
    return seen


@pytest.mark.parametrize("name", list(LOOPS))
def test_result_is_width_invariant(graph, widths, monkeypatch, name):
    run = LOOPS[name]
    narrow = sorted(map(tuple, run(graph).collect()))
    assert widths == [1]
    monkeypatch.setattr(loop_module, "LOOP_ROWS_PER_PARTITION", 40)
    wide = sorted(map(tuple, run(graph.repartition(7)).collect()))
    assert len(widths) == 2 and widths[1] >= 3, widths
    if name == "pagerank":  # (id, rank) rows
        assert [i for i, _ in wide] == [i for i, _ in narrow]
        assert [r for _, r in wide] == pytest.approx(
            [r for _, r in narrow], abs=1e-6
        )
    else:
        assert wide == narrow
