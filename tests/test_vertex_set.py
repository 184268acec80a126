"""Every operator keeps a vertex whose only edge is a self-loop.

On edges ``(1, 1), (2, 3)`` NetworkX's vertex set is {1, 2, 3}; each
operator that returns one row per vertex must return vertex 1 as well.
"""

import pytest

from bluegraph_spark.operators.components import connected_components
from bluegraph_spark.operators.louvain import louvain
from bluegraph_spark.operators.lpa import label_propagation
from bluegraph_spark.operators.metrics import degree_centrality
from bluegraph_spark.operators.pagerank import pagerank
from bluegraph_spark.operators.triangles import triangle_counts
from bluegraph_spark.operators.walks import generate_random_walks

CASES = {
    "pagerank": lambda e: pagerank(e).ranks,
    "lpa": lambda e: label_propagation(e).labels,
    "louvain": lambda e: louvain(e).labels,
    "triangle_counts": triangle_counts,
    "degree_centrality": degree_centrality,
    "walks-directed": lambda e: generate_random_walks(e, walk_length=2, directed=True)
    .filter("step = 0")
    .select("node")
    .withColumnRenamed("node", "id"),
    "cc": lambda e: connected_components(e).components,
}


@pytest.mark.parametrize(
    "op",
    [
        pytest.param(name, marks=pytest.mark.xfail(
            strict=True,
            reason="CC's start state filters a == b out of the edge set, and "
            "its labels come from the star forest, so a self-loop-only "
            "vertex gets no label",
        )) if name == "cc" else name
        for name in CASES
    ],
)
def test_self_loop_only_vertex_is_kept(spark, op):
    edges = spark.createDataFrame([(1, 1), (2, 3)], "src long, dst long")
    ids = {str(r.id) for r in CASES[op](edges).select("id").collect()}
    assert ids == {"1", "2", "3"}
