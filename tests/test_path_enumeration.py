"""Path-enumeration bridge tests (mirroring the reference's own
tests/analyse/test_paths.py assertions on the same 5-node fixture) and
distributed k-shortest distinct walk distances vs a pure-Python k-label
Dijkstra oracle."""

from __future__ import annotations

import heapq

import pytest

from bluegraph_spark.operators import path_bridge as pb
from bluegraph_spark.operators.paths import k_shortest_distances


@pytest.fixture(scope="module")
def path_graph(spark):
    # reference tests/conftest.py::path_test_graph
    rows = list(
        zip(
            ["B", "A", "A", "A", "B", "C", "C", "E"],
            ["A", "C", "D", "E", "D", "B", "E", "D"],
            [2.0, 4.0, 8.0, 2.0, 2.0, 3.0, 4.0, 3.0],
        )
    )
    return spark.createDataFrame(rows, "src string, dst string, distance double")


def test_shortest_path_reference_assertions(path_graph):
    assert pb.shortest_path(path_graph, "A", "B") == ("A", "B")
    assert pb.shortest_path(path_graph, "A", "B", weight_col="distance") == (
        "A",
        "B",
    )
    assert pb.shortest_path(
        path_graph, "A", "B", weight_col="distance", exclude_edge=True
    ) == ("A", "C", "B")
    assert pb.shortest_path(path_graph, "A", "D") == ("A", "D")
    assert pb.shortest_path(path_graph, "A", "D", weight_col="distance") == (
        "A",
        "B",
        "D",
    )


def test_all_shortest_paths_reference_assertions(path_graph):
    assert pb.all_shortest_paths(path_graph, "A", "D") == [("A", "D")]
    res = pb.all_shortest_paths(path_graph, "A", "D", exclude_edge=True)
    assert set(res) == {("A", "B", "D"), ("A", "E", "D")}


def test_n_shortest_paths_reference_assertions(path_graph):
    res = pb.n_shortest_paths(path_graph, "A", "D", 3, weight_col="distance")
    assert set(res) == {("A", "B", "D"), ("A", "E", "D"), ("A", "D")}
    res = pb.n_shortest_paths(path_graph, "A", "D", 4, weight_col="distance")
    assert set(res) == {("A", "B", "D"), ("A", "E", "D"), ("A", "D")}
    res = pb.n_shortest_paths(
        path_graph, "A", "D", 3, weight_col="distance", strategy="yen"
    )
    assert set(res) == {("A", "B", "D"), ("A", "E", "D"), ("A", "D")}
    res = pb.n_shortest_paths(
        path_graph, "A", "D", 4, weight_col="distance", strategy="yen"
    )
    assert set(res) == {
        ("A", "C", "B", "D"),
        ("A", "B", "D"),
        ("A", "E", "D"),
        ("A", "D"),
    }
    res = pb.n_shortest_paths(
        path_graph, "A", "D", 3, weight_col="distance", exclude_edge=True
    )
    assert set(res) == {("A", "B", "D"), ("A", "E", "D")}
    res = pb.n_shortest_paths(
        path_graph,
        "A",
        "D",
        4,
        weight_col="distance",
        strategy="yen",
        exclude_edge=True,
    )
    assert set(res) == {
        ("A", "C", "B", "D"),
        ("A", "B", "D"),
        ("A", "E", "D"),
        ("A", "E", "C", "B", "D"),
    }
    with pytest.raises(ValueError):
        pb.n_shortest_paths(path_graph, "A", "D", 3, strategy="bogus")


def test_nested_shortest_paths_reference_assertions(path_graph):
    res = pb.nested_shortest_path(
        path_graph, "A", "B", depth=2, weight_col="distance", exclude_edge=True
    )
    assert len(res) == 3
    res = pb.n_nested_shortest_paths(
        path_graph,
        "A",
        "B",
        top_level_n=5,
        nested_n=3,
        depth=2,
        weight_col="distance",
        exclude_edge=True,
    )
    assert len(res) == 8
    res = pb.n_nested_shortest_paths(
        path_graph,
        "A",
        "B",
        top_level_n=3,
        nested_n=2,
        depth=2,
        strategy="yen",
        weight_col="distance",
        exclude_edge=True,
    )
    assert len(res) == 15


def test_tripaths_reference_assertions(path_graph):
    a_b, b_d = pb.shortest_tripath(
        path_graph, "A", "B", "D", weight_col="distance"
    )
    assert a_b == ("A", "B") and b_d == ("B", "D")
    a_b, b_d = pb.shortest_tripath(
        path_graph, "A", "B", "D", weight_col="distance", exclude_edge=True
    )
    assert a_b == ("A", "C", "B") and b_d == ("B", "A", "E", "D")

    a_b, b_d = pb.n_shortest_tripaths(
        path_graph, "A", "B", "D", 3, weight_col="distance"
    )
    assert set(a_b) == {("A", "B"), ("A", "C", "B"), ("A", "D", "B")}
    assert set(b_d) == {("B", "D"), ("B", "A", "D")}

    a_b, b_d = pb.n_shortest_tripaths(
        path_graph, "A", "B", "D", 3, weight_col="distance", exclude_edge=True
    )
    assert set(a_b) == {("A", "C", "B"), ("A", "D", "B")}
    assert set(b_d) == {("B", "A", "D")}

    a_b, b_d = pb.n_shortest_tripaths(
        path_graph, "A", "B", "D", 3, strategy="yen", weight_col="distance"
    )
    assert set(a_b) == {("A", "B"), ("A", "C", "B"), ("A", "E", "D", "B")}
    assert set(b_d) == {("B", "D"), ("B", "A", "E", "D"), ("B", "C", "E", "D")}

    a_b, b_d = pb.n_shortest_tripaths(
        path_graph,
        "A",
        "B",
        "D",
        3,
        strategy="yen",
        weight_col="distance",
        overlap=False,
    )
    assert set(a_b) == {("A", "B"), ("A", "C", "B"), ("A", "E", "D", "B")}
    assert set(b_d) == {("B", "D"), ("B", "A", "D")}


def test_bridge_gate_raises(path_graph):
    with pytest.raises(ValueError, match="edges"):
        pb.shortest_path(path_graph, "A", "B", max_edges=2)
    with pytest.raises(ValueError, match="nodes"):
        pb.shortest_path(path_graph, "A", "B", max_nodes=2)


# ---------------- distributed k-shortest distinct walk distances ----------


def _py_k_distinct(edges, source, k, directed=False):
    adj: dict = {}
    for s, t, w in edges:
        adj.setdefault(s, []).append((t, w))
        if not directed and s != t:
            adj.setdefault(t, []).append((s, w))
    best: dict = {}
    pq = [(0.0, source)]
    while pq:
        d, u = heapq.heappop(pq)
        labs = best.setdefault(u, [])
        if d in labs or len(labs) >= k:
            continue
        labs.append(d)
        for v, w in adj.get(u, []):
            if len(best.get(v, [])) < k and (d + w) not in best.get(v, []):
                heapq.heappush(pq, (d + w, v))
    return {u: sorted(v) for u, v in best.items()}


def _collect_k(res):
    got: dict = {}
    for r in res.distances.collect():
        got.setdefault(r.id, []).append((r.rank, r.dist))
    return {u: [d for _, d in sorted(v)] for u, v in got.items()}


def test_k_shortest_matches_python_oracle(spark):
    rows = []
    for i in range(30):
        rows.append((f"v{(i * 3) % 11}", f"v{(i * 7 + 2) % 11}", float(1 + i % 4)))
    df = spark.createDataFrame(rows, "src string, dst string, w double")
    for directed in (False, True):
        want = _py_k_distinct(rows, "v0", 3, directed=directed)
        res = k_shortest_distances(
            df, "v0", k=3, weight_col="w", directed=directed
        )
        assert res.converged
        assert _collect_k(res) == want


def test_k_shortest_k1_equals_sssp(spark, path_graph=None):
    rows = [
        ("B", "A", 2.0), ("A", "C", 4.0), ("A", "D", 8.0), ("A", "E", 2.0),
        ("B", "D", 2.0), ("C", "B", 3.0), ("C", "E", 4.0), ("E", "D", 3.0),
    ]
    df = spark.createDataFrame(rows, "src string, dst string, w double")
    from bluegraph_spark.operators.paths import shortest_paths

    k1 = _collect_k(k_shortest_distances(df, "A", k=1, weight_col="w"))
    sssp = {
        r.id: [r.dist]
        for r in shortest_paths(df, "A", weight_col="w").distances.collect()
    }
    assert k1 == sssp


def test_k_shortest_fixed_rounds_partitioning_invariant(spark):
    rows = [(f"a{i}", f"a{(i * 5 + 1) % 9}", float(1 + i % 3)) for i in range(25)]
    df = spark.createDataFrame(rows, "src string, dst string, w double")
    a = _collect_k(
        k_shortest_distances(df, "a0", k=2, weight_col="w", max_iter=3)
    )
    b = _collect_k(
        k_shortest_distances(
            df.repartition(5), "a0", k=2, weight_col="w", max_iter=3
        )
    )
    assert a == b
    with pytest.raises(ValueError):
        k_shortest_distances(df, "a0", k=0)
