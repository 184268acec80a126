"""Driver-side betweenness/closeness centrality bridge (size-gated).

Reference semantics: ``nx.betweenness_centrality(graph, weight=distance)``
and ``nx.closeness_centrality(graph, distance=distance)``
(/root/reference/bluegraph/backends/networkx/analyse/metrics.py:43-57).
Both are all-pairs-shortest-path statistics — O(V·E) at best (Brandes) —
and have no honest distributed DataFrame formulation at 10^9-vertex scale
(SURVEY.md §2.6 keeps them out of the distributed surface for that
reason). But the place the reference's production pipeline actually calls
them is SMALL graphs — the pruned, MST-reduced visualization graphs of
cord19kg (top-n entities, thousands of vertices) — where an in-process
computation is both exact and fast.

This module is that honest bridge: it **collects the edge list to the
driver** (explicitly, behind hard size gates that raise rather than melt)
and runs the NetworkX reference implementation. It is NOT a distributed
operator and never will be; the gates make the scale contract a loud
error instead of a silent cluster-killer. For the distributed path
operators, see ``paths.shortest_paths`` (SSSP) and ``mst``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bluegraph_spark.pgframe import vertex_set

DEFAULT_MAX_NODES = 100_000
DEFAULT_MAX_EDGES = 2_000_000


def _collect_graph(
    edges: DataFrame,
    weight_col: str | None,
    directed: bool,
    max_nodes: int,
    max_edges: int,
):
    try:
        import networkx as nx
    except ImportError as exc:  # pragma: no cover - nx is a test dependency
        raise ImportError(
            "the centrality bridge needs networkx (driver-side only); "
            "install it or use the distributed operators instead"
        ) from exc

    cols = [F.col("src"), F.col("dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias("_w"))
    e = edges.select(*cols)
    n_edges = e.count()
    if n_edges > max_edges:
        raise ValueError(
            f"graph has {n_edges} edges > max_edges={max_edges}: the "
            "centrality bridge is driver-side Brandes (all-pairs shortest "
            "paths) and is gated to pruned/visualization-scale graphs — "
            "reduce the graph first (keep_top_n_nodes / minimum_spanning_"
            "forest / subgraph), or raise the gate explicitly if you "
            "accept an O(V*E) in-process computation"
        )
    n_nodes = vertex_set(e).count()
    if n_nodes > max_nodes:
        raise ValueError(
            f"graph has {n_nodes} nodes > max_nodes={max_nodes}: see the "
            "max_edges gate message for why and what to do"
        )
    g = nx.DiGraph() if directed else nx.Graph()
    for row in e.collect():
        if weight_col is not None:
            g.add_edge(row[0], row[1], _w=row[2])
        else:
            g.add_edge(row[0], row[1])
    return g


def betweenness_centrality(
    edges: DataFrame,
    distance_col: str | None = None,
    directed: bool = False,
    normalized: bool = True,
    max_nodes: int = DEFAULT_MAX_NODES,
    max_edges: int = DEFAULT_MAX_EDGES,
) -> DataFrame:
    """(id, betweenness) — exact Brandes betweenness, driver-side, gated.

    ``distance_col`` plays the reference's ``distance`` role (edge length
    to minimize along paths); None = unweighted hops.
    """
    import networkx as nx

    g = _collect_graph(edges, distance_col, directed, max_nodes, max_edges)
    bc = nx.betweenness_centrality(
        g, weight="_w" if distance_col is not None else None, normalized=normalized
    )
    spark = edges.sparkSession
    id_type = dict(edges.dtypes)["src"]
    return spark.createDataFrame(
        sorted(bc.items()), f"id {id_type}, betweenness double"
    )


def closeness_centrality(
    edges: DataFrame,
    distance_col: str | None = None,
    directed: bool = False,
    max_nodes: int = DEFAULT_MAX_NODES,
    max_edges: int = DEFAULT_MAX_EDGES,
) -> DataFrame:
    """(id, closeness) — exact closeness centrality, driver-side, gated."""
    import networkx as nx

    g = _collect_graph(edges, distance_col, directed, max_nodes, max_edges)
    cc = nx.closeness_centrality(
        g, distance="_w" if distance_col is not None else None
    )
    spark = edges.sparkSession
    id_type = dict(edges.dtypes)["src"]
    return spark.createDataFrame(
        sorted(cc.items()), f"id {id_type}, closeness double"
    )


def girvan_newman_communities(
    edges: DataFrame,
    weight_col: str | None = None,
    n_communities: int = 2,
    intermediate: bool = False,
    directed: bool = False,
    max_nodes: int = DEFAULT_MAX_NODES,
    max_edges: int = DEFAULT_MAX_EDGES,
) -> DataFrame:
    """Girvan–Newman divisive communities — driver-side, gated.

    Reference: ``CommunityDetector.detect_communities(
    strategy="girvan-newman", n_communities, intermediate)``
    (/root/reference/bluegraph/backends/networkx/analyse/communities.py:
    85-109): peel highest-edge-betweenness edges until the partition has
    ``n_communities`` parts; with ``weight_col`` the most-valuable edge is
    the HEAVIEST edge (the reference's ``heaviest`` hook) instead of the
    highest-betweenness one. Like betweenness itself, GN is all-pairs
    shortest paths per peeled edge — driver-side behind the same size
    gates, for the pruned visualization graphs where the reference uses it.

    Returns (id, community) with min-id canonical labels, or with
    ``intermediate`` (id, communities array<int>) — the reference's
    per-layer membership indices.
    """
    import itertools

    import networkx as nx
    from networkx.algorithms.community.centrality import girvan_newman as gn

    g = _collect_graph(edges, weight_col, directed, max_nodes, max_edges)

    def heaviest(graph):
        return max(graph.edges(data=True), key=lambda e: e[2]["_w"])[:2]

    communities = gn(
        g, most_valuable_edge=heaviest if weight_col is not None else None
    )
    layers = list(
        itertools.takewhile(lambda c: len(c) <= n_communities, communities)
    )
    if not layers:
        raise ValueError(
            f"the first Girvan–Newman split already has more than "
            f"{n_communities} communities"
        )
    spark = edges.sparkSession
    id_type = dict(edges.dtypes)["src"]
    if not intermediate:
        rows = []
        for comm in layers[-1]:
            label = min(comm)
            rows.extend((n, label) for n in comm)
        return spark.createDataFrame(
            sorted(rows), f"id {id_type}, community {id_type}"
        )
    membership: dict = {n: [] for n in g.nodes()}
    for layer in layers:
        for i, comm in enumerate(layer):
            for n in comm:
                membership[n].append(i)
    return spark.createDataFrame(
        sorted(membership.items()), f"id {id_type}, communities array<int>"
    )
