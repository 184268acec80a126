"""Driver-side exact path enumeration bridge (size-gated).

Reference semantics: the ``PathFinder`` enumeration surface —
``shortest_path`` / ``all_shortest_paths`` / ``n_shortest_paths``
(naive + Yen strategies) / ``nested_shortest_path`` /
``n_nested_shortest_paths`` / ``shortest_tripath`` / ``n_shortest_tripaths``
(/root/reference/bluegraph/core/analyse/paths.py:181-498; nx backend
backends/networkx/analyse/paths.py:23-98).

Enumerating k shortest SIMPLE paths is inherently sequential per
(source, target) pair — Yen's algorithm re-runs Dijkstra with per-prefix
edge removals — and the reference only ever calls it on pruned
visualization-scale graphs (cord19kg mutual-information networks of
top-n entities). Like the centrality bridge, this module collects the
edge list to the driver behind hard size gates that raise rather than
melt, and runs the exact reference semantics in-process with NetworkX.

The DISTRIBUTED analogue for distance queries at cluster scale is
``paths.k_shortest_distances`` (per-vertex k-best distinct walk lengths,
a multi-label Bellman-Ford) and ``paths.shortest_paths`` (SSSP field);
this bridge is for exact simple-path enumeration where the reference
uses it: small graphs, single (source, target) pairs.

Deviation (documented): the reference ranks the 'naive' strategy's
candidate paths with ``pandas.nsmallest``, whose tie order is insertion
order of an unordered set — nondeterministic across runs. This bridge
breaks score ties by the path tuple itself, making results reproducible;
on tie-free graphs the two are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from bluegraph_spark.operators.centrality_bridge import (
    DEFAULT_MAX_EDGES,
    DEFAULT_MAX_NODES,
    _collect_graph,
)


class NoPathError(ValueError):
    """No path satisfying the constraints exists (reference
    PathFinder.NoPathException)."""


def _maybe_exclude_edge(g, source, target, exclude_edge: bool):
    """Reference ``handle_exclude_nx_edge``: drop the direct s-t edge."""
    if not exclude_edge:
        return g
    if g.is_directed():
        if g.has_edge(source, target):
            return g.edge_subgraph(
                [e for e in g.edges() if e != (source, target)]
            )
        return g
    if g.has_edge(source, target) or g.has_edge(target, source):
        return g.edge_subgraph(
            [
                e
                for e in g.edges()
                if e != (source, target) and e != (target, source)
            ]
        )
    return g


def _path_cost(g, path, weighted: bool) -> float:
    if not weighted:
        return float(len(path) - 1)
    return float(
        sum(g.edges[path[i - 1], path[i]]["_w"] for i in range(1, len(path)))
    )


def shortest_path(
    edges: DataFrame,
    source,
    target,
    weight_col: str | None = None,
    directed: bool = False,
    exclude_edge: bool = False,
    max_nodes: int = DEFAULT_MAX_NODES,
    max_edges: int = DEFAULT_MAX_EDGES,
) -> tuple:
    """The single shortest path as a node tuple (PathFinder.shortest_path)."""
    import networkx as nx

    g = _collect_graph(edges, weight_col, directed, max_nodes, max_edges)
    sub = _maybe_exclude_edge(g, source, target, exclude_edge)
    try:
        return tuple(
            nx.shortest_path(
                sub, source, target, weight="_w" if weight_col else None
            )
        )
    except nx.exception.NetworkXNoPath as exc:
        raise NoPathError(f"no path from {source!r} to {target!r}") from exc


def all_shortest_paths(
    edges: DataFrame,
    source,
    target,
    directed: bool = False,
    exclude_edge: bool = False,
    max_nodes: int = DEFAULT_MAX_NODES,
    max_edges: int = DEFAULT_MAX_EDGES,
) -> list[tuple]:
    """All unweighted shortest paths (PathFinder.all_shortest_paths)."""
    import networkx as nx

    g = _collect_graph(edges, None, directed, max_nodes, max_edges)
    sub = _maybe_exclude_edge(g, source, target, exclude_edge)
    try:
        return [tuple(p) for p in nx.all_shortest_paths(sub, source, target)]
    except nx.exception.NetworkXNoPath as exc:
        raise NoPathError(f"no path from {source!r} to {target!r}") from exc


def n_shortest_paths(
    edges: DataFrame,
    source,
    target,
    n: int,
    weight_col: str | None = None,
    directed: bool = False,
    strategy: str = "naive",
    exclude_edge: bool = False,
    max_nodes: int = DEFAULT_MAX_NODES,
    max_edges: int = DEFAULT_MAX_EDGES,
) -> list[tuple]:
    """n best paths (PathFinder.n_shortest_paths, core/analyse/paths.py:217-298).

    ``naive``: rank ALL unweighted-shortest paths (computed with the
    direct edge excluded) by cumulative ``weight_col`` distance, then
    re-admit the direct s-t edge as a candidate unless ``exclude_edge``
    — exactly the reference's recipe, which may return fewer than n.
    ``yen``: first n simple paths by weighted length
    (``nx.shortest_simple_paths``).
    """
    import networkx as nx

    if n == 1:
        return [
            shortest_path(
                edges,
                source,
                target,
                weight_col=weight_col,
                directed=directed,
                exclude_edge=exclude_edge,
                max_nodes=max_nodes,
                max_edges=max_edges,
            )
        ]

    g = _collect_graph(edges, weight_col, directed, max_nodes, max_edges)
    weighted = weight_col is not None
    if strategy == "naive":
        sub = _maybe_exclude_edge(g, source, target, True)
        try:
            cands = [
                tuple(p) for p in nx.all_shortest_paths(sub, source, target)
            ]
        except nx.exception.NetworkXNoPath:
            cands = []
        ranking = {p: _path_cost(g, p, weighted) for p in cands}
        if not exclude_edge:
            direct = g.has_edge(source, target) or (
                not g.is_directed() and g.has_edge(target, source)
            )
            if direct:
                ranking[(source, target)] = _path_cost(
                    g, (source, target), weighted
                )
        if not ranking:
            raise NoPathError(f"no path from {source!r} to {target!r}")
        return sorted(ranking, key=lambda p: (ranking[p], p))[:n]
    if strategy == "yen":
        sub = _maybe_exclude_edge(g, source, target, exclude_edge)
        out: list[tuple] = []
        try:
            for p in nx.shortest_simple_paths(
                sub, source, target, weight="_w" if weighted else None
            ):
                out.append(tuple(p))
                if len(out) == n:
                    break
        except nx.exception.NetworkXNoPath as exc:
            raise NoPathError(
                f"no path from {source!r} to {target!r}"
            ) from exc
        return out
    raise ValueError(f"unknown path search strategy {strategy!r}")


def nested_shortest_path(
    edges: DataFrame,
    source,
    target,
    depth: int = 1,
    weight_col: str | None = None,
    directed: bool = False,
    exclude_edge: bool = True,
    max_nodes: int = DEFAULT_MAX_NODES,
    max_edges: int = DEFAULT_MAX_EDGES,
) -> set[tuple]:
    """Iteratively expand each consecutive node pair into its own shortest
    path, ``depth`` levels deep (PathFinder.nested_shortest_path,
    core/analyse/paths.py:300-322)."""
    import networkx as nx

    g = _collect_graph(edges, weight_col, directed, max_nodes, max_edges)

    def _sp(s, t):
        sub = _maybe_exclude_edge(g, s, t, exclude_edge)
        return tuple(
            nx.shortest_path(sub, s, t, weight="_w" if weight_col else None)
        )

    current = [[source, target]]
    all_paths: set[tuple] = set()
    visited: set[tuple] = set()
    for _ in range(depth):
        new_paths = []
        for cur in current:
            for i in range(1, len(cur)):
                s, t = cur[i - 1], cur[i]
                if s != t and (s, t) not in visited and (t, s) not in visited:
                    visited.add((s, t))
                    p = _sp(s, t)
                    all_paths.add(p)
                    new_paths.append(list(p))
        current = new_paths
    return all_paths


def n_nested_shortest_paths(
    edges: DataFrame,
    source,
    target,
    top_level_n: int,
    nested_n: int | None = None,
    depth: int = 1,
    weight_col: str | None = None,
    directed: bool = False,
    strategy: str = "naive",
    exclude_edge: bool = False,
    max_nodes: int = DEFAULT_MAX_NODES,
    max_edges: int = DEFAULT_MAX_EDGES,
) -> list[tuple]:
    """Top-n nested expansion (PathFinder.n_nested_shortest_paths,
    core/analyse/paths.py:324-380). Result order is canonicalized
    (sorted) — the reference returns ``list(set(...))``, whose order is
    interpreter-dependent."""
    if nested_n is None:
        nested_n = top_level_n
    current = [[source, target]]
    all_paths: set[tuple] = set()
    visited: set[tuple] = set()
    for level in range(depth):
        new_paths: list = []
        for cur in current:
            for i in range(1, len(cur)):
                s, t = cur[i - 1], cur[i]
                if (s, t) not in visited and (t, s) not in visited:
                    visited.add((s, t))
                    try:
                        ps = n_shortest_paths(
                            edges,
                            s,
                            t,
                            top_level_n if level == 0 else nested_n,
                            weight_col=weight_col,
                            directed=directed,
                            strategy=strategy,
                            exclude_edge=exclude_edge,
                            max_nodes=max_nodes,
                            max_edges=max_edges,
                        )
                    except NoPathError:
                        continue
                    all_paths.update(ps)
                    new_paths.extend(ps)
        current = new_paths
    return sorted(all_paths)


def shortest_tripath(
    edges: DataFrame,
    source,
    intermediary,
    target,
    weight_col: str | None = None,
    directed: bool = False,
    exclude_edge: bool = False,
    overlap: bool = True,
    max_nodes: int = DEFAULT_MAX_NODES,
    max_edges: int = DEFAULT_MAX_EDGES,
) -> tuple[tuple, tuple]:
    """A→B and B→C shortest paths; with ``overlap=False`` the interior
    nodes of A→B are removed before the B→C search
    (PathFinder.shortest_tripath, core/analyse/paths.py:381-433)."""
    import networkx as nx

    g = _collect_graph(edges, weight_col, directed, max_nodes, max_edges)
    w = "_w" if weight_col else None

    sub = _maybe_exclude_edge(g, source, intermediary, exclude_edge)
    try:
        a_b = tuple(nx.shortest_path(sub, source, intermediary, weight=w))
    except nx.exception.NetworkXNoPath as exc:
        raise NoPathError(
            f"no path from {source!r} to {intermediary!r}"
        ) from exc

    g2 = g
    if not overlap:
        drop = {
            x
            for x in a_b[1:-1]
            if x != intermediary and x != target
        }
        g2 = g.subgraph([v for v in g.nodes() if v not in drop])
    sub2 = _maybe_exclude_edge(g2, intermediary, target, exclude_edge)
    try:
        b_c = tuple(nx.shortest_path(sub2, intermediary, target, weight=w))
    except nx.exception.NetworkXNoPath as exc:
        raise NoPathError(
            f"no path satisfying the constraints from the intermediary "
            f"{intermediary!r} to the target {target!r}"
        ) from exc
    return a_b, b_c


def n_shortest_tripaths(
    edges: DataFrame,
    source,
    intermediary,
    target,
    n: int,
    weight_col: str | None = None,
    directed: bool = False,
    strategy: str = "naive",
    exclude_edge: bool = False,
    overlap: bool = True,
    max_nodes: int = DEFAULT_MAX_NODES,
    max_edges: int = DEFAULT_MAX_EDGES,
) -> tuple[list[tuple], list[tuple]]:
    """n-best A→B and B→C paths with the reference's visited-node
    exclusion under ``overlap=False``
    (PathFinder.n_shortest_tripaths, core/analyse/paths.py:435-498)."""
    a_b = n_shortest_paths(
        edges,
        source,
        intermediary,
        n,
        weight_col=weight_col,
        directed=directed,
        strategy=strategy,
        exclude_edge=exclude_edge,
        max_nodes=max_nodes,
        max_edges=max_edges,
    )
    if overlap:
        filtered = edges
    else:
        visited = set()
        for p in a_b:
            visited.update(
                x for x in p[1:-1] if x != intermediary and x != target
            )
        from pyspark.sql import functions as F

        filtered = edges.filter(
            ~F.col("src").isin(list(visited))
            & ~F.col("dst").isin(list(visited))
        )
    try:
        b_c = n_shortest_paths(
            filtered,
            intermediary,
            target,
            n,
            weight_col=weight_col,
            directed=directed,
            strategy=strategy,
            exclude_edge=exclude_edge,
            max_nodes=max_nodes,
            max_edges=max_edges,
        )
    except NoPathError as exc:
        raise NoPathError(
            "No paths satisfying the constraints from the intermediary "
            f"{intermediary!r} to the target {target!r} exist"
        ) from exc
    return a_b, b_c
