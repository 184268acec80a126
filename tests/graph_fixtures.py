"""Shared NetworkX-oracle graph fixtures (FIXTURES.md F4/F5/F6).

Graphs are built with NetworkX generators (karate club is Zachary's public
dataset, shipped inside networkx itself) and converted to Spark edge
DataFrames; the same nx object is the differential oracle — mirroring the
reference's cross-backend test pattern
(/root/reference/tests/analyse/test_metrics.py:56-69). ``_jobs_run_by`` is
the one Spark job counter the tests share.
"""

import uuid

import networkx as nx
import numpy as np


def _jobs_run_by(spark, fn):
    """(fn's return value, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"jobs-probe-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def pagerank_oracle(g, alpha=0.85, tol=1e-6, max_iter=100, weight=None):
    """Pure-Python PageRank with the documented NetworkX semantics
    (power iteration, uniform personalization, dangling mass redistributed
    uniformly, L1 convergence err < N*tol). nx.pagerank itself needs scipy,
    which this sandbox doesn't ship; this is the same published algorithm.
    """
    d = g.to_directed() if not g.is_directed() else g
    N = d.number_of_nodes()
    if N == 0:
        return {}
    x = {n: 1.0 / N for n in d}
    out_w = {
        n: sum(e.get(weight, 1.0) if weight else 1.0 for e in d[n].values())
        for n in d
    }
    dangling = [n for n in d if out_w[n] == 0.0]
    for _ in range(max_iter):
        xlast = x
        x = {n: 0.0 for n in d}
        danglesum = alpha * sum(xlast[n] for n in dangling)
        for n in d:
            if out_w[n] > 0:
                for nbr, e in d[n].items():
                    w = e.get(weight, 1.0) if weight else 1.0
                    x[nbr] += alpha * xlast[n] * (w / out_w[n])
        for n in d:
            x[n] += danglesum / N + (1.0 - alpha) / N
        err = sum(abs(x[n] - xlast[n]) for n in d)
        if err < N * tol:
            return x
    raise RuntimeError("pagerank oracle failed to converge")


def karate(seed=42):
    """34-node karate club with seeded positive 'strength' weights
    (reference tests/conftest.py:216-234 adds clipped N(0.5,0.5) weights;
    we keep weights strictly positive to stay in NetworkX-defined
    territory — see pagerank module docstring on zero-weight sums)."""
    g = nx.karate_club_graph()
    rng = np.random.default_rng(seed)
    for u, v in g.edges:
        g[u][v]["strength"] = float(rng.uniform(0.05, 1.0))
    return g


def random_graph(n=50, p=0.3, seed=42):
    g = nx.gnp_random_graph(n, p, seed=seed)
    rng = np.random.default_rng(seed)
    for u, v in g.edges:
        g[u][v]["mi"] = float(rng.uniform(0.01, 1.0))
    return g


def random_digraph(n=60, p=0.08, seed=7):
    """Directed graph with genuine dangling nodes."""
    g = nx.gnp_random_graph(n, p, seed=seed, directed=True)
    rng = np.random.default_rng(seed)
    for u, v in g.edges:
        g[u][v]["w"] = float(rng.uniform(0.1, 2.0))
    # force some dangling nodes
    for v in list(g.nodes)[:5]:
        for succ in list(g.successors(v)):
            g.remove_edge(v, succ)
    return g


def components_graph(seed=3):
    """Disjoint blocks + isolated vertices (FIXTURES.md F6)."""
    g = nx.Graph()
    offset = 0
    for n_i, p_i in [(5, 0.8), (20, 0.3), (100, 0.05)]:
        block = nx.gnp_random_graph(n_i, p_i, seed=seed + n_i)
        g = nx.union(g, nx.relabel_nodes(block, {v: v + offset for v in block}))
        offset += n_i
    g.add_nodes_from(range(offset, offset + 7))  # isolated
    return g


def triangle_graph():
    """K3 + K4 + K5 cliques plus a path — known triangle counts."""
    g = nx.Graph()
    g = nx.union(g, nx.relabel_nodes(nx.complete_graph(3), lambda v: v))
    g = nx.union(g, nx.relabel_nodes(nx.complete_graph(4), lambda v: v + 10))
    g = nx.union(g, nx.relabel_nodes(nx.complete_graph(5), lambda v: v + 20))
    g.add_edges_from([(100, 101), (101, 102)])  # triangle-free tail
    g.add_edge(2, 10)  # bridge between cliques
    return g


def nx_to_edges_df(spark, g, weight=None):
    rows = []
    for u, v, d in g.edges(data=True):
        rows.append((str(u), str(v), float(d.get(weight, 1.0)) if weight else 1.0))
    schema = "src string, dst string, " + (f"{weight} double" if weight else "w double")
    return spark.createDataFrame(rows, schema)


def nx_nodes_df(spark, g):
    return spark.createDataFrame([(str(v),) for v in g.nodes], "id string")
