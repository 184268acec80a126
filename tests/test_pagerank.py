"""PageRank vs the NetworkX oracle (reference semantics:
/root/reference/bluegraph/backends/networkx/analyse/metrics.py:36-41,
nx.pagerank defaults alpha=0.85 tol=1e-6 max_iter=100; north rule requires
allclose 1e-6)."""

import json

import networkx as nx
import numpy as np
import pytest

from bluegraph_spark.operators.pagerank import pagerank
from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer

from tests.graph_fixtures import (
    _jobs_run_by,
    karate,
    pagerank_oracle,
    nx_nodes_df,
    nx_to_edges_df,
    random_digraph,
    random_graph,
)


def assert_matches_nx(result, nx_scores, atol=1e-6):
    got = {r.id: r.rank for r in result.ranks.collect()}
    assert set(got) == {str(k) for k in nx_scores}
    a = np.array([got[str(k)] for k in sorted(nx_scores)])
    b = np.array([nx_scores[k] for k in sorted(nx_scores)])
    assert np.allclose(a, b, atol=atol), np.abs(a - b).max()


def test_karate_unweighted(spark):
    g = karate()
    res = pagerank(nx_to_edges_df(spark, g))
    assert res.converged
    assert_matches_nx(res, pagerank_oracle(g))


def test_karate_weighted(spark):
    g = karate()
    res = pagerank(nx_to_edges_df(spark, g, weight="strength"), weight_col="strength")
    assert res.converged
    assert_matches_nx(res, pagerank_oracle(g, weight="strength"))


def test_random_graph_weighted(spark):
    g = random_graph()
    res = pagerank(nx_to_edges_df(spark, g, weight="mi"), weight_col="mi")
    assert res.converged
    assert_matches_nx(res, pagerank_oracle(g, weight="mi"))


def test_directed_with_dangling(spark):
    g = random_digraph()
    res = pagerank(
        nx_to_edges_df(spark, g, weight="w"),
        weight_col="w",
        directed=True,
        nodes=nx_nodes_df(spark, g),
    )
    assert res.converged
    assert_matches_nx(res, pagerank_oracle(g, weight="w"))


def test_isolated_vertices_uniform_base(spark):
    g = karate()
    g.add_nodes_from([100, 101])  # isolated => dangling in nx terms
    res = pagerank(nx_to_edges_df(spark, g), nodes=nx_nodes_df(spark, g))
    assert res.converged
    assert_matches_nx(res, pagerank_oracle(g))


def test_fixed_iterations_mode(spark):
    g = karate()
    res = pagerank(nx_to_edges_df(spark, g), tol=0.0, max_iter=5)
    assert res.iterations == 5 and not res.converged


def test_checkpoint_resume(spark, tmp_path):
    g = karate()
    edges = nx_to_edges_df(spark, g, weight="strength")

    full = pagerank(edges, weight_col="strength")

    cp = SuperstepCheckpointer(str(tmp_path), "pr")
    partial = pagerank(edges, weight_col="strength", max_iter=3, checkpointer=cp)
    assert not partial.converged and cp.latest() == 3
    # metrics + lineage recorded per superstep
    m = cp.load_metrics(3)
    assert "err" in m and "lineage" in m and m["total_rows"] == g.number_of_nodes()

    resumed = pagerank(
        edges, weight_col="strength", checkpointer=cp, resume=True
    )
    assert resumed.converged
    got_full = {r.id: r.rank for r in full.ranks.collect()}
    got_res = {r.id: r.rank for r in resumed.ranks.collect()}
    for k in got_full:
        assert got_res[k] == pytest.approx(got_full[k], abs=1e-12)
    # resume skipped the already-done supersteps
    assert resumed.iterations == full.iterations


def test_fresh_run_replaces_earlier_run(spark, tmp_path):
    """A run without ``resume`` owns its run directory: a longer earlier
    run's supersteps must not survive it, or a resume continues that run."""

    def ring(n):
        return spark.createDataFrame(
            [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
        )

    cp = SuperstepCheckpointer(str(tmp_path), "run")
    pagerank(ring(200), tol=0.0, max_iter=6, checkpointer=cp)
    b = ring(50)
    pagerank(b, tol=0.0, max_iter=2, checkpointer=cp)
    assert cp.iterations() == [0, 1, 2]
    resumed = pagerank(b, tol=0.0, max_iter=2, checkpointer=cp, resume=True)
    assert resumed.iterations == 2
    assert sorted(r.id for r in resumed.ranks.collect()) == list(range(50))


class KilledCheckpointer(SuperstepCheckpointer):
    """Raises in ``save(kill_at)``: a run killed during that superstep."""

    def __init__(self, *args, kill_at: int, **kwargs):
        super().__init__(*args, **kwargs)
        self.kill_at = kill_at

    def save(self, iteration, state, metrics=None):
        if iteration == self.kill_at:
            raise RuntimeError(f"killed in superstep {iteration}")
        return super().save(iteration, state, metrics)


def _assert_same_ranks(a, b):
    got_a = {r.id: r.rank for r in a.ranks.collect()}
    got_b = {r.id: r.rank for r in b.ranks.collect()}
    assert got_a.keys() == got_b.keys()
    for k in got_a:
        assert got_b[k] == pytest.approx(got_a[k], abs=1e-12)


def test_resume_when_only_iteration_zero_is_complete(spark, tmp_path):
    g = karate()
    edges = nx_to_edges_df(spark, g, weight="strength")
    full = pagerank(edges, weight_col="strength")

    killed = KilledCheckpointer(str(tmp_path), "run", kill_at=1)
    with pytest.raises(RuntimeError, match="killed in superstep 1"):
        pagerank(edges, weight_col="strength", checkpointer=killed)
    cp = SuperstepCheckpointer(str(tmp_path), "run")
    assert cp.latest() == 0

    resumed = pagerank(edges, weight_col="strength", checkpointer=cp, resume=True)
    assert resumed.converged and resumed.iterations == full.iterations
    _assert_same_ranks(full, resumed)


def test_lpa_resume_when_only_iteration_zero_is_complete(spark, tmp_path):
    """LPA checkpoints its iteration-0 state as ids only (label = id is a
    projection above it); a resume from there restores the labels."""
    from bluegraph_spark.operators.lpa import label_propagation

    edges = nx_to_edges_df(spark, karate(), weight="strength")
    full = label_propagation(edges, weight_col="strength", max_iter=10)

    killed = KilledCheckpointer(str(tmp_path), "run", kill_at=1)
    with pytest.raises(RuntimeError, match="killed in superstep 1"):
        label_propagation(
            edges, weight_col="strength", max_iter=10, checkpointer=killed
        )
    cp = SuperstepCheckpointer(str(tmp_path), "run")
    assert cp.latest() == 0

    resumed = label_propagation(
        edges, weight_col="strength", max_iter=10, checkpointer=cp, resume=True
    )
    assert (resumed.iterations, resumed.converged) == (full.iterations, full.converged)
    assert sorted(map(tuple, resumed.labels.collect())) == sorted(
        map(tuple, full.labels.collect())
    )


def test_resume_from_pending_placeholder_record(spark, tmp_path):
    """A complete state whose metrics record is only the placeholder an
    older writer left between the state write and the metrics update."""
    g = karate()
    edges = nx_to_edges_df(spark, g, weight="strength")
    full = pagerank(edges, weight_col="strength")

    cp = SuperstepCheckpointer(str(tmp_path), "run")
    pagerank(edges, weight_col="strength", max_iter=3, checkpointer=cp)
    with open(cp.metrics_path(3), "w") as f:
        json.dump({"iteration": 3, "pending": True}, f)
    assert cp.latest() == 3

    resumed = pagerank(edges, weight_col="strength", checkpointer=cp, resume=True)
    assert resumed.converged and resumed.iterations == full.iterations
    _assert_same_ranks(full, resumed)


@pytest.mark.parametrize(
    "op, keep_last",
    [
        pytest.param(op, keep_last, id=op + ("" if keep_last is None else "-keep_last"))
        for keep_last in (None, 2)
        for op in ("pagerank", "cc", "sssp", "kssp")
    ],
)
def test_converged_resume_builds_no_edge_cache(spark, tmp_path, op, keep_last):
    """Resuming a run that had already converged returns its saved state
    with no Spark job beyond reading that state back: no edge cache, no
    width sizing, no further superstep. Its history is the whole metrics
    log, also when ``keep_last`` pruned the older supersteps' data."""
    from bluegraph_spark.operators.components import connected_components
    from bluegraph_spark.operators.paths import (
        k_shortest_distances,
        shortest_paths,
    )

    edges = nx_to_edges_df(spark, karate(), weight="strength")
    run = {
        "pagerank": lambda **kw: pagerank(edges, weight_col="strength", **kw),
        "cc": lambda **kw: connected_components(edges, **kw),
        "sssp": lambda **kw: shortest_paths(edges, "0", weight_col="strength", **kw),
        "kssp": lambda **kw: k_shortest_distances(
            edges, "0", k=2, weight_col="strength", **kw
        ),
    }[op]
    cp = SuperstepCheckpointer(str(tmp_path), op, keep_last=keep_last)
    done = run(checkpointer=cp)
    assert done.converged

    again, jobs = _jobs_run_by(spark, lambda: run(checkpointer=cp, resume=True))
    assert jobs <= 1  # the parquet reader's schema inference over the state
    assert again.converged
    # the saved metrics log: every superstep of the finished run
    assert [h["iteration"] for h in again.history] == list(range(cp.latest() + 1))
