"""Path queries: top-n neighbors, single-source shortest paths.

Reference: ``PathFinder.top_neighbors``
(/root/reference/bluegraph/core/analyse/paths.py:150-159) — rank a vertex's
neighbors by edge weight, keep n. Spark generalization: computed for every
vertex at once with a window (partitionBy vertex, orderBy weight desc),
which is the form a 100 TB run needs anyway; the single-vertex lookup is a
filter on top.

``shortest_paths`` is the distributed core of the reference's PathFinder
surface (``shortest_path`` / ``n_shortest_paths``, /root/reference/
bluegraph/core/analyse/paths.py:181-196, 96-144; nx impl
backends/networkx/analyse/paths.py:21-98): single-source weighted
distances via iterated frontier relaxation (distributed Bellman-Ford, the
Pregel SSSP formulation). The reference computes one (source, target)
path at a time in-process; the Spark shape computes the whole single-source
distance field — the target lookup is a filter, and per-round frontier
relaxation is provably equal to a full Bellman-Ford round (a vertex not
improved in round k-1 relaxes nothing new in round k), which is what the
DuckDB differential oracle unrolls.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bluegraph_spark.pgframe import symmetrize_edges
from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer
from bluegraph_spark.plans.loop import SuperstepLoop


def top_neighbors(
    edges: DataFrame,
    n: int,
    weight_col: str = "weight",
    vertex: str | None = None,
    directed: bool = False,
) -> DataFrame:
    """(id, neighbor, weight, rank) — top-n per vertex, deterministic
    (weight desc, neighbor id asc tie-break)."""
    e = edges.select(
        F.col("src"),
        F.col("dst"),
        F.col(weight_col).cast("double").alias("weight"),
    )
    if not directed:
        e = symmetrize_edges(e)
    if vertex is not None:
        e = e.filter(F.col("src") == F.lit(vertex))
    w = Window.partitionBy("src").orderBy(F.desc("weight"), F.asc("dst"))
    return (
        e.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select(F.col("src").alias("id"), F.col("dst").alias("neighbor"), "weight", "rank")
    )


@dataclass
class SSSPResult:
    distances: DataFrame  # (id, dist) — reached vertices only
    iterations: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def shortest_paths(
    edges: DataFrame,
    source,
    weight_col: str | None = None,
    directed: bool = False,
    max_iter: int = 50,
    checkpointer: SuperstepCheckpointer | None = None,
    resume: bool = False,
) -> SSSPResult:
    """Single-source shortest-path distances over ``(src, dst[, w])``.

    Returns (id, dist) for every vertex reachable from ``source`` within
    ``max_iter`` relaxation rounds (dist = minimum path weight sum; weights
    must be non-negative for the result to be shortest-path distances —
    with hop semantics pass ``weight_col=None`` for w=1). Running with a
    fixed ``max_iter`` yields exactly the ``max_iter``-round Bellman-Ford
    state on both engines whether or not the field has converged — the
    frontier optimization (only edges out of vertices improved last round
    are relaxed) is result-identical per round, just cheaper.

    Scale design: same loop discipline as pagerank — CSR-blocked cached
    edge table (hash by src, sorted), distance state through the
    stats-guarded localCheckpoint / SuperstepCheckpointer, improved-count
    riding the materialization as an observed metric, AQE + shuffle width
    frozen on the loop's own session. The state holds REACHED vertices
    only, so early rounds shuffle a frontier, not the vertex set.
    """
    with SuperstepLoop(edges.sparkSession, checkpointer, resume) as loop:
        # the state (id, dist, _improved) holds the distance field and the
        # frontier: both are projections of it, on resume too
        if loop.converged:
            return SSSPResult(
                loop.result(loop.state.select("id", "dist")), loop.iteration,
                True, loop.history,
            )
        edges = loop.bind(edges)
        w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
        e = edges.select(F.col("src"), F.col("dst"), w.alias("w")).filter(
            F.col("src") != F.col("dst")
        )
        if not directed:
            e = symmetrize_edges(e)
        csr = loop.edge_cache(e, "src")
        if loop.state is None:
            id_type = dict(csr.dtypes)["src"]
            loop.start(
                loop.spark.createDataFrame([(source,)], f"id {id_type}")
                .select("id", F.lit(0.0).alias("dist"), F.lit(True).alias("_improved"))
                .repartition(loop.n_parts, "id"),
                fields=lambda m: {"improved": 1, "reached": 1, "converged": False},
            )
        for _ in loop.supersteps(max_iter):
            dist = loop.state.select("id", "dist")
            frontier = loop.state.filter(F.col("_improved")).select("id", "dist")
            cand = (
                csr.join(frontier.select(F.col("id").alias("src"), "dist"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min(F.col("dist") + F.col("w")).alias("_cand"))
            )
            relaxed = (
                dist.join(cand, "id", "full_outer")
                .select(
                    "id",
                    F.least(
                        F.coalesce("dist", F.lit(float("inf"))),
                        F.coalesce("_cand", F.lit(float("inf"))),
                    ).alias("dist"),
                    (
                        F.col("dist").isNull()
                        | (F.coalesce("_cand", F.lit(float("inf"))) < F.col("dist"))
                    ).alias("_improved"),
                )
            )
            loop.step(
                relaxed,
                F.sum(F.col("_improved").cast("long")).alias("improved"),
                F.count(F.lit(1)).alias("rows"),
                fields=lambda m: {
                    "improved": int(m["improved"] or 0),
                    "reached": int(m["rows"]),
                    "converged": not m["improved"],
                },
            )

        return SSSPResult(
            loop.result(loop.state.select("id", "dist")), loop.iteration,
            loop.converged, loop.history,
        )


@dataclass
class KShortestResult:
    """Result of :func:`k_shortest_distances`."""

    distances: DataFrame  # (id, rank int, dist double), rank 1..k per id
    iterations: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def k_shortest_distances(
    edges: DataFrame,
    source,
    k: int = 3,
    weight_col: str | None = None,
    directed: bool = False,
    max_iter: int = 50,
    checkpointer: SuperstepCheckpointer | None = None,
    resume: bool = False,
) -> KShortestResult:
    """k smallest DISTINCT walk lengths from ``source`` to every vertex.

    The scalable analogue of the reference's ``n_shortest_paths``
    (/root/reference/bluegraph/core/analyse/paths.py:217-298): where the
    reference enumerates k shortest SIMPLE paths for one (source, target)
    pair in-process (Yen's algorithm / ranked all-shortest-paths), this
    operator computes, for EVERY vertex at once, the k smallest distinct
    total weights over all walks from the source — the multi-label
    generalization of Bellman-Ford (each vertex keeps its k best labels;
    k = 1 degenerates to :func:`shortest_paths`). Distinct-value semantics
    (duplicate walk lengths collapse) keep the label set canonical and the
    fixpoint independent of relaxation order, which is what makes the
    result deterministic, partitioning-invariant, and expressible as an
    unrolled SQL recurrence for the differential oracle. For exact
    simple-path enumeration semantics on small graphs, use
    ``path_bridge.n_shortest_paths`` (the size-gated driver bridge).

    Correctness of per-vertex top-k truncation: a successor's k best
    distinct distances through vertex u are a monotone image (+w) of u's
    OWN k best distinct distances, so labels trimmed beyond rank k at u
    can never contribute a top-k label downstream — truncation is
    lossless. Frontier optimization: only labels that ENTERED a vertex's
    top-k set this round are relaxed next round; every label already
    relaxed when it first entered keeps its extensions in the state.

    Weights must be strictly positive for walk semantics to terminate
    (with zero-weight cycles the distinct-length fixpoint still exists and
    the iteration still converges, since distinctness bounds labels at k).

    Scale shape: identical loop discipline to :func:`shortest_paths` —
    CSR-blocked cached edges that never move; per round the (≤ kV)-row
    label state shuffles twice (join on src, window on id); AQE and
    shuffle width frozen on a private loop session; stats-guarded
    localCheckpoints with deterministic block release.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    rk = F.row_number().over(Window.partitionBy("id").orderBy("dist"))
    with SuperstepLoop(edges.sparkSession, checkpointer, resume) as loop:
        # the state is the merged label table (id, dist, _old): the labels
        # and the frontier are both projections of it, on resume too
        if loop.converged:
            return KShortestResult(
                loop.result(_ranked(loop.state, rk)), loop.iteration, True,
                loop.history,
            )
        edges = loop.bind(edges)
        w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
        e = edges.select(F.col("src"), F.col("dst"), w.alias("w"))
        if not directed:
            e = symmetrize_edges(e)
        csr = loop.edge_cache(e.filter(F.col("src") != F.col("dst")), "src")
        if loop.state is None:
            id_type = dict(csr.dtypes)["src"]
            loop.start(
                loop.spark.createDataFrame([(source,)], f"id {id_type}")
                .select("id", F.lit(0.0).alias("dist"), F.lit(False).alias("_old"))
                .repartition(loop.n_parts, "id"),
                fields=lambda m: {"new_labels": 1, "labels": 1, "converged": False},
            )
        for _ in loop.supersteps(max_iter):
            frontier = loop.state.filter(~F.col("_old")).select("id", "dist")
            cand = csr.join(
                frontier.select(F.col("id").alias("src"), "dist"), "src"
            ).select(
                F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist")
            )
            # old labels tagged so the frontier (labels NEW in the top-k
            # set) falls out of the same window pass
            merged = (
                loop.state.select("id", "dist")
                .withColumn("_old", F.lit(True))
                .unionByName(cand.withColumn("_old", F.lit(False)))
                .groupBy("id", "dist")
                .agg(F.max("_old").alias("_old"))
                .withColumn("_rk", rk)
                .filter(F.col("_rk") <= k)
            )
            loop.step(
                merged,
                F.sum((~F.col("_old")).cast("long")).alias("new_labels"),
                F.count(F.lit(1)).alias("labels"),
                fields=lambda m: {
                    "new_labels": int(m["new_labels"] or 0),
                    "labels": int(m["labels"]),
                    "converged": not m["new_labels"],
                },
            )

        return KShortestResult(
            loop.result(_ranked(loop.state, rk)), loop.iteration,
            loop.converged, loop.history,
        )


def _ranked(state: DataFrame, rk) -> DataFrame:
    return state.withColumn("rank", rk.cast("int")).select("id", "rank", "dist")
