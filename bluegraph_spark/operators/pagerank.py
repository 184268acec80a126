"""DataFrame-only iterative PageRank, faithful to the reference oracle.

Reference semantics: ``nx.pagerank(graph, weight=w)`` with NetworkX defaults
(alpha=0.85, tol=1e-6, max_iter=100, uniform personalization), called by
/root/reference/bluegraph/backends/networkx/analyse/metrics.py:36-41 — the
power iteration over the out-weight-normalized transition matrix with
dangling mass redistributed uniformly and L1 convergence test
``sum(|x_new - x|) < N*tol``. This module runs the *same* map as a driver
loop of DataFrame jobs, so at equal tolerance the per-vertex scores agree
with NetworkX to float noise (required: allclose 1e-6).

One deliberate divergence: a vertex whose out-weight sum is exactly 0 (all
incident weights 0) is treated as dangling; NetworkX propagates NaN there
(0/0 in ``stochastic_graph``). NaN-free is the only sane distributed choice.

Scale design:
- the normalized edge table is computed once, hash-partitioned by ``src``
  and persisted — each superstep joins it with the (much smaller) rank
  state without re-shuffling the big side;
- each superstep materializes vertex state once, through the loop's
  stats-guarded ``localCheckpoint`` (lineage cut); the L1 error and the
  next dangling sum ride that job as observed metrics. A
  ``SuperstepCheckpointer`` adds one job that writes those blocks
  (resumability, north rule) and takes the per-partition lineage from
  that write's task metrics;
- hub skew in ``groupBy(dst)`` is absorbed by map-side partial aggregation
  (sum is algebraic) plus AQE; no per-key salting is needed for an
  algebraic aggregate.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bluegraph_spark.pgframe import endpoint_ids, symmetrize_edges, vertex_ids
from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer
from bluegraph_spark.plans.loop import SuperstepLoop


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id, rank)
    iterations: int
    converged: bool
    err: float
    history: list[dict[str, Any]] = field(default_factory=list)
    # physical plan of the first superstep's state (pre-materialization)
    # plus its executed shuffle-exchange count: the plan-guard test pins the
    # loop's exchange budget (one shuffle per superstep is a load-bearing
    # property of the design)
    superstep_plan: str | None = None
    superstep_exchanges: int | None = None


def _dangling_mass():
    return F.sum(F.when(F.col("dangling"), F.col("rank")).otherwise(0.0))


def pagerank(
    edges: DataFrame,
    weight_col: str | None = None,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    directed: bool = False,
    nodes: DataFrame | None = None,
    checkpointer: SuperstepCheckpointer | None = None,
    resume: bool = False,
    partitions: int | None = None,
) -> PageRankResult:
    """PageRank over an edge DataFrame ``(src, dst[, weight_col])``.

    ``nodes``: optional (id) DataFrame including isolated vertices, its ids
    cast to the edges' id type (``pgframe.vertex_ids``); defaults to the
    endpoint set. ``tol=0`` runs exactly ``max_iter`` supersteps
    (fixed-iteration mode, used by the DuckDB differential oracle).
    ``resume=True`` continues from the checkpointer's latest complete
    superstep; the saved state ``(id, dangling, rank, delta)`` is all the
    next superstep needs (its dangling sum is re-derived from it).
    ``partitions`` pins the loop width for a fixed layout; by default it
    comes from the edge count (``SuperstepLoop.width``).

    Conf isolation: the superstep loop pins plan-time session conf (AQE off,
    ``spark.sql.shuffle.partitions=n_parts`` — the exchange-free superstep
    join depends on both), so the whole loop runs on its own
    ``newSession()`` of the caller's SparkContext (same cache, isolated
    SQLConf). The caller's session conf is never touched; queries planned
    concurrently on it from other driver threads see their own settings
    throughout.
    """
    with SuperstepLoop(edges.sparkSession, checkpointer, resume) as loop:
        if loop.converged:
            return PageRankResult(
                loop.result(loop.state.select("id", "rank")), loop.iteration,
                True, loop.record["err"], loop.history,
            )
        edges, nodes = loop.bind(edges), loop.bind(nodes)
        src, dst = "src", "dst"
        w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
        # Ids keep their native type: joins/sorts on longs are several times
        # cheaper than on strings at 10^9-vertex scale; callers with string
        # ids (e.g. co-occurrence graphs) pass string columns through.
        e = edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
        )
        if not directed:
            e = symmetrize_edges(e)

        # The raw edge expression may itself be expensive (e.g. a
        # co-occurrence self-join); cache it so sizing, out-weights, and the
        # normalized table cost exactly ONE pass over the source, then drop
        # it once the derived caches are materialized.
        e = loop.persist(e)

        # Out-weight normalization (NetworkX stochastic_graph): w_uv / Σ_v
        # w_uv. ``out`` is persisted because three consumers read it (norm,
        # the dangling flags, and — on superstep 1 — the state recompute).
        out = loop.persist(
            e.groupBy("src").agg(F.sum("w").alias("out_w"), F.count("*").alias("_deg"))
        )

        if nodes is not None:
            vertices = vertex_ids(nodes, edges)
        elif not directed:
            # Symmetrized graph: every vertex appears as a src, so the
            # (cached, already-distinct) out-weight table IS the vertex set.
            vertices = out.select(F.col("src").alias("id"))
        else:
            vertices = endpoint_ids(e)
        # Size the superstep partitioning from the measured edge count and
        # freeze the plan right there (see ``SuperstepLoop.freeze``): the
        # width is known, and every later build is an explicit repartition.
        # On the common undirected default path the vertex set IS the
        # out-weight table, so one aggregation job yields both the edge
        # count and N (saving a separate vertices.count() job).
        N = None
        if partitions:
            n_parts = int(partitions)
            if nodes is None and not directed:
                N = out.count()
        elif nodes is None and not directed:
            row = out.agg(
                F.count(F.lit(1)).alias("_n"), F.sum("_deg").alias("_m")
            ).collect()[0]
            N = int(row["_n"] or 0)
            n_parts = loop.width(int(row["_m"] or 0))
        else:
            n_edges_directed = out.agg(F.sum("_deg")).collect()[0][0] or 0
            n_parts = loop.width(int(n_edges_directed))
        loop.freeze(n_parts)
        # CSR-blocked layout (north rule), derived from the raw cache: the
        # normalized transition rows, hash-partitioned by src and sorted.
        norm = loop.persist(
            e.join(out.filter(F.col("out_w") > 0), "src")
            .select("src", "dst", (F.col("w") / F.col("out_w")).alias("p"))
            .repartition(n_parts, "src")
            .sortWithinPartitions("src")
        )
        # Dangling = no out-edges or zero out-weight sum.
        has_out = out.filter(F.col("out_w") > 0).select(
            F.col("src").alias("id"), F.lit(False).alias("dangling")
        )
        vstate0 = vertices.join(has_out, "id", "left").select(
            "id", F.coalesce("dangling", F.lit(True)).alias("dangling")
        )

        if N is None:
            N = vertices.count()
        if N == 0:
            # empty result keeps the caller's id type (vertices schema), not
            # a hardcoded string — unioning/joining against pagerank output
            # must see one type contract whether or not the graph is empty
            empty = vertices.withColumn("rank", F.lit(0.0)).select("id", "rank")
            return PageRankResult(loop.result(empty), 0, True, 0.0)

        # Aligning the loop width with the norm partitioning keeps the
        # superstep joins exchange-free.
        norm.count()
        loop.release(e)

        if loop.state is None:
            # Pin the initial state's layout to (id-hash, n_parts) so
            # superstep 1's joins are already exchange-free. The uniform
            # start's dangling sum rides its materialization job.
            loop.start(
                vstate0.withColumn("rank", F.lit(1.0 / N))
                .withColumn("delta", F.lit(0.0))
                .repartition(n_parts, "id"),
                _dangling_mass().alias("dsum"),
                fields=lambda m: {
                    "danglesum": float(m["dsum"] or 0.0), "converged": False
                },
            )
            danglesum = loop.record["danglesum"]
        else:
            danglesum = float(loop.state.agg(_dangling_mass()).first()[0] or 0.0)

        def record(m) -> dict[str, Any]:
            err = float(m["err"] or 0.0)
            return {
                "err": err,
                "danglesum": float(m["dsum"] or 0.0),
                "rows": int(m["rows"]),
                "converged": err < N * tol,
            }

        err = float("inf")
        for _ in loop.supersteps(max_iter):
            state = loop.state
            base = (1.0 - alpha) / N + alpha * danglesum / N
            # One exchange per superstep: the message shuffle inside the
            # groupBy. Both the norm join (cached side pre-partitioned and
            # pre-sorted on src) and the rank-update left join (contribs
            # and state both hash-partitioned on id with the same partition
            # count — localCheckpoint preserves output partitioning) run
            # without re-shuffling. Keeping the shuffled message rows to
            # (dst, p*rank) measures ~10% faster end-to-end than folding the
            # state through the same shuffle.
            contribs = (
                norm.join(state.select(F.col("id").alias("src"), "rank"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("p") * F.col("rank")).alias("c"))
            )
            new_rank = F.lit(alpha) * F.coalesce("c", F.lit(0.0)) + F.lit(base)
            new_state = (
                state.select("id", "dangling", F.col("rank").alias("prev"))
                .join(contribs, "id", "left")
                .select(
                    "id",
                    "dangling",
                    new_rank.alias("rank"),
                    F.abs(new_rank - F.col("prev")).alias("delta"),
                )
            )
            # L1 error + next dangling sum ride the materialization job as
            # observed metrics — no second pass over the state.
            rec = loop.step(
                new_state,
                F.sum("delta").alias("err"),
                _dangling_mass().alias("dsum"),
                F.count(F.lit(1)).alias("rows"),
                fields=record,
            )
            err, danglesum = rec["err"], rec["danglesum"]

        return PageRankResult(
            loop.result(loop.state.select("id", "rank")), loop.iteration,
            loop.converged, err, loop.history, loop.plan, loop.exchanges,
        )
