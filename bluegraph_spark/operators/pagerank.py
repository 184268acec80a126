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

Scale design (one job per superstep, two before the loop plus the sizing
count when ``partitions`` is unset):
- the vertex state ``(id, dangling)`` is ``pgframe.vertex_set`` over the
  raw edge cache: one aggregation over the edge endpoints (self-loop-only
  vertices included), hash-partitioned on id at the loop width; N and the
  dangling count ride that job as observed metrics;
- the normalized edge table is built in one job: the edges repartitioned
  by ``src``, joined co-partitioned with their out-weight sums, cached
  sorted on ``src`` — each superstep joins it with the (much smaller) rank
  state without re-shuffling the big side;
- both state joins are hinted ``merge``: the state fits under
  ``autoBroadcastJoinThreshold``, and a broadcast would cost every
  superstep a second job that re-ships the O(V) state;
- each superstep materializes vertex state once, through the loop's
  stats-guarded ``localCheckpoint`` (lineage cut); the L1 error and the
  next dangling sum ride that job as observed metrics. A
  ``SuperstepCheckpointer`` adds one job that writes those blocks
  (resumability, north rule) while the next superstep computes, and takes
  the per-partition lineage from that write's task metrics; the call
  returns only once the last superstep's write is on storage;
- hub skew in ``groupBy(dst)`` and in the out-weight ``groupBy(src)`` is
  absorbed by map-side partial aggregation (sum is algebraic: a hub costs
  one partial row per map task); AQE is off inside the loop, so nothing
  splits a hub's partition, and no per-key salting is needed.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bluegraph_spark.pgframe import symmetrize_edges, vertex_set
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

    ``nodes``: optional (id) DataFrame; the vertex set is then exactly its
    ids, cast to the edges' id type (``pgframe.vertex_set``): listed
    isolated vertices are dangling, unlisted endpoints are dropped.
    Defaults to the endpoint set. ``tol=0`` runs exactly ``max_iter``
    supersteps (fixed-iteration mode, used by the DuckDB differential
    oracle).
    ``resume=True`` continues from the checkpointer's latest complete
    superstep; the saved state ``(id, dangling, rank, delta)`` — at
    iteration 0 just ``(id, dangling)``, every rank being 1/N — is all the
    next superstep needs (N and its dangling sum are re-derived from it).
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
        # co-occurrence self-join); cache it so the sizing count, the
        # vertex-state aggregation and the CSR build cost ONE pass over the
        # source, then drop it once both are materialized.
        e = loop.persist(e)
        loop.freeze(int(partitions) if partitions else loop.width(e.count()))

        if loop.state is None:
            # dangling: no out-edges or a zero out-weight sum (NULL weights
            # count as absent)
            dangling = ~F.coalesce(F.sum("w") > 0, F.lit(False))
            loop.start(
                vertex_set(e, nodes, dangling.alias("dangling")),
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("dangling").cast("long")).alias("nd"),
                fields=lambda m: {
                    "rows": int(m["rows"]),
                    "danglesum": int(m["nd"] or 0) / max(int(m["rows"]), 1),
                    "converged": False,
                },
            )
            N, danglesum = loop.record["rows"], loop.record["danglesum"]
        elif "rank" not in loop.state.columns:
            # resumed at iteration 0: every rank is still 1/N
            N, nd = loop.state.agg(
                F.count(F.lit(1)), F.sum(F.col("dangling").cast("long"))
            ).first()
            danglesum = (nd or 0) / max(N, 1)
        else:
            N, danglesum = loop.state.agg(F.count(F.lit(1)), _dangling_mass()).first()
            danglesum = float(danglesum or 0.0)
        if N == 0:
            # empty result keeps the caller's id type (the state's schema),
            # not a hardcoded string — unioning/joining against pagerank
            # output must see one type contract whether or not the graph is
            # empty
            empty = loop.state.select("id", F.lit(0.0).alias("rank"))
            return PageRankResult(loop.result(empty), 0, True, 0.0)

        # Out-weight normalization (NetworkX stochastic_graph): w_uv / Σ_v
        # w_uv. CSR-blocked layout (north rule), one job over the raw cache:
        # the edges repartitioned by src, joined co-partitioned with their
        # out-weight sums (a groupBy, partially aggregated before its
        # shuffle to the same hash layout), so the normalized transition
        # rows come out hash-partitioned and sorted on src. An aggregate,
        # not a window over src: a hub costs one partial-sum row per map
        # task, not a buffered partition.
        out = e.groupBy("src").agg(F.sum("w").alias("out_w"))
        norm = loop.persist(
            e.repartition(loop.n_parts, "src")
            .join(out.filter(F.col("out_w") > 0).hint("merge"), "src")
            .select("src", "dst", (F.col("w") / F.col("out_w")).alias("p"))
            .sortWithinPartitions("src")
        )
        norm.count()
        loop.release(e)

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
            if "rank" not in state.columns:  # iteration 0, fresh or resumed
                state = state.withColumn("rank", F.lit(1.0 / N))
            base = (1.0 - alpha) / N + alpha * danglesum / N
            # One exchange per superstep: the message shuffle inside the
            # groupBy. Both the norm join (cached side pre-partitioned and
            # pre-sorted on src) and the rank-update left join (contribs
            # and state both hash-partitioned on id with the same partition
            # count — localCheckpoint preserves output partitioning) run
            # without re-shuffling, as merge joins: the state fits under
            # autoBroadcastJoinThreshold, and broadcasting it would add a
            # job to every superstep. Keeping the shuffled message rows to
            # (dst, p*rank) measures ~10% faster end-to-end than folding the
            # state through the same shuffle.
            contribs = (
                norm.join(
                    state.select(F.col("id").alias("src"), "rank").hint("merge"),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("p") * F.col("rank")).alias("c"))
            )
            new_rank = F.lit(alpha) * F.coalesce("c", F.lit(0.0)) + F.lit(base)
            new_state = (
                state.select("id", "dangling", F.col("rank").alias("prev"))
                .join(contribs.hint("merge"), "id", "left")
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
