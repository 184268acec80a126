"""Synchronous, deterministic label propagation (community detection).

Reference semantics: ``asyn_lpa_communities(G, weight=...)`` called by
/root/reference/bluegraph/backends/networkx/analyse/communities.py:116-119.
The reference algorithm is asynchronous and *randomized* (ties and visit
order break randomly; its own test only asserts ≥1 community,
tests/analyse/test_communities.py:112-114), so a distributed engine cannot
— and per SURVEY.md §5 should not — replay it. The engine spec here is the
deterministic synchronous variant:

- every vertex starts with its own id as label;
- each superstep, every vertex adopts the label with the largest incident
  weight sum among its neighbors' *previous* labels, ties broken by the
  smallest label; vertices with no neighbors keep their label;
- stop when no label changes (fixpoint) or after ``max_iter`` supersteps
  (synchronous LPA can 2-cycle on bipartite-ish structures; the cap is the
  standard remedy).

The matching pure-Python oracle lives in the test suite; exact equality of
labels is asserted at convergence (north rule).

Superstep plan (same scale design as pagerank.py): the symmetrized edge
table, self-loops included, is CSR-blocked (hash-partitioned by src,
sorted, cached) and the vertex set is ``pgframe.vertex_set`` over that
cache, so a self-loop-only vertex keeps its own label and the label state
comes out of one aggregation hash-partitioned on id; the per-superstep
label join reads the loop-free view of the cache and re-shuffles only the
small label state; both state joins are hinted ``merge``, so the label
state, small enough for ``autoBroadcastJoinThreshold``, never goes out as
an extra broadcast job per superstep; the weighted-majority argmax is a
``min_by`` over (-weight, label) — struct ordering gives the max-weight /
min-label tie-break in one aggregation, no window; the change count rides
the checkpoint materialization as an observed metric; AQE and the shuffle
width are frozen inside the loop.
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
class LPAResult:
    labels: DataFrame  # (id, label)
    iterations: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)
    # physical plan of the first superstep (pre-materialization) + its
    # executed shuffle-exchange count for the plan-guard test
    superstep_plan: str | None = None
    superstep_exchanges: int | None = None


def label_propagation(
    edges: DataFrame,
    weight_col: str | None = None,
    max_iter: int = 20,
    nodes: DataFrame | None = None,
    checkpointer: SuperstepCheckpointer | None = None,
    resume: bool = False,
) -> LPAResult:
    """Deterministic synchronous LPA over undirected ``(src, dst[, w])``.

    ``resume=True`` continues from the checkpointer's latest complete
    superstep. Conf isolation: like :func:`pagerank`, the superstep loop
    pins AQE off and the shuffle width — on its own ``newSession()`` of the
    caller's SparkContext, so the caller's conf is never mutated.
    """
    with SuperstepLoop(edges.sparkSession, checkpointer, resume) as loop:
        if loop.converged:
            return LPAResult(
                loop.result(loop.state.select("id", "label")), loop.iteration,
                True, loop.history,
            )
        edges, nodes = loop.bind(edges), loop.bind(nodes)
        w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
        # Ids (and therefore labels) keep their native type; the min-label
        # tie-break uses that type's ordering (numeric for ints,
        # lexicographic for strings).
        # Self-loops stay in the cache, so their vertices stay in the vertex
        # set; only the score join drops them.
        e = loop.edge_cache(
            symmetrize_edges(
                edges.select(
                    F.col("src").alias("src"),
                    F.col("dst").alias("dst"),
                    w.alias("w"),
                )
            ),
            "src",
        )

        if loop.state is None:
            # One column: label = id is added below, above the checkpoint;
            # checkpointing (id, id AS label) lets the optimizer express the
            # captured partitioning through the alias instead of id.
            loop.start(vertex_set(e, nodes))
        labels = loop.state
        if "label" not in labels.columns:  # iteration 0, fresh or resumed
            labels = labels.withColumn("label", F.col("id"))

        for _ in loop.supersteps(max_iter):
            scores = (
                e.filter(F.col("src") != F.col("dst"))
                .join(
                    labels.select(F.col("id").alias("src"), "label").hint("merge"),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"), "label")
                .agg(F.sum("w").alias("s"))
            )
            # argmax by (weight desc, label asc) without a window: struct
            # ordering is lexicographic, so min over (-s, label) picks the
            # heaviest label with the smallest-label tie-break.
            best = scores.groupBy("id").agg(
                F.min_by(
                    "label", F.struct((-F.col("s")).alias("ns"), F.col("label"))
                ).alias("_new")
            )
            new_labels = labels.join(best.hint("merge"), "id", "left").select(
                "id",
                F.coalesce("_new", "label").alias("label"),
                (F.coalesce("_new", "label") != F.col("label")).alias("_changed"),
            )
            # the change count rides the materialization job
            loop.step(
                new_labels,
                F.sum(F.col("_changed").cast("long")).alias("changes"),
                F.count(F.lit(1)).alias("rows"),
                fields=lambda m: {
                    "changes": int(m["changes"] or 0),
                    "rows": int(m["rows"]),
                    "converged": not m["changes"],
                },
            )
            labels = loop.state

        return LPAResult(
            loop.result(labels.select("id", "label")), loop.iteration,
            loop.converged, loop.history, loop.plan, loop.exchanges,
        )
