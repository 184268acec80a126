"""Connected components via alternating large-star / small-star joins.

North-rule addition (the reference has no CC operator; oracle =
``nx.connected_components`` with min-id canonical labels). Algorithm:
Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components
in MapReduce and Beyond" (SOCC'14): repeat

  large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for every neighbor v > u
  small-star(u): over the resulting downhill edges (v ≤ u), m = min(Γ(u) ∪
                 {u}); emit (x, m) for x ∈ Γ(u) ∪ {u}, x ≠ m

until the edge set is stable — O(log n) rounds, at which point the edges
form star forests: every node points at its component's minimum id. Each
round executes two clustered-cache builds (the symmetrized working set and
the large-star output, both repartitioned by their star key) plus at most
the final distinct's shuffle; the min-aggregations and redirect joins all
read the caches (see ``_cc_round`` and the plan-guard test — the unshared
formulation executed 10 shuffles per round). Ids keep their native type;
labels are the minimum id of each component under that type's ordering
(numeric for integer ids, lexicographic for strings).

Each round's edge set runs through ``SuperstepCheckpointer`` when supplied
(lineage cut + resume, north rule); otherwise ``localCheckpoint`` cuts
lineage. Convergence is detected with a (count, bit_xor(xxhash64)) signature
— order-insensitive, overflow-free under ANSI SQL (``sum(xxhash64)`` threw
ARITHMETIC_OVERFLOW on ≥2 rows with ``spark.sql.ansi.enabled=true``) — that
rides each round's materialization job as ``observe`` metrics, including the
initial one: no extra pass over the edges anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bluegraph_spark.pgframe import vertex_ids
from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer
from bluegraph_spark.plans.loop import SuperstepLoop


@dataclass
class ComponentsResult:
    components: DataFrame  # (id, component)
    rounds: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)
    # physical plan + executed shuffle count of the first round's output
    # (pre-materialization), for the exchange-budget plan-guard test
    round_plan: str | None = None
    round_exchanges: int | None = None


def _sig_cols() -> list:
    """(count, bit_xor of per-row xxhash64) — the convergence signature.

    ``bit_xor`` is order-insensitive and cannot overflow, so it is safe under
    ``spark.sql.ansi.enabled=true`` (a ``sum`` of 64-bit hashes overflows long
    on the second row). Edge sets are distinct within a round, so XOR-
    cancellation of duplicate rows cannot occur.
    """
    return [
        F.count(F.lit(1)).alias("cnt"),
        F.bit_xor(F.xxhash64("a", "b")).alias("h"),
    ]


def _sig(m) -> tuple[int, int]:
    return int(m["cnt"] or 0), int(m["h"] or 0)


def _sig_fields(m, prev: tuple[int, int] | None = None) -> dict[str, Any]:
    cnt, h = _sig(m)
    return {"edges": cnt, "hash": h, "converged": (cnt, h) == prev}


def _cc_round(
    loop: SuperstepLoop, e: DataFrame, n_parts: int
) -> tuple[DataFrame, list[DataFrame]]:
    """One large-star + small-star round with an explicit exchange budget.

    Each star's working set is repartitioned by its grouping key, sorted,
    and persisted ONCE — the min-aggregation and the redirect join then both read the
    clustered cache, so the round executes 3 shuffles (sym layout, ls
    layout, final distinct) instead of the 10 the naive plan runs when the
    unpersisted union is recomputed on both consumer branches. Skew safety
    is unchanged: min is still a partial-aggregating groupBy, never a
    whole-group window buffer. Returns (round_output, caches) — the caller
    releases the caches after materializing the output.
    """
    sym = loop.persist(
        e.select("a", "b")
        .unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition(n_parts, "a")
        .sortWithinPartitions("a")
    )
    mins = sym.groupBy("a").agg(F.min("b").alias("_mv"))
    mins = mins.select("a", F.least("_mv", F.col("a")).alias("_m"))
    ls = loop.persist(
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("_m").alias("b"))
        .repartition(n_parts, "a")
        .sortWithinPartitions("a")
    )
    mins2 = ls.groupBy("a").agg(F.min("b").alias("_m"))
    redirect = (
        ls.join(mins2, "a")
        .filter(F.col("b") != F.col("_m"))
        .select(F.col("b").alias("a"), F.col("_m").alias("b"))
    )
    out = redirect.unionByName(mins2.select("a", F.col("_m").alias("b"))).distinct()
    return out, [sym, ls]


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_rounds: int = 50,
    checkpointer: SuperstepCheckpointer | None = None,
    resume: bool = False,
) -> ComponentsResult:
    """Component labels for an undirected edge DataFrame ``(src, dst)``.

    Returns (id, component) where component = min id of the node's
    component. ``nodes`` optionally supplies isolated vertices.
    ``resume=True`` continues from the checkpointer's latest complete round
    (the convergence signature is re-derived from the saved edge set).

    Loop discipline (same as :func:`pagerank`): the shuffle width is sized
    from the measured edge count and AQE is frozen for the fixed-shape
    round plans — both pinned on the loop's own ``newSession()`` of the
    caller's SparkContext, so the caller's conf is never mutated and
    concurrent planning on it is unaffected.
    """
    with SuperstepLoop(edges.sparkSession, checkpointer, resume) as loop:
        edges, nodes = loop.bind(edges), loop.bind(nodes)
        if loop.converged:
            return ComponentsResult(
                loop.result(_component_labels(loop.state, edges, nodes)),
                loop.iteration, True, loop.history,
            )
        if loop.state is None:
            # Ids keep their native type (numeric min for longs,
            # lexicographic min for strings): every step below only needs an
            # orderable, hashable id type. The signature rides the
            # materialization job.
            loop.start(
                edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
                .filter(F.col("a") != F.col("b"))
                .distinct(),
                *_sig_cols(),
                fields=_sig_fields,
            )
            prev_sig = (loop.record["edges"], loop.record["hash"])
        else:
            prev_sig = _sig(loop.state.agg(*_sig_cols()).first())
        # On small inputs the frozen plan's win is modest (~16s -> ~11s for
        # cc_orders at sf0.1, the floor being per-stage fixed costs), but at
        # cluster scale a mis-sized width is the difference between 1 task
        # wave and thousands of empty tasks.
        n_parts = loop.width(prev_sig[0])
        loop.freeze(n_parts)
        for _ in loop.supersteps(max_rounds):
            e_round, caches = _cc_round(loop, loop.state, n_parts)
            rec = loop.step(
                e_round, *_sig_cols(), fields=lambda m: _sig_fields(m, prev_sig)
            )
            for c in caches:
                loop.release(c)
            prev_sig = (rec["edges"], rec["hash"])

        return ComponentsResult(
            loop.result(_component_labels(loop.state, edges, nodes)),
            loop.iteration, loop.converged, loop.history, loop.plan,
            loop.exchanges,
        )


def _component_labels(
    e: DataFrame, edges: DataFrame, nodes: DataFrame | None
) -> DataFrame:
    """(id, component) from the star forest ``e`` (a=child, b=root); roots
    and isolated ``nodes`` label themselves."""
    members = e.select(F.col("a").alias("id"), F.col("b").alias("component"))
    roots = e.select(F.col("b").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    comp = members.unionByName(roots)
    if nodes is not None:
        isolated = vertex_ids(nodes, edges).join(
            comp.select("id"), "id", "left_anti"
        ).withColumn("component", F.col("id"))
        comp = comp.unionByName(isolated)
    # a node can appear in members only once at convergence; distinct
    # guards the non-converged (max_rounds hit) case
    return comp.groupBy("id").agg(F.min("component").alias("component"))
