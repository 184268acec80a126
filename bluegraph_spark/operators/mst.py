"""Minimum spanning forest via distributed Borůvka rounds.

Reference semantics: ``PathFinder.minimum_spanning_tree(distance)`` =
``nx.minimum_spanning_tree(graph, weight=distance)``
(/root/reference/bluegraph/backends/networkx/analyse/paths.py:100-131),
used by the reference production pipeline to reduce graphs for
visualization (/root/reference/cord19kg/utils.py:724-727). NetworkX's
Kruskal breaks weight ties by edge iteration order (non-deterministic for
a distributed engine); the engine spec totally orders edges by
``(weight, src, dst)``, under which the minimum spanning forest is UNIQUE
— so the output is deterministic, engine-independent, and differentially
testable against an independent Kruskal implementation.

Algorithm (Borůvka, the textbook distributed MST): every component picks
its minimum incident cross-component edge under the total order (a
``min`` over an edge struct — partial-aggregating groupBy, skew-safe);
the picked edges join components pairwise-or-more, so components at least
halve every round (≤ log2(V) rounds). Component contraction is inline
pointer jumping over the min-edge pointer graph (which, under a total
edge order, has exactly one 2-cycle per merged cluster and no longer
cycles — see the in-code proof sketch): O(log depth) self-joins of a
mapping table bounded by the component count, much cheaper than invoking
the full CC operator per round.

Component labels live ON the surviving edge rows (``cu``/``cv``), not in
a separate vertex→component table: each round relabels the (monotonically
shrinking) cross-edge set through the round's root mapping — whose size
is bounded by the OFFERING component count, which halves geometrically —
and drops the edges that became intra-component in the same projection.
The earlier formulation kept an O(V) ``comp`` table and paid, per round,
two O(E)⋈O(V) label joins to rebuild the cross set plus an O(V) comp
update checkpoint; the edge-resident form replaces all three with one
O(E_cross)⋈O(mapping) relabel job — one fewer checkpoint job per round
at suite scale, strictly fewer shuffled bytes at cluster scale (no O(V)
relation is ever touched after init).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from bluegraph_spark.plans.loop import SuperstepLoop


@dataclass
class MSTResult:
    tree_edges: DataFrame  # (src, dst, weight) — the forest's edges
    rounds: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def minimum_spanning_forest(
    edges: DataFrame,
    weight_col: str = "weight",
    max_rounds: int = 40,
) -> MSTResult:
    """Minimum spanning forest of undirected ``(src, dst, weight)``.

    Ties broken by the ``(weight, src, dst)`` total order (canonical
    src < dst form), making the forest unique hence deterministic.
    Parallel edges keep their minimum weight; self-loops are dropped
    (never in an MST).

    Each Borůvka round is one ``SuperstepLoop`` superstep whose state is
    the cross-edge set; its record carries ``cross_edges`` (the cross
    edges left after the round) and ``offering_components``, and the loop
    converges once no cross edge is left. ``rounds`` counts the rounds
    run: 0 for an input with no edge between distinct vertices.

    No ``checkpointer``/``resume``: a round's state is the cross-edge set
    plus every earlier round's chosen edges (the forest so far), and a run
    is at most log2(V) rounds of small jobs, so rerunning costs less than
    writing both out every round.
    """
    with SuperstepLoop(edges.sparkSession) as loop:
        edges = loop.bind(edges)
        w = F.col(weight_col).cast("double")
        # canonical undirected form, min weight per parallel pair
        canon = (
            edges.select(
                F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"),
                w.alias("w"),
            )
            .filter(F.col("u") != F.col("v"))
            .groupBy("u", "v")
            .agg(F.min("w").alias("w"))
        )
        # The state holds ONLY cross-component edges with current labels
        # (invariant: cu != cv on every row — round 1 starts from singleton
        # components cu = u, cv = v on the self-loop-free canon table; each
        # relabel job below filters newly-intra rows out), so the cross-edge
        # count needs no separate job: it rides each state's materialization.
        n_cross = F.count(F.lit(1)).alias("n")

        def cross_fields(m, **extra):
            n = int(m["n"])
            return {"cross_edges": n, **extra, "converged": n == 0}

        loop.start(
            canon.select("u", "v", "w", F.col("u").alias("cu"), F.col("v").alias("cv")),
            n_cross,
            fields=cross_fields,
        )
        # Size the loop's shuffle width to the data (the round tables are the
        # edge set and the root mapping — at suite scale a 32-wide shuffle of
        # a 1000-row mapping is ~10 empty tasks per stage, and a Borůvka round
        # runs ~4 small jobs; the width pin lands on the loop's own session).
        # Same loop discipline as pagerank/cc/lpa/louvain: the round plans are
        # fixed-shape over known-size checkpointed state, so AQE's per-stage
        # re-planning only splits each round's one checkpoint job into
        # several stage-jobs (measured: ~20 jobs/round with AQE on vs ~4
        # without, identical output) — freeze it on the loop's own session.
        loop.freeze(loop.width(loop.record["cross_edges"]))

        forest_parts: list[DataFrame] = []
        for rnd in loop.supersteps(max_rounds):
            rem = loop.state
            # every component's minimum incident edge under (w, u, v); struct
            # min gives the total-order tie-break in one partial aggregation.
            # Explode both endpoints in one pass (a union would re-execute the
            # rem scan twice — see pgframe.symmetrize_edges).
            edge_struct = F.struct(
                F.col("w"), F.col("u"), F.col("v"), F.col("cu"), F.col("cv")
            )
            offers = rem.select(
                F.explode(F.array(F.col("cu"), F.col("cv"))).alias("c"),
                edge_struct.alias("e"),
            )
            obs_sel = Observation(f"mst_sel_{rnd}_{time.time_ns()}")
            sel = loop.checkpoint(
                offers.groupBy("c")
                .agg(F.min("e").alias("e"))
                .observe(obs_sel, F.count(F.lit(1)).alias("n"))
            )
            n_offering = int(obs_sel.get["n"] or 0)
            # lazy over the sel checkpoint; deduped when the forest is assembled
            forest_parts.append(sel.select("e.u", "e.v", "e.w").distinct())
            # Contract via pointer jumping on the min-edge functional graph:
            # each active component points at the component across its chosen
            # edge. Under a total edge order this pointer graph has exactly one
            # 2-cycle per merged cluster (the cluster's globally minimal edge
            # is chosen by BOTH endpoints; any longer cycle would need every
            # edge to be lighter than the next around it) and no other cycles,
            # so rooting the 2-cycle at its smaller id and squaring the pointer
            # table O(log depth) times canonicalizes every cluster — a few
            # joins over the (tiny, ≤ #components) mapping table per round,
            # instead of a full connected-components invocation (which cost
            # more than the rest of the round put together at suite scale).
            ptr = sel.select(
                "c",
                F.when(F.col("e.cu") == F.col("c"), F.col("e.cv"))
                .otherwise(F.col("e.cu"))
                .alias("t"),
            )
            two = ptr.select(F.col("c").alias("t"), F.col("t").alias("tt"))
            parent = ptr.join(two, "t", "left").select(
                "c",
                F.when(
                    (F.col("tt") == F.col("c")) & (F.col("c") < F.col("t")),
                    F.col("c"),
                )
                .otherwise(F.col("t"))
                .alias("p"),
            )

            def _square(rel: DataFrame) -> DataFrame:
                gp = rel.select(F.col("c").alias("p"), F.col("p").alias("gp"))
                return rel.join(gp, "p", "left").select(
                    "c", F.coalesce("gp", "p").alias("p")
                )

            # Three squarings per materialized job (the pointer table is tiny —
            # bounded by the live component count — so at suite scale the
            # per-job floor dominates, and piling joins inside one job to cut
            # the job count is a straight win; the extra joins read the
            # round's sel checkpoint, nothing upstream re-executes). One job
            # therefore covers pointer-chain depth 8, which roots nearly every
            # real round in a single jump job (two squarings left typical
            # rounds needing a second confirmation job). The first job also
            # folds the 2-cycle rooting join in. Exit when the LAST squaring
            # changed nothing: g == its predecessor means the mapping is
            # idempotent under jumping, i.e. fully rooted — and g is what we
            # keep.
            parent_cp: DataFrame | None = None
            for _ in range(22):  # ≥ log8 of any cluster chain; loop exits early
                g1 = _square(_square(parent))
                g1b = g1.select(F.col("c").alias("p"), F.col("p").alias("gp"))
                g2 = g1.join(g1b, "p", "left").select(
                    "c",
                    F.coalesce("gp", "p").alias("p"),
                    (F.coalesce("gp", "p") != F.col("p")).alias("_ch"),
                )
                obs = Observation(f"mst_jump_{rnd}_{time.time_ns()}")
                g2 = g2.observe(obs, F.sum(F.col("_ch").cast("long")).alias("ch"))
                g2 = loop.checkpoint(g2)
                changed = int(obs.get["ch"] or 0)
                loop.release(parent_cp)
                parent_cp = g2
                parent = g2.select("c", "p")
                if changed == 0:
                    break
            # Relabel the surviving edges through the round's root mapping and
            # drop the rows the contraction made intra-component, in ONE
            # checkpointed job (the mapping is bounded by the offering
            # component count; every offering label has a mapping row, and
            # labels of non-offering components are unmapped — the left join +
            # coalesce keeps them, exactly the old comp-table semantics). The
            # new cross-edge set is the next state; the step frees ``rem``.
            loop.step(
                rem.join(
                    parent.select(F.col("c").alias("cu"), F.col("p").alias("_pu")),
                    "cu",
                    "left",
                )
                .join(
                    parent.select(F.col("c").alias("cv"), F.col("p").alias("_pv")),
                    "cv",
                    "left",
                )
                .select(
                    "u",
                    "v",
                    "w",
                    F.coalesce("_pu", "cu").alias("cu"),
                    F.coalesce("_pv", "cv").alias("cv"),
                )
                .filter(F.col("cu") != F.col("cv")),
                n_cross,
                fields=lambda m: cross_fields(m, offering_components=n_offering),
            )
            loop.release(parent_cp)

        if forest_parts:
            out = forest_parts[0]
            for p in forest_parts[1:]:
                out = out.unionByName(p)
            out = out.distinct()
        else:
            out = loop.state.limit(0)
        out = out.select(
            F.col("u").alias("src"), F.col("v").alias("dst"), F.col("w").alias("weight")
        )
        return MSTResult(loop.result(out), loop.iteration, loop.converged, loop.history)
