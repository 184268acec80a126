"""Distributed Louvain community detection (deterministic, synchronous).

Reference semantics: ``community_louvain.best_partition(graph, weight=...)``
called by /root/reference/bluegraph/backends/networkx/analyse/
communities.py:78-83 — the reference production pipeline's default
community detector (/root/reference/cord19kg/utils.py:711-717). The
reference algorithm is sequential and *randomized* (node visit order is
shuffled; its own test only checks that a partition comes back,
tests/analyse/test_communities.py:96-101), so a distributed engine cannot
— and per SURVEY.md §5 should not — replay it label-for-label. The engine
spec here is the deterministic synchronous variant of the Louvain
local-move + coarsen scheme (Blondel et al. 2008, "Fast unfolding of
communities in large networks"; the parallel round structure follows the
synchronous/parity formulations used in distributed Louvain literature,
e.g. Grappolo's coloring rounds):

- every vertex starts in its own singleton community;
- each *round*, every vertex computes the modularity gain of moving into
  each neighboring community c:

    gain(i→c) = k_{i,c} − k_i · (Σtot(c) − [c = c_i]·k_i) / (2m)

  (k_{i,c} = weight from i to members of c, k_i = weighted degree,
  Σtot(c) = community degree sum, m = total edge weight) and adopts the
  best strictly-improving community, ties broken by the smallest community
  label; vertices with no strictly-better option stay;
- **parity gate**: only vertices whose parity (default
  ``pmod(xxhash64(id), 2)``) matches the round parity may move — the
  standard synchronous-Louvain defense against label swap cycles (two
  vertices exchanging communities forever), and what makes the rounds
  deterministic and engine-replayable;
- a *level* ends when two consecutive rounds move nothing (every parity
  class had a final chance) or after ``max_rounds`` rounds; the graph is
  then coarsened (communities become vertices, parallel edge weights sum,
  intra-community weight becomes a self-loop) and the next level repeats
  the local-move rounds, up to ``max_levels`` levels;
- final labels are the composed community assignment over original ids
  (community labels are always original vertex ids, at every level).

With integer-valued weights every aggregate in the gain formula is an
exactly-representable double (sums of integers), so the whole computation
is bit-deterministic across partitionings AND across engines — the
``exact_rounds`` mode (run exactly N rounds, no convergence test, one
level) is what the DuckDB differential oracle unrolls. For float weights
the result is still deterministic on a fixed engine but near-tie gain
comparisons may differ across engines (documented, like the LPA
determinism note).

Scale design (same loop discipline as pagerank/lpa): the symmetrized
edge table is repartitioned by ``dst``, sorted and persisted once per
level; level 1 takes its vertex set (``pgframe.vertex_set``, self-loop-only
vertices included) from that cache and its rounds read the cache's
loop-free view (the per-round k_{i,c} join reads the cache; the round's
shuffles are the two aggregations ``groupBy(id, c)`` / ``groupBy(c)`` and
the argmax window — all keyed on small per-vertex/per-community state, not
the edge table); AQE and the shuffle width are frozen on the loop's own
``newSession()``; every round's labels run through
``SuperstepCheckpointer`` when supplied (lineage cut + metrics), otherwise
``localCheckpoint``; the move count rides the
materialization job as an observed metric. Coarsening shrinks the edge
table geometrically, so level 2+ costs a fraction of level 1.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bluegraph_spark.pgframe import symmetrize_edges, vertex_set
from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer
from bluegraph_spark.plans.loop import SuperstepLoop


@dataclass
class LouvainResult:
    labels: DataFrame  # (id, community)
    levels: int
    rounds: int  # total local-move rounds across levels
    converged: bool  # last level's local moves reached a fixpoint
    history: list[dict[str, Any]] = field(default_factory=list)


def _default_parity(c: Column) -> Column:
    return F.pmod(F.xxhash64(c), F.lit(2))


def _local_move_rounds(
    loop: SuperstepLoop,
    sym: DataFrame,
    loops: DataFrame,
    labels: DataFrame,
    tm: float | None,
    parity_fn: Callable[[Column], Column],
    max_rounds: int,
    exact_rounds: int | None,
    level: int,
) -> tuple[DataFrame, bool]:
    """Run local-move rounds at one level; returns (labels, converged).

    ``sym``: symmetrized loop-free (src, dst, w) — the caller's cache or,
    at level 1, its loop-free view.
    ``loops``: (id, lw) self-loop weights (empty at level 1).
    ``labels``: (id, c) current assignment, ``tm``: the scalar 2m.
    """
    # Weighted degree: k_i = Σ incident non-loop w + 2·loop_w (nx G.degree
    # convention). Loop terms are constant across a vertex's community
    # choices, so they cancel out of every gain comparison — they only
    # need to be IN k_i (and hence Σtot) consistently.
    deg = loop.persist(
        labels.select("id")
        .join(
            sym.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("_kd")),
            "id",
            "left",
        )
        .join(loops.select("id", (2.0 * F.col("lw")).alias("_kl")), "id", "left")
        .select(
            "id",
            (F.coalesce("_kd", F.lit(0.0)) + F.coalesce("_kl", F.lit(0.0))).alias("k"),
        )
    )
    deg.count()

    # A level's local moves start afresh. Its initial labels are not the
    # loop's state to free: the composed assignment and the coarse graph's
    # loop weights still read them (the loop frees them on exit).
    loop.converged = False
    loop.state = None
    first = loop.iteration
    target_rounds = exact_rounds if exact_rounds is not None else max_rounds
    for it in loop.supersteps(first + target_rounds):
        rnd = it - first
        par = (rnd - 1) % 2
        # Per-round vertex state (id, c, k) — labels joined with the static
        # degree table once and reused by the community-degree aggregate
        # and the candidate c_own/k join (one fewer join per round than
        # joining deg and labels separately into cand; the kic dst-side
        # lookup keeps the narrower labels build).
        vst = labels.join(deg, "id")
        # Community degree sums under the current assignment.
        tot = vst.groupBy("c").agg(F.sum("k").alias("tot"))
        # k_{i,c} for every neighboring community, PLUS a zero row for the
        # vertex's own community so the stay-gain falls out of the same
        # relation (both engines share this exact shape — the zero rows
        # make COALESCE asymmetries impossible).
        kic = (
            sym.join(labels.select(F.col("id").alias("dst"), "c"), "dst")
            .select(F.col("src").alias("id"), "c", "w")
            .unionByName(labels.select("id", "c", F.lit(0.0).alias("w")))
            .groupBy("id", "c")
            .agg(F.sum("w").alias("kic"))
        )
        cand = (
            kic.join(
                vst.select("id", F.col("c").alias("c_own"), "k"), "id"
            )
            .join(tot, "c")
            .withColumn(
                "gain",
                F.col("kic")
                - F.col("k")
                * (
                    F.col("tot")
                    - F.when(F.col("c") == F.col("c_own"), F.col("k")).otherwise(
                        F.lit(0.0)
                    )
                )
                / F.lit(tm).cast("double"),
            )
        )
        # Single-aggregation decision under the ordering (gain DESC, is_own
        # DESC, c ASC): the first row per vertex IS the move decision — a
        # mover beats the own-community row ONLY when its gain is strictly
        # greater (own wins every tie, so "move iff strictly improving"
        # holds), and equal-gain movers break to the smallest community
        # label. Every vertex has an own row (the zero-row union above), so
        # the decision relation covers all ids and new labels need no join
        # back against the label table. Implemented as ``min_by`` over the
        # struct (-gain, not-own, c) — lexicographic struct-min is exactly
        # the window's ORDER BY, but the aggregate partially aggregates
        # map-side, so the decision shuffle carries ~V rows instead of
        # sorting the whole candidate relation through a window (measured:
        # the round wall drops ~25-30% at sf0.1). Negated-zero safety:
        # ``gain`` is never -0.0 (kic ≥ 0 and IEEE x−x = +0.0), so -gain
        # maps all zero gains to the same -0.0 and the Double.compare
        # (-0.0 < 0.0) total order never sees mixed zeros.
        dec = (
            cand.groupBy("id")
            .agg(
                F.min_by(
                    F.struct(F.col("c_own"), F.col("c")),
                    F.struct(
                        (-F.col("gain")).alias("ng"),
                        F.when(F.col("c") == F.col("c_own"), 0)
                        .otherwise(1)
                        .alias("no"),
                        F.col("c").alias("c"),
                    ),
                ).alias("_d")
            )
            .select(
                "id",
                F.col("_d.c_own").alias("c_own"),
                F.col("_d.c").alias("c_new"),
            )
        )
        moved = (
            parity_fn(F.col("id")) == F.lit(par)
        ) & (F.col("c_new") != F.col("c_own"))
        new_labels = dec.select(
            "id",
            F.when(moved, F.col("c_new")).otherwise(F.col("c_own")).alias("c"),
            F.when(moved, F.lit(True)).otherwise(F.lit(False)).alias("_moved"),
        )
        # The move count rides the materialization job. A level converges
        # when two consecutive rounds move nothing (every parity class had a
        # final chance); exact_rounds runs its rounds with no such test.
        loop.step(
            new_labels,
            F.sum(F.col("_moved").cast("long")).alias("moves"),
            F.count(F.lit(1)).alias("rows"),
            fields=lambda m: {
                "level": level,
                "round": rnd,
                "parity": par,
                "moves": int(m["moves"] or 0),
                "rows": int(m["rows"]),
                "converged": exact_rounds is None and rnd > 1 and not m["moves"]
                and loop.history[-1]["moves"] == 0,
            },
        )
        labels = loop.state.select("id", "c")
    loop.release(deg)
    # fixed-round mode ran exactly as specified
    return labels, exact_rounds is not None or loop.converged


def louvain(
    edges: DataFrame,
    weight_col: str | None = None,
    nodes: DataFrame | None = None,
    max_levels: int = 3,
    max_rounds: int = 20,
    exact_rounds: int | None = None,
    parity_fn: Callable[[Column], Column] | None = None,
    checkpointer: SuperstepCheckpointer | None = None,
) -> LouvainResult:
    """Deterministic synchronous Louvain over undirected ``(src, dst[, w])``.

    Returns (id, community) with community labels drawn from the original
    vertex ids. ``exact_rounds`` runs exactly that many local-move rounds in
    a single level with no convergence test — the fixed-iteration mode the
    DuckDB differential oracle unrolls (like ``tol=0`` for pagerank).
    ``parity_fn`` maps the id column to {0, 1}; the default hashes the id
    (``pmod(xxhash64(id), 2)``), and callers with numeric-castable string
    ids can pass e.g. ``lambda c: pmod(cast(c as long), 2)`` to keep the
    gate trivially SQL-expressible.

    Conf isolation: like :func:`pagerank`, the whole loop runs on its own
    ``newSession()`` with AQE off and the shuffle width sized to the data;
    the caller's session conf is never touched.

    ``checkpointer`` records every local-move round's labels and metrics,
    numbered across levels. There is no ``resume``: a round's labels mean
    something only together with its level's coarsened graph, self-loop
    weights and composed assignment, which no round checkpoint holds, so a
    restarted run starts again at level 1.
    """
    if parity_fn is None:
        parity_fn = _default_parity
    with SuperstepLoop(edges.sparkSession, checkpointer) as loop:
        edges, nodes = loop.bind(edges), loop.bind(nodes)
        w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
        cached = loop.edge_cache(
            symmetrize_edges(edges.select(F.col("src"), F.col("dst"), w.alias("w"))),
            "dst",
        )
        labels = loop.checkpoint(
            vertex_set(cached, nodes).select("id", F.col("id").alias("c"))
        )
        # The vertex set keeps self-loop-only vertices; the level-1 rounds
        # read the loop-free view of the cache (loops appear at level 2+).
        sym = cached.filter(F.col("src") != F.col("dst"))
        loops = labels.select("id", F.lit(0.0).alias("lw")).limit(0)

        levels_run = 0
        converged = False
        # Composed original-id -> community mapping across levels.
        assignment = labels
        cur_sym, cur_loops = sym, loops
        for level in range(1, max_levels + 1):
            levels_run = level
            # 2m is loop-invariant within a level: one scalar collect per
            # level (m = Σ undirected w; the symmetrized table counts each
            # edge twice, so tm = 2m = Σ sym, plus 2·lw per loop at level
            # 2+). As a broadcast 1-row relation it was re-collected —
            # re-aggregating the sym cache — by EVERY round's decision query;
            # F.lit reproduces the identical double in the gain expression.
            tm_row = (
                cur_sym.agg(F.sum("w").alias("_s"))
                .crossJoin(
                    cur_loops.agg(F.coalesce(F.sum("lw"), F.lit(0.0)).alias("_l"))
                )
                .select((F.col("_s") + 2.0 * F.col("_l")).alias("tm"))
                .first()
            )
            # None stays None: a NULL 2m (empty graph) must keep yielding
            # NULL gains, exactly as the former 1-row broadcast column did.
            tm = float(tm_row["tm"]) if tm_row["tm"] is not None else None
            lab0 = (
                assignment.select(F.col("c").alias("id")).distinct()
                .select("id", F.col("id").alias("c"))
                if level > 1
                else labels
            )
            lab, converged = _local_move_rounds(
                loop, cur_sym, cur_loops, lab0, tm, parity_fn, max_rounds,
                exact_rounds, level,
            )
            if level > 1:
                # compose: original -> old community -> new community
                assignment = loop.checkpoint(
                    assignment.select("id", F.col("c").alias("_oc"))
                    .join(lab.select(F.col("id").alias("_oc"), "c"), "_oc")
                    .select("id", "c")
                )
            else:
                assignment = lab
            if exact_rounds is not None or level == max_levels:
                break
            # Coarsen: communities become vertices; cross-community weights
            # sum into parallel-edge weights, intra-community weight becomes
            # a self-loop (each undirected edge once: src < dst on the
            # coarse ids keeps the canonical form).
            mapped = (
                cur_sym.join(
                    lab.select(F.col("id").alias("src"), F.col("c").alias("cs")), "src"
                )
                .join(
                    lab.select(F.col("id").alias("dst"), F.col("c").alias("cd")), "dst"
                )
                .select("cs", "cd", "w")
            )
            new_sym = loop.persist(
                mapped.filter(F.col("cs") != F.col("cd"))
                .groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
                .agg(F.sum("w").alias("w"))
            )
            # intra weight: mapped counts each undirected edge twice
            old_loops_mapped = cur_loops.join(
                lab.select(F.col("id").alias("_i"), "c"),
                cur_loops["id"] == F.col("_i"),
            ).select(F.col("c").alias("id"), "lw")
            new_loops = (
                mapped.filter(F.col("cs") == F.col("cd"))
                .groupBy(F.col("cs").alias("id"))
                .agg((F.sum("w") / 2.0).alias("lw"))
                .unionByName(old_loops_mapped)
                .groupBy("id")
                .agg(F.sum("lw").alias("lw"))
            )
            n_coarse_edges = new_sym.count()
            if cur_sym is not sym:
                loop.release(cur_sym)
            cur_sym, cur_loops = new_sym, new_loops
            if n_coarse_edges == 0:
                break

        out = assignment.select("id", F.col("c").alias("community"))
        return LouvainResult(
            loop.result(out), levels_run, loop.iteration, converged, loop.history,
        )
