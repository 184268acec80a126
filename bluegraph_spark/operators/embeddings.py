"""Node embeddings, Spark-first: FastRP (very sparse random projection).

Reference surface: BlueGraph ships transductive node embedders behind
``GraphElementEmbedder`` (/root/reference/bluegraph/core/embed/embedders.py:49-247)
with backend models (node2vec, attri2vec, GraphSAGE via StellarGraph/gensim
— /root/reference/bluegraph/backends/stellargraph/embed/embedders.py). Those
models are stochastic single-node trainers; a faithful port would be neither
distributed nor reproducible. This engine instead provides **FastRP** (Chen,
Sultan, Tian, Perozzi, Skiena — "Fast and Accurate Network Embeddings via
Very Sparse Random Projection", CIKM 2019; the same algorithm Neo4j GDS
ships as its default embedder), which covers the reference's transductive
node-embedding use case (features for ``EdgePredictor`` /
``NodeClassifier``, similarity search) with three properties the reference
models lack:

- **Deterministic**: the projection matrix is a seeded hash of
  (node id, dimension) — same (graph, seed) ⇒ bit-identical embeddings on
  any cluster size, any partitioning.
- **Distributed**: every step is a DataFrame join/aggregation; per
  iteration the (V × d) embedding table shuffles twice (join on ``src``,
  aggregate on ``dst``) while the edge table can stay put — the standard
  message-passing shape shared with this engine's PageRank.
- **Oracle-able**: the arithmetic is expressible in ANSI SQL (the hash is
  the proven-portable md5 construction from linkpred.py), so the
  differential DuckDB gate covers it hash-exact, which no sampled-walk
  embedder can offer.

Algorithm (GDS-style mean-aggregation variant):

1. ``e_0[v][j]`` ∈ {+1, −1, 0} with P = {1/6, 1/6, 2/3} (very sparse
   projection, s = 3; the √s scale factor is dropped because every
   iteration is L2-normalized, which absorbs any global scale), decided by
   ``portable_hash(seed, v ∥ j) mod 6``; then L2-normalized per node.
2. ``e_k = round(normalize(mean_{u ∈ N(v)} w_uv · e_{k-1}[u]), 12)`` — the
   weighted mean over in-neighbors (after symmetrization for undirected
   graphs), L2-normalized per node. Zero-degree nodes keep zero vectors.
3. ``final = Σ_k iteration_weights[k] · e_k``, accumulated in the
   iteration state as each ``e_k`` is made.

The per-iteration **round to 12 decimals is part of the algorithm's
contract**, not a display choice: it quantizes away the ≤ ~1e-14
floating-point summation-order differences between engines (Spark partial
aggregation vs DuckDB serial sums), so the fixpoint is identical
cross-engine and across cluster sizes. Each iteration is a
``SuperstepLoop`` superstep, materialized once as a stats-guarded
``localCheckpoint``: the loop never compounds plan statistics (the
round-4 BigInteger driver cliff), and each superseded state is freed as
soon as its successor is materialized.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bluegraph_spark.operators.linkpred import QUANTUM, portable_hash
from bluegraph_spark.pgframe import symmetrize_edges, vertex_set
from bluegraph_spark.plans.loop import SuperstepLoop


def _l2_normalize(df: DataFrame) -> DataFrame:
    """Per-node L2 normalization of the ``emb`` array, quantized.

    ``sqrt`` and the divide are IEEE-exact given their inputs, so the only
    cross-engine hazard is the sum of squares — one fold over ≤ d ≈ 64
    terms, far inside the quantization guard band.
    """
    norm = F.sqrt(
        F.aggregate("emb", F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return df.withColumn(
        "emb",
        F.when(
            norm > 0.0,
            F.transform("emb", lambda x: F.round(x / norm, QUANTUM)),
        ).otherwise(F.col("emb")),
    )


def _init_embedding(nodes: DataFrame, dim: int, seed: int | str) -> DataFrame:
    """Very sparse random projection row per node, from the portable hash."""

    def sign(j: Column) -> Column:
        h = portable_hash(
            seed, F.concat_ws(":", F.col("id"), j.cast("string"))
        )
        bucket = h % 6
        return (
            F.when(bucket == 0, F.lit(1.0))
            .when(bucket == 1, F.lit(-1.0))
            .otherwise(F.lit(0.0))
        )

    return nodes.select(
        "id",
        F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), sign).alias("emb"),
    )


def fastrp_embeddings(
    edges: DataFrame,
    dim: int = 16,
    iteration_weights: Sequence[float] = (1.0, 1.0),
    weight_col: str | None = None,
    seed: int | str = 42,
    directed: bool = False,
) -> DataFrame:
    """FastRP node embeddings; returns ``(id string, emb array<double>)``.

    ``iteration_weights`` — one weight per propagation iteration (the
    initial projection ``e_0`` itself carries no weight, matching the
    common FastRP configuration that zeroes the first-order term); the
    final embedding is the weighted sum of the L2-normalized iteration
    states. See the module docstring for the full contract.

    Scale shape: the edge table is repartitioned on ``src`` ONCE and
    persisted — it never moves again; each of the K iterations shuffles
    only the (V × d) vertex state (join on ``src``, aggregate on ``dst``).
    At 10^12 edges / 10^9 vertices, K·2 vertex-state exchanges of ~d·8
    bytes/vertex is the floor for any propagation embedder; the d
    per-element sums are plain codegen aggregates (no UDF anywhere).

    Each iteration is one ``SuperstepLoop`` superstep whose state is
    ``(id, emb, acc)``: ``emb`` is ``e_k`` and ``acc`` the weighted sum of
    ``e_1..e_k``, so only the current iteration's state is held and the
    result reads the last one.

    No ``checkpointer``/``resume``: a run is K (2-4) fixed iterations of
    one aggregation each, so a restart recomputes them at about the cost
    of writing every state out and reading it back.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    if not iteration_weights:
        raise ValueError("need at least one iteration weight")

    # Same loop discipline as the superstep operators (pagerank/lpa/...):
    # a private conf-isolated session, the CSR edge cache sized to the data,
    # and AQE frozen once the fixed-shape iteration plans start — the K
    # iteration states otherwise each fan out into several adaptive
    # stage-jobs. The per-element QUANTUM rounding already makes the
    # embeddings partitioning-independent (test-pinned), so the re-layout
    # cannot change values.
    with SuperstepLoop(edges.sparkSession) as loop:
        edges = loop.bind(edges)
        e0 = edges.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
            (
                F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
            ).alias("w"),
        )
        if not directed:
            e0 = symmetrize_edges(e0)
        e = loop.edge_cache(e0, "src")

        # iteration 0: the projection, one row per vertex (zero-degree
        # vertices included: every iteration's left join keeps them)
        loop.start(_l2_normalize(_init_embedding(vertex_set(e), dim, seed)))
        zeros = F.array(*[F.lit(0.0)] * dim)
        for k in loop.supersteps(len(iteration_weights)):
            cur = loop.state
            w_k = F.lit(float(iteration_weights[k - 1]))
            sums = (
                e.join(cur.select(F.col("id").alias("src"), "emb"), "src")
                .groupBy("dst")
                .agg(
                    *[
                        F.sum(F.col("emb")[i] * F.col("w")).alias(f"_s{i}")
                        for i in range(dim)
                    ],
                    F.sum("w").alias("_wsum"),
                )
                .select(
                    F.col("dst").alias("id"),
                    F.array(
                        *[F.col(f"_s{i}") / F.col("_wsum") for i in range(dim)]
                    ).alias("emb"),
                )
            )
            nxt = _l2_normalize(
                cur.drop("emb")
                .join(sums, "id", "left")
                .withColumn("emb", F.coalesce("emb", zeros))
            )
            # the weighted sum so far: e_1·w_k at k = 1, then acc + e_k·w_k
            acc = (
                F.transform("emb", lambda x: x * w_k)
                if k == 1
                else F.zip_with("acc", "emb", lambda a, b: a + b * w_k)
            )
            loop.step(nxt.select("id", "emb", acc.alias("acc")))
        return loop.result(loop.state.select("id", F.col("acc").alias("emb")))


def fastrp_embeddings_long(
    edges: DataFrame,
    dim: int = 16,
    **kwargs,
) -> DataFrame:
    """FastRP in long form ``(id, dim int, value double)`` — the
    SQL-comparable shape used by the differential oracle and by consumers
    that want one column per scalar (e.g. a pivot into a feature matrix)."""
    emb = fastrp_embeddings(edges, dim=dim, **kwargs)
    return emb.select(
        "id", F.posexplode("emb").alias("dim", "value")
    ).select("id", F.col("dim").cast("int").alias("dim"), "value")
