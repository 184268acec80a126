"""Per-vertex and global triangle counting (degree-ordered closure).

North-rule addition (no reference operator; oracle = ``nx.triangles``).
Classic distributed formulation (Suri & Vassilvitskii, WWW'11 "Counting
triangles and the curse of the last reducer"): orient every undirected edge
from the endpoint with smaller (degree, id) to the larger — a total order,
so each triangle is counted exactly once as a wedge at its lowest-degree
corner closed by an oriented edge. The orientation bounds every vertex's
out-degree by O(sqrt(m)), which is precisely the hub-skew mitigation for
the wedge join.

Triangle enumeration is the *edge-iterator* variant of the same oriented
scheme: with every edge pointing low→high in the (degree, id) order, the
triangles through oriented edge (u, v) are exactly the common out-neighbors
of u and v — ``array_intersect`` of the two adjacency lists. No wedge table
is ever materialized: the only intermediates are the adjacency table
(Σ out-degrees = m entries) and the exploded intersection output, whose row
count IS the triangle count. The explicit wedge join formulation shuffles
O(Σ d_out²) = O(m^{3/2}) candidate rows before the closure check; this plan
does the same arithmetic inside a codegen'd hash intersect per edge and
shuffles nothing of that size. (Measured at sf0.1, 1.2M-edge co-occurrence
graph: 108s wedge join → ~17s edge iterator, same outputs.)

Cost discipline (the upstream ``edges`` argument is often an expensive
co-occurrence self-join):

* the canonicalized edge table is persisted ONCE and every consumer — degree
  aggregation, orientation join, vertex set — reads the cache, so the
  upstream expression appears exactly once in the physical plan;
* the oriented table is persisted and counted before enumeration, and the
  exact count size-gates a ``F.broadcast`` hint on the adjacency side: when
  the adjacency table (m entries) fits in an executor, the two
  edge↔adjacency joins are broadcast probes and the enumeration adds zero
  shuffles beyond the adjacency groupBy; above the gate they are ordinary
  equi-joins Catalyst shuffles on u / v (AQE may still convert).

Plan: one cached canonical scan → degree agg → orientation join → adjacency
groupBy → two (broadcast) adjacency joins → array_intersect explode → count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bluegraph_spark.pgframe import vertex_set
from bluegraph_spark.plans.loop import CacheScope

# Entries (= oriented edges) of the adjacency table below which it is
# broadcast into the enumeration joins. 3M string entries is tens of MB
# serialized — comfortably inside a 1-2 GiB executor broadcast budget;
# above that the joins shuffle (AQE may still convert at runtime).
BROADCAST_ADJ_MAX_ENTRIES = 3_000_000


def _canonical(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (a, b) with a <= b, deduplicated.

    Ids keep their native type — every triangle is counted exactly once
    under ANY total (degree, id) order, so the id type only changes which
    corner hosts the wedge, never the counts; long ids shuffle far cheaper
    than strings. Self-loops survive as (x, x) so the vertex set derived
    from this table matches the input graph's; the orientation step drops
    them (a self-loop is in no triangle).
    """
    return edges.select(
        F.least(F.col("src"), F.col("dst")).alias("a"),
        F.greatest(F.col("src"), F.col("dst")).alias("b"),
    ).distinct()


def _oriented(canon: DataFrame) -> DataFrame:
    """(u, v, kv) oriented low-(degree,id) → high; kv = struct(deg, id) of v."""
    e = canon.filter(F.col("a") != F.col("b"))
    deg = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    withk = (
        e.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("_da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("_db")), "b")
    )
    ka = F.struct(F.col("_da").alias("d"), F.col("a").alias("i"))
    kb = F.struct(F.col("_db").alias("d"), F.col("b").alias("i"))
    return withk.select(
        F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(ka < kb, kb).otherwise(ka).alias("kv"),
    )


def _corner_table(o: DataFrame, oriented_rows: int) -> DataFrame:
    """Edge-iterator enumeration over a persisted oriented table.

    One row (x, y, z) per triangle: (x, y) is the lowest oriented edge and
    z a common out-neighbor of both endpoints. Inner joins are correct: a
    vertex absent from the adjacency table has no out-neighbors, hence no
    common-out-neighbor triangles through any edge ending there.
    """
    adj = o.groupBy("u").agg(F.collect_list("v").alias("_nb"))
    if oriented_rows <= BROADCAST_ADJ_MAX_ENTRIES:
        adj = F.broadcast(adj)
    return (
        o.select("u", "v")
        .join(adj.select("u", F.col("_nb").alias("_nu")), "u")
        .join(adj.select(F.col("u").alias("v"), F.col("_nb").alias("_nv")), "v")
        .select(
            F.col("u").alias("x"),
            F.col("v").alias("y"),
            F.explode(F.array_intersect("_nu", "_nv")).alias("z"),
        )
    )


def _corners(scope: CacheScope, edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(canonical table, corner table) over caches ``scope`` holds.

    The canonical and oriented tables are persisted, and the oriented one
    is counted (so the upstream edge expression runs once) before the
    corner table is built. The caller must materialize whatever it returns
    before the scope exits.
    """
    canon = scope.persist(_canonical(edges))
    o = scope.persist(_oriented(canon))
    return canon, _corner_table(o, o.count())


def triangle_counts(edges: DataFrame, nodes: DataFrame | None = None) -> DataFrame:
    """Per-vertex triangle counts (id, triangles), matching nx.triangles.

    Eager: the (small, one-row-per-vertex) result is materialized via
    ``localCheckpoint`` so every intermediate cache is released before
    returning.
    """
    with CacheScope() as scope:
        canon, tri = _corners(scope, edges)
        # single-pass corner explode: a 3-branch union would run the (dominant)
        # triangle-enumeration join three times — tri is deliberately not
        # cached, so fan-out = re-execution (see pgframe.symmetrize_edges)
        corners = tri.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("id")
        )
        counts = corners.groupBy("id").agg(F.count("*").alias("triangles"))
        # vertex set from the cached canonical table (self-loops kept) — not
        # a re-evaluation of the upstream edge expression
        vertices = vertex_set(canon.toDF("src", "dst"), nodes)
        out = vertices.join(counts, "id", "left").select(
            "id", F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles")
        )
        return scope.result(scope.checkpoint(out))


def triangle_count_global(edges: DataFrame) -> int:
    """Total number of distinct triangles in the graph."""
    with CacheScope() as scope:
        return _corners(scope, edges)[1].count()
