"""Graph metrics: degree, density, partition quality (modularity et al.).

Reference semantics:
- degree centrality = **raw (weighted) degree** ``dict(G.degree(weight=w))``
  — not normalized nx.degree_centrality
  (/root/reference/bluegraph/backends/networkx/analyse/metrics.py:29-34).
- modularity = ``community_louvain.modularity(partition, G, weight)``
  (/root/reference/bluegraph/backends/networkx/analyse/communities.py:121-123):
  Q = Σ_c [ e_c/m − (d_c/2m)² ] over communities, with m the total edge
  weight, e_c the intra-community weight, d_c the community degree sum —
  closed-form over the edge table, one groupBy.
- coverage = intra-community edge weight fraction
  (backends/networkx/analyse/communities.py:128-129).
- performance = fraction of node pairs classified correctly (intra pairs
  joined by an edge + inter pairs not joined)
  (backends/networkx/analyse/communities.py:125-126) — closed form from
  per-community sizes and intra-edge counts (unweighted, as in nx).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bluegraph_spark.pgframe import symmetrize_edges, vertex_ids, vertex_set
from bluegraph_spark.plans.loop import CacheScope


def degree_centrality(
    edges: DataFrame,
    weight_col: str | None = None,
    nodes: DataFrame | None = None,
    directed: bool = False,
) -> DataFrame:
    """(id, degree): weighted degree sum; undirected self-loops count twice
    (NetworkX G.degree semantics)."""
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    # ids keep their native type (consistent with pagerank/CC/LPA output,
    # so batch metric joins never mix string and numeric key types)
    e = edges.select(F.col("src"), F.col("dst"), w.alias("w"))
    # count both endpoints (self-loop contributes twice in nx undirected).
    # Single-pass explode, not a two-branch union: a union would embed —
    # and execute — the input plan twice (costly for lazy co-occurrence
    # inputs; see pgframe.symmetrize_edges).
    ends = e.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("id"), F.col("w").alias("w")),
                F.struct(F.col("dst").alias("id"), F.col("w").alias("w")),
            )
        ).alias("_x")
    ).select("_x.*")
    deg = ends.groupBy("id").agg(F.sum("w").alias("degree"))
    if nodes is not None:
        deg = vertex_ids(nodes, edges).join(deg, "id", "left").select(
            "id", F.coalesce("degree", F.lit(0.0)).alias("degree")
        )
    return deg


def density(edges: DataFrame, nodes: DataFrame | None = None, directed: bool = False) -> float:
    """m / (n(n-1)), doubled when undirected (reference core/io.py:610-615)."""
    with CacheScope() as scope:
        e = scope.persist(edges.select(F.col("src"), F.col("dst")))
        n = vertex_set(e, nodes).count()
        m = e.count()
    if n < 2:
        return 0.0
    d = m / (n * (n - 1))
    return d if directed else 2 * d


def compute_all_node_metrics(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    degree_weights: tuple[str | None, ...] = (None,),
    pagerank_weights: tuple[str | None, ...] = (),
    directed: bool = False,
    pagerank_kwargs: dict | None = None,
) -> DataFrame:
    """Batch metric driver (reference ``compute_all_node_metrics``,
    core/analyse/metrics.py:66-96): one vertex DataFrame with a column per
    requested metric/weight combination — ``degree[_<w>]`` and
    ``pagerank[_<w>]`` — instead of the reference's nested result dict.
    """
    from bluegraph_spark.operators.pagerank import pagerank as _pagerank

    def colname(metric: str, w: str | None) -> str:
        return f"{metric}_{w}" if w else metric

    out: DataFrame | None = None
    for w in degree_weights:
        d = degree_centrality(edges, weight_col=w, nodes=nodes, directed=directed)
        d = d.withColumnRenamed("degree", colname("degree", w))
        out = d if out is None else out.join(d, "id", "outer")
    for w in pagerank_weights:
        r = _pagerank(
            edges, weight_col=w, directed=directed, nodes=nodes,
            **(pagerank_kwargs or {}),
        ).ranks.withColumnRenamed("rank", colname("pagerank", w))
        out = r if out is None else out.join(r, "id", "outer")
    return out


def _edges_with_labels(edges: DataFrame, labels: DataFrame, weight_col: str | None):
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = edges.select(F.col("src"), F.col("dst"), w.alias("w"))
    id_type = dict(edges.dtypes).get("src", "string")
    lab = labels.select(
        F.col(labels.columns[0]).cast(id_type).alias("id"),
        F.col(labels.columns[1]).alias("community"),
    )
    return (
        e.join(lab.withColumnRenamed("id", "src").withColumnRenamed("community", "_cs"), "src")
        .join(lab.withColumnRenamed("id", "dst").withColumnRenamed("community", "_ct"), "dst")
    ), lab


def modularity(
    edges: DataFrame, labels: DataFrame, weight_col: str | None = None
) -> float:
    """Newman modularity of a partition over an undirected edge table.

    Self-loops follow the standard convention (count once in m, twice in
    their endpoint's degree).
    """
    el, _ = _edges_with_labels(edges, labels, weight_col)
    # Single pass: explode each edge to its two endpoint communities
    # (self-pairs twice — matching the degree convention), aggregate the
    # per-community degree sum d_c and (half the doubled) intra weight e_c
    # in one partial-aggregating groupBy, and fold the closed form
    # Q = Σ_c [e_c/m − (d_c/2m)²] with m = Σ_c d_c / 2 carried as a
    # broadcast scalar — one job, one execution of the (often expensive)
    # upstream edge expression, no persist. (The previous shape persisted
    # the labeled edge table and ran two collect jobs over it.)
    ends = el.select(
        F.explode(
            F.array(
                F.struct(F.col("_cs").alias("c"), F.col("w").alias("w"),
                         (F.col("_cs") == F.col("_ct")).alias("i")),
                F.struct(F.col("_ct").alias("c"), F.col("w").alias("w"),
                         (F.col("_cs") == F.col("_ct")).alias("i")),
            )
        ).alias("_x")
    ).select("_x.*")
    per_c = ends.groupBy("c").agg(
        F.sum("w").alias("d"),
        (F.sum(F.when(F.col("i"), F.col("w")).otherwise(0.0)) / 2.0).alias("e"),
    )
    tot = per_c.agg(F.sum("d").alias("td"))  # td = 2m
    row = (
        per_c.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                # guard the zero-total-weight graph (ANSI division) — the
                # caller returns 0.0 for td == 0 below
                F.when(
                    F.col("td") != 0.0,
                    F.col("e") / (F.col("td") / 2.0)
                    - (F.col("d") / F.col("td")) * (F.col("d") / F.col("td")),
                ).otherwise(0.0)
            ).alias("q"),
            F.max("td").alias("td"),
        )
        .collect()[0]
    )
    if not row["td"]:
        return 0.0
    return float(row["q"] or 0.0)


def coverage(edges: DataFrame, labels: DataFrame, weight_col: str | None = None) -> float:
    """Intra-community edge weight fraction."""
    el, _ = _edges_with_labels(edges, labels, weight_col)
    row = el.agg(
        F.sum("w").alias("total"),
        F.sum(F.when(F.col("_cs") == F.col("_ct"), F.col("w")).otherwise(0.0)).alias("intra"),
    ).collect()[0]
    total = float(row["total"] or 0.0)
    return (float(row["intra"] or 0.0) / total) if total else 0.0


def performance(edges: DataFrame, labels: DataFrame) -> float:
    """Fraction of correctly classified node pairs (nx quality.performance,
    unweighted): (intra-edges + inter-non-edges) / C(n,2)."""
    el, lab = _edges_with_labels(edges, labels, None)
    n = lab.count()
    if n < 2:
        return 1.0
    total_pairs = n * (n - 1) / 2
    sizes = lab.groupBy("community").agg(F.count("*").alias("s"))
    intra_pairs = float(
        sizes.agg(F.sum(F.col("s") * (F.col("s") - 1) / 2)).collect()[0][0] or 0.0
    )
    row = (
        el.filter(F.col("src") != F.col("dst"))
        .select(
            F.when(F.col("_cs") == F.col("_ct"), 1).otherwise(0).alias("i"),
            F.lit(1).alias("one"),
        )
        .agg(F.sum("i").alias("intra_e"), F.sum("one").alias("m"))
        .collect()[0]
    )
    intra_e = float(row["intra_e"] or 0.0)
    m = float(row["m"] or 0.0)
    inter_non_edges = (total_pairs - intra_pairs) - (m - intra_e)
    return (intra_e + inter_non_edges) / total_pairs
