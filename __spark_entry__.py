"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator of the bluegraph_spark engine run
over graphs/tables derived deterministically from the driver's parquet
tables; ``oracle_sql()`` holds the equivalent DuckDB SQL (iterative
algorithms are unrolled to a fixed superstep count so they stay
SQL-expressible — the engine runs the same fixed iteration count via
``tol=0`` / ``max_iter``).

Graph derivations (all from the star schema, mirroring the reference's
terms-co-occur-in-papers semantics, SURVEY.md §2.4):
- part graph: parts co-occur when ordered together (node=l_partkey,
  factor=l_orderkey);
- supplier graph: suppliers co-occur when supplying the same part;
- order chain graph: consecutive orders of one customer form a path.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

ALPHA = 0.85
PR_ITERS = 5
LPA_ITERS = 3


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _part_occ(spark, sf_dir):
    from bluegraph_spark.operators.cooccurrence import occurrences_from_edges

    return occurrences_from_edges(
        _t(spark, sf_dir, "lineitem"), src_col="l_partkey", dst_col="l_orderkey"
    )


def _part_edges(spark, sf_dir, statistics=("frequency",)):
    from bluegraph_spark.operators.cooccurrence import cooccurrence_edges

    return cooccurrence_edges(_part_occ(spark, sf_dir), statistics=list(statistics))


def _supplier_edges(spark, sf_dir):
    from bluegraph_spark.operators.cooccurrence import (
        cooccurrence_edges,
        occurrences_from_edges,
    )

    occ = occurrences_from_edges(
        _t(spark, sf_dir, "lineitem"), src_col="l_suppkey", dst_col="l_partkey"
    )
    return cooccurrence_edges(occ, statistics=["frequency"])


def _order_chain(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return (
        o.select(
            F.col("o_orderkey").cast("string").alias("dst"),
            F.lag(F.col("o_orderkey").cast("string")).over(w).alias("src"),
        )
        .filter("src is not null")
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_cooc_parts_freq(spark, sf_dir):
    return _part_edges(spark, sf_dir).select(
        "src", "dst", F.col("frequency").cast("long").alias("frequency")
    )


def q_cooc_parts_npmi(spark, sf_dir):
    e = _part_edges(spark, sf_dir, ["frequency", "ppmi", "npmi"])
    return e.select(
        "src",
        "dst",
        F.col("frequency").cast("long").alias("frequency"),
        F.round("ppmi", 8).alias("ppmi"),
        F.round("npmi", 8).alias("npmi"),
    )


def q_pagerank_parts(spark, sf_dir):
    from bluegraph_spark.operators.pagerank import pagerank

    edges = _part_edges(spark, sf_dir)
    res = pagerank(
        edges, weight_col="frequency", alpha=ALPHA, tol=0.0, max_iter=PR_ITERS
    )
    return res.ranks.select("id", F.round("rank", 8).alias("rank"))


def q_cc_orders(spark, sf_dir):
    from bluegraph_spark.operators.components import connected_components

    o = _t(spark, sf_dir, "orders")
    res = connected_components(
        _order_chain(spark, sf_dir),
        nodes=o.select(F.col("o_orderkey").cast("string").alias("id")),
    )
    return res.components.select("id", "component")


def q_lpa_suppliers(spark, sf_dir):
    from bluegraph_spark.operators.lpa import label_propagation

    res = label_propagation(
        _supplier_edges(spark, sf_dir), weight_col="frequency", max_iter=LPA_ITERS
    )
    return res.labels.select("id", "label")


def _supplier_edges_npmi(spark, sf_dir):
    """Supplier co-occurrence graph weighted by NPMI with zero-MI edges
    pruned — the reference production pipeline's second community pass runs
    on exactly this weighting (cord19kg/utils.py:661-671, 711-722). Weights
    are rounded to 8 decimals on both engines so the LPA weight sums start
    from bit-identical edge values."""
    from bluegraph_spark.operators.cooccurrence import (
        cooccurrence_edges,
        occurrences_from_edges,
    )

    occ = occurrences_from_edges(
        _t(spark, sf_dir, "lineitem"), src_col="l_suppkey", dst_col="l_partkey"
    )
    e = cooccurrence_edges(occ, statistics=["frequency", "npmi"])
    return e.filter(F.col("npmi") > 0).select(
        "src", "dst", F.round("npmi", 8).alias("npmi")
    )


def q_lpa_npmi_suppliers(spark, sf_dir):
    """Second community pass of the reference pipeline: LPA on the
    NPMI-weighted, zero-MI-pruned graph (cord19kg/utils.py:718-722 runs its
    community detector on npmi weights after the frequency pass)."""
    from bluegraph_spark.operators.lpa import label_propagation

    res = label_propagation(
        _supplier_edges_npmi(spark, sf_dir), weight_col="npmi", max_iter=LPA_ITERS
    )
    return res.labels.select("id", "label")


def q_modularity_npmi_suppliers(spark, sf_dir):
    """Partition quality of the nation partition under NPMI weights —
    the npmi-weighted analogue of modularity_suppliers (reference evaluates
    partitions per weight config, core/analyse/communities.py:123-132)."""
    from bluegraph_spark.operators.metrics import modularity

    labels = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("string").alias("id"),
        F.col("s_nationkey").cast("string").alias("community"),
    )
    q = modularity(
        _supplier_edges_npmi(spark, sf_dir), labels, weight_col="npmi"
    )
    return spark.createDataFrame([(round(q, 8),)], "modularity double")


def q_triangles_parts(spark, sf_dir):
    from bluegraph_spark.operators.triangles import triangle_counts

    return triangle_counts(_part_edges(spark, sf_dir)).select(
        "id", F.col("triangles").cast("long").alias("triangles")
    )


def q_cooc_top_parts(spark, sf_dir):
    """Top-n frequent-vocabulary pruning before edge generation — the
    reference's primary scale knob (cord19kg/utils.py:646-651)."""
    from bluegraph_spark.operators.cooccurrence import (
        cooccurrence_edges,
        keep_top_n_nodes,
    )

    occ = keep_top_n_nodes(_part_occ(spark, sf_dir), 500)
    return cooccurrence_edges(occ, statistics=["frequency"]).select(
        "src", "dst", F.col("frequency").cast("long").alias("frequency")
    )


def q_cooc_parts_mi_variants(spark, sf_dir):
    """expected / pmi2 / pmi3 statistic variants (reference mutual_information
    mitype branches, generators.py:47-66)."""
    e = _part_edges(spark, sf_dir, ["frequency", "expected", "pmi2", "pmi3"])
    return e.select(
        "src",
        "dst",
        F.col("frequency").cast("long").alias("frequency"),
        F.round("expected", 8).alias("expected"),
        F.round("pmi2", 8).alias("pmi2"),
        F.round("pmi3", 8).alias("pmi3"),
    )


def q_npmi_distance_parts(spark, sf_dir):
    """NPMI -> distance edge weighting (reference cord19kg/utils.py:613-615);
    rows with npmi == 0 (infinite distance) are excluded from the comparison
    surface so both engines hash finite doubles only."""
    from bluegraph_spark.functions.mi import npmi_distance_col

    e = _part_edges(spark, sf_dir, ["frequency", "npmi"])
    return (
        e.filter(F.col("npmi") > 0)
        .select(
            "src",
            "dst",
            F.round(npmi_distance_col(F.col("npmi")), 8).alias("distance_npmi"),
        )
    )


def q_cooc_agg_suppliers(spark, sf_dir):
    """Custom factor-aggregator hook (applyInPandas) building the supplier
    occurrence table with arbitrary per-group Python, then the standard
    co-occurrence join — hash parity with the declarative path proves the
    hook's semantics."""
    from bluegraph_spark.operators.cooccurrence import (
        cooccurrence_edges,
        occurrences_from_aggregator,
    )

    # distinct() BEFORE the hook: the aggregator only needs each (supplier,
    # part) once, and pre-reducing JVM-side keeps the Arrow transfer to the
    # Python workers minimal — the pattern any production use of the hook
    # should follow.
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey").distinct()

    def distinct_parts(pdf):
        return set(pdf["l_partkey"].astype(str))

    occ = occurrences_from_aggregator(li, "l_suppkey", distinct_parts)
    return cooccurrence_edges(occ, statistics=["frequency"]).select(
        "src", "dst", F.col("frequency").cast("long").alias("frequency")
    )


def q_degree_parts(spark, sf_dir):
    from bluegraph_spark.operators.metrics import degree_centrality

    return degree_centrality(
        _part_edges(spark, sf_dir), weight_col="frequency"
    ).select("id", F.round("degree", 6).alias("degree"))


def q_density_parts(spark, sf_dir):
    from bluegraph_spark.operators.metrics import density

    d = density(_part_edges(spark, sf_dir))
    return spark.createDataFrame([(round(d, 10),)], "density double")


def q_top_neighbors_parts(spark, sf_dir):
    from bluegraph_spark.operators.paths import top_neighbors

    return top_neighbors(
        _part_edges(spark, sf_dir), n=5, weight_col="frequency"
    ).select(
        "id",
        "neighbor",
        F.col("weight").cast("long").alias("frequency"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_modularity_suppliers(spark, sf_dir):
    from bluegraph_spark.operators.metrics import modularity

    labels = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("string").alias("id"),
        F.col("s_nationkey").cast("string").alias("community"),
    )
    q = modularity(_supplier_edges(spark, sf_dir), labels, weight_col="frequency")
    return spark.createDataFrame([(round(q, 10),)], "modularity double")


def q_isolated_orders(spark, sf_dir):
    from bluegraph_spark.pgframe import SparkPGFrame

    o = _t(spark, sf_dir, "orders")
    pg = SparkPGFrame(
        o.select(F.col("o_orderkey").cast("string").alias("id")),
        _order_chain(spark, sf_dir),
    )
    return pg.isolated_nodes().select("id")


def q_dedup_exact_docs(spark, sf_dir):
    from bluegraph_spark.operators.dedup import exact_duplicates

    d = _t(spark, sf_dir, "documents")
    return exact_duplicates(d, "doc_id", "text").select(
        "content_hash",
        F.col("n_copies").cast("long").alias("n_copies"),
        F.col("keep_id").cast("long").alias("keep_id"),
    )


def q_ngram_jaccard_docs(spark, sf_dir):
    from bluegraph_spark.operators.dedup import jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("jaccard", 8).alias("jaccard"),
    )


def q_minhash_docs(spark, sf_dir):
    from bluegraph_spark.operators.dedup import minhash_dedup_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, bands=4, threshold=0.2
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("jaccard", 8).alias("jaccard"),
    )


def q_ann_cosine_docs(spark, sf_dir):
    from bluegraph_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb.filter("vec_id < 50"), emb, k=5).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_text_stats_docs(spark, sf_dir):
    from bluegraph_spark.functions.text import (
        distinct_token_count,
        fingerprint,
        mean_token_length,
        punct_ratio,
        token_count,
    )

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        distinct_token_count("text").alias("n_distinct"),
        F.round(mean_token_length("text"), 8).alias("mean_tok_len"),
        F.round(punct_ratio("text"), 8).alias("punct_ratio"),
        fingerprint("text").alias("fingerprint"),
    )


def q_langid_docs(spark, sf_dir):
    from bluegraph_spark.functions.text import langid_col

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", langid_col("text").alias("pred_lang"))


def q_sha256_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.sha2(F.col("text"), 256).alias("sha"))


def q_user_top_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("total_value")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter("rank <= 3")
        .select("user_id", "event_type", "n", "total_value", "rank")
    )


def q_cooc_multiset_supp(spark, sf_dir):
    from bluegraph_spark.operators.cooccurrence import cooccurrence_edges_multiset

    li = _t(spark, sf_dir, "lineitem")
    occ = li.groupBy(
        F.col("l_suppkey").cast("string").alias("node"),
        F.col("l_orderkey").cast("string").alias("factor"),
    ).agg(F.count("*").alias("cnt"))
    return cooccurrence_edges_multiset(occ, min_frequency=2).select(
        "src", "dst", F.col("frequency").cast("long").alias("frequency")
    )


def _supplier_labels(spark, sf_dir):
    return _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("string").alias("id"),
        F.col("s_nationkey").cast("string").alias("community"),
    )


def q_coverage_suppliers(spark, sf_dir):
    from bluegraph_spark.operators.metrics import coverage

    c = coverage(
        _supplier_edges(spark, sf_dir), _supplier_labels(spark, sf_dir),
        weight_col="frequency",
    )
    return spark.createDataFrame([(round(c, 10),)], "coverage double")


def q_performance_suppliers(spark, sf_dir):
    from bluegraph_spark.operators.metrics import performance

    p = performance(_supplier_edges(spark, sf_dir), _supplier_labels(spark, sf_dir))
    return spark.createDataFrame([(round(p, 10),)], "performance double")


def q_fingerprint_docs(spark, sf_dir):
    from bluegraph_spark.functions.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keep_id"),
        )
    )


def q_quality_docs(spark, sf_dir):
    from bluegraph_spark.functions.text import quality_score, stopword_ratio

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(quality_score("text"), 8).alias("quality"),
        F.round(stopword_ratio("text"), 8).alias("stop_ratio"),
    )


def q_simhash_docs(spark, sf_dir):
    from bluegraph_spark.operators.dedup import simhash_pairs

    d = _t(spark, sf_dir, "documents")
    return simhash_pairs(d, "doc_id", "text", max_hamming=3, chunks=4).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_simhash_manku_docs(spark, sf_dir):
    """Same SimHash semantics through the scale-hardened Manku banding
    (chunks=6 → C(6,3)=20 ~32-bit combination keys instead of 4 16-bit
    chunks). Both bandings are pigeonhole-complete for hamming ≤ 3, so the
    verified pair set — and hence the oracle — is identical to simhash_docs;
    what differs is the candidate-bucket geometry (buckets of N/2^32 instead
    of N/2^16)."""
    from bluegraph_spark.operators.dedup import simhash_pairs

    d = _t(spark, sf_dir, "documents")
    return simhash_pairs(d, "doc_id", "text", max_hamming=3, chunks=6).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_dedup_groups_docs(spark, sf_dir):
    """Pair→group resolution: MinHash near-dup pairs fed through the
    large-star/small-star connected-components operator; every document
    gets a keep_id (= min doc id of its duplicate cluster; singletons keep
    themselves). Oracle: the MinHash pair SQL plus a recursive-CTE
    transitive closure with min aggregation."""
    from bluegraph_spark.operators.dedup import (
        duplicate_groups,
        minhash_dedup_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, bands=4, threshold=0.2
    )
    groups = duplicate_groups(pairs, ids=d.select(F.col("doc_id").alias("id")))
    return groups.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("keep_id").cast("long").alias("keep_id"),
    )


def q_dedup_embedding_docs(spark, sf_dir):
    """Embedding-cosine near-dup dedup (semantic dedup): sign-LSH bucketed
    candidate pairs verified with exact cosine ≥ threshold. Oracled via the
    same literal-plane bucket SQL as the LSH ANN query (the threshold is
    tuned to the synthetic embeddings' flat similarity spectrum so the
    verified pair set is non-trivial at every sf)."""
    from bluegraph_spark.operators.dedup import embedding_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_dedup_pairs(
        emb, threshold=0.35, planes=8, tables=2, dim=64
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("cosine", 6).alias("cosine"),
    )


def q_lsh_cosine_docs(spark, sf_dir):
    """Approximate ANN (random-hyperplane LSH), fully oracled: the
    hyperplanes are deterministic literal doubles (similarity._plane_weights
    replicates Spark's xxhash64 driver-side), so ``_lsh_sql`` emits the SAME
    plane constants into plain SQL — sign-of-dot buckets, Hamming-1
    multiprobe, bucket equi-join per table, exact in-bucket cosine, top-k.
    Dot products are written as left-associated sums on both engines, so
    bucket bits and rank order are bit-identical."""
    from bluegraph_spark.operators.similarity import lsh_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_cosine_topk(
        emb.filter("vec_id < 30"), emb, k=3, planes=8, tables=2, dim=64
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ivf_cosine_docs(spark, sf_dir):
    """IVF ANN over the embeddings table, fully oracled: the codebook is a
    deterministic numpy Lloyd fit over a hash-ordered sample (the same pure
    function the oracle generator runs on the same parquet), so ``_ivf_sql``
    embeds bit-identical centroid literals — argmax cell assignment,
    top-nprobe cell probing, exact in-cell cosine, top-k — in plain SQL."""
    from bluegraph_spark.operators.similarity import ivf_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_cosine_topk(
        emb.filter("vec_id < 30"), emb, k=3, n_centroids=16, nprobe=4, dim=64
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _doc_media(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
    )


def q_media_features_docs(spark, sf_dir):
    """Multimodal plumbing: mapInPandas byte-feature extraction over binary
    payloads — oracled despite not being SQL-expressible *as a plan*: the
    byte statistics themselves are (``_media_sql`` parses the payload bytes
    out of ``hex(encode(text))``); sums/sumsq are exact integers so the
    mean/std doubles are bit-identical to the numpy kernel's."""
    from bluegraph_spark.operators.multimodal import extract_media_features

    feats = extract_media_features(_doc_media(spark, sf_dir))
    return feats.select(
        F.col("media_id").cast("long").alias("media_id"),
        "kind",
        "n_bytes",
        F.round("byte_mean", 6).alias("byte_mean"),
        F.round("byte_std", 6).alias("byte_std"),
    )


def q_frame_sample_docs(spark, sf_dir):
    from bluegraph_spark.operators.multimodal import sample_frames

    frames = sample_frames(_doc_media(spark, sf_dir), every_n_bytes=256, max_frames=8)
    return frames.select(
        F.col("media_id").cast("long").alias("media_id"),
        "kind",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.col("byte_offset").cast("long").alias("byte_offset"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
    )


def q_subgraph_orders(spark, sf_dir):
    from bluegraph_spark.pgframe import SparkPGFrame

    o = _t(spark, sf_dir, "orders")
    pg = SparkPGFrame(
        o.select(F.col("o_orderkey").cast("string").alias("id")),
        _order_chain(spark, sf_dir),
        directed=True,
    )
    keep = o.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_orderkey").cast("string").alias("id")
    )
    return pg.subgraph(nodes=keep).edges().select("src", "dst")


LOUVAIN_ROUNDS = 4
SSSP_ROUNDS = 8
KSSP_ROUNDS = 6
KSSP_K = 3


def q_louvain_suppliers(spark, sf_dir):
    """Deterministic synchronous Louvain (the reference pipeline's default
    community detector, cord19kg/utils.py:711-717) on the supplier
    frequency graph — fixed 4 local-move rounds, single level, parity gate
    on CAST(id AS BIGINT) % 2 so the whole round recurrence (modularity
    gains, strict-improvement argmax, parity-gated moves) unrolls into
    plain SQL for the oracle. Integer weights make every gain an exact
    double, so the comparison is hash-exact, not approximate."""
    from bluegraph_spark.operators.louvain import louvain

    res = louvain(
        _supplier_edges(spark, sf_dir),
        weight_col="frequency",
        exact_rounds=LOUVAIN_ROUNDS,
        parity_fn=lambda c: F.pmod(c.cast("long"), F.lit(2)),
    )
    return res.labels.select("id", "community")


def q_sssp_parts(spark, sf_dir):
    """Single-source shortest paths (PathFinder.shortest_path semantics
    computed as the full distance field) from part '1' over the parts
    co-occurrence graph, weight = frequency: 8 relaxation rounds, which on
    both engines is exactly the 8-round Bellman-Ford state (converged or
    not — identical either way). Integer weights keep path sums exact."""
    from bluegraph_spark.operators.paths import shortest_paths

    res = shortest_paths(
        _part_edges(spark, sf_dir),
        source="1",
        weight_col="frequency",
        max_iter=SSSP_ROUNDS,
    )
    return res.distances.select("id", F.col("dist").cast("double").alias("dist"))


def q_mst_suppliers(spark, sf_dir):
    """Borůvka minimum spanning forest of the NPMI-distance supplier graph
    — the reference pipeline's visualization-backbone reduction
    (cord19kg/utils.py:724-727, nx.minimum_spanning_tree on a distance
    weighting). Deterministic under the (weight, src, dst) edge total
    order, so the forest is unique; the oracle is an independent Kruskal
    (pure Python, same total order) over the same DuckDB-computed distance
    edges, emitted as literal rows."""
    from bluegraph_spark.functions.mi import npmi_distance_col
    from bluegraph_spark.operators.mst import minimum_spanning_forest

    e = _supplier_edges_npmi(spark, sf_dir)  # (src, dst, npmi>0 rounded 8)
    dist = e.select(
        "src", "dst", F.round(npmi_distance_col(F.col("npmi")), 8).alias("distance")
    )
    res = minimum_spanning_forest(dist, weight_col="distance")
    return res.tree_edges.select(
        "src", "dst", F.col("weight").alias("distance_npmi")
    )


INCR_SPLIT = 400  # documents with doc_id >= INCR_SPLIT are the "new batch"


def q_dedup_incremental_docs(spark, sf_dir):
    """Incremental MinHash dedup: documents with doc_id >= 400 arrive as a
    new batch against a band-indexed corpus (doc_id < 400); pairs touching
    the batch are generated from the index + batch signatures only, with
    exact-Jaccard verification shingling just the colliding corpus docs.
    Oracle: the full-corpus MinHash SQL restricted to pairs whose greater
    id is in the batch — the incremental result must equal the
    batch-involving subset of the one-shot run, which is the contract that
    makes incremental processing trustworthy at all."""
    from bluegraph_spark.operators.dedup import (
        minhash_band_index,
        minhash_dedup_incremental,
    )

    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") < INCR_SPLIT)
    batch = d.filter(F.col("doc_id") >= INCR_SPLIT)
    index = minhash_band_index(corpus, "doc_id", "text", n=3, num_hashes=8, bands=4)
    pairs = minhash_dedup_incremental(
        batch, corpus, index, "doc_id", "text",
        n=3, num_hashes=8, bands=4, threshold=0.2,
    )
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("jaccard", 8).alias("jaccard"),
    )


NEG_SEED = 42  # shared by q_negative_edges_li and its oracle


def q_negative_edges_li(spark, sf_dir):
    """Negative-edge sampling (reference generate_negative_edges,
    downstream/link_prediction.py:26-80) over the supplier→part bipartite
    graph, p=0.5 of the edge count. The engine's sampler is deterministic
    (seeded md5 hash stream → dense node-index pairs → anti-joins →
    first-n by generation index), so the oracle replays the identical
    construction in SQL: same 60-bit md5 hash, same row_number node
    ranking, same anti-join and trim — exact row equality, not just
    statistics."""
    from bluegraph_spark.operators.linkpred import generate_negative_edges

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("dst"),
    ).distinct()
    return generate_negative_edges(edges, p=0.5, seed=NEG_SEED, directed=True)


def q_edge_features_emb(spark, sf_dir):
    """EdgePredictor binary operators (reference BINARY_OPERATORS:
    hadamard/l1/l2/average, downstream/link_prediction.py:83-101) reduced
    to per-edge scalars (dot, Σl1, Σl2, Σavg) over consecutive-id
    embedding pairs. Left-fold sums from 0.0 match DuckDB list_reduce
    association exactly; round(6) guards the display boundary."""
    from bluegraph_spark.operators.linkpred import edge_feature_scores

    emb = _t(spark, sf_dir, "embeddings")
    pairs = emb.select(
        F.col("vec_id").alias("src"), (F.col("vec_id") + 1).alias("dst")
    )
    return edge_feature_scores(pairs, emb)


LP_LR = 0.5
LP_ITERS = 15
HIER_K = 5


def q_triples_orders(spark, sf_dir):
    """RDF-style triple export (reference PGFrame.to_triples,
    core/io.py:1144-1162) of the order→customer graph: one triple per
    edge (predicate = edge type), plus @type and literal-property triples
    per node; array-valued cells explode one triple per element. Pure
    union-of-projections — entirely SQL-expressible, hence a full
    hash-gated row."""
    from bluegraph_spark.pgframe import SparkPGFrame

    o = _t(spark, sf_dir, "orders")
    nodes = o.select(
        F.col("o_orderkey").cast("string").alias("id"),
        F.array(F.lit("order")).alias("type"),
        F.floor("o_totalprice").cast("long").alias("price_bucket"),
    )
    edges = o.select(
        F.col("o_orderkey").cast("string").alias("src"),
        F.col("o_custkey").cast("string").alias("dst"),
        F.array(F.lit("placed_by")).alias("type"),
    )
    pg = SparkPGFrame(nodes, edges, directed=True)
    return pg.to_triples()


def q_hierarchy_suppliers(spark, sf_dir):
    """Single-linkage agglomerative clustering (the reference's
    CommunityDetector strategy='hierarchical', core/analyse/communities.py:
    88-108, re-expressed for the connectivity-constrained case) of the
    NPMI-distance supplier graph into 5 clusters: distributed Borůvka MST
    = the single-linkage dendrogram, cut the k-1 heaviest merges, label by
    connected components (min-id canonical). Oracle: independent pure-
    Python union-find agglomeration over the same DuckDB-computed distance
    edges, emitted as literal rows."""
    from bluegraph_spark.functions.mi import npmi_distance_col
    from bluegraph_spark.operators.hierarchy import single_linkage_clusters

    e = _supplier_edges_npmi(spark, sf_dir)
    dist = e.select(
        "src", "dst", F.round(npmi_distance_col(F.col("npmi")), 8).alias("distance")
    )
    res = single_linkage_clusters(dist, n_clusters=HIER_K)
    return res.labels.select("id", "cluster")


def q_lp_predict_emb(spark, sf_dir):
    """Full link-prediction pipeline, classifier half included: the
    reference's EdgePredictor.fit/predict (downstream/link_prediction.py:
    107-151 over ElementClassifier, data_structures.py:21-81) re-expressed
    as in-engine quantized-GD logistic regression (no sklearn, no driver
    feature matrix). Edge features = the four binary-operator scalar
    reductions over embedding pairs; positives are consecutive-id pairs,
    negatives are id+5 pairs (deterministic synthetic labels — the gate
    checks the MACHINERY: standardization, 15 GD steps quantized to 12
    decimals, scoring). Output scores round to 4 decimals, so the ≤1e-10
    cross-engine GD divergence can never flip the hash."""
    from bluegraph_spark.operators.linkpred import (
        edge_feature_scores,
        fit_edge_predictor,
        predict_edges,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pos = emb.select(
        F.col("vec_id").alias("src"), (F.col("vec_id") + 1).alias("dst")
    ).withColumn("y", F.lit(1))
    neg = emb.select(
        F.col("vec_id").alias("src"), (F.col("vec_id") + 5).alias("dst")
    ).withColumn("y", F.lit(0))
    pairs = pos.unionByName(neg)
    feats = edge_feature_scores(
        pairs.select("src", "dst"), emb
    ).join(pairs, ["src", "dst"])
    fcols = ["dot", "l1_dist", "l2_sq", "avg_sum"]
    model = fit_edge_predictor(
        feats, "y", fcols, lr=LP_LR, iterations=LP_ITERS
    )
    return predict_edges(feats, model).select(
        "src", "dst", F.col("y").cast("int").alias("y"), "score", "pred"
    )


def q_kshortest_parts(spark, sf_dir):
    """k smallest distinct walk lengths from part '1' to every vertex
    (k=3) — the distributed analogue of the reference's n_shortest_paths
    (core/analyse/paths.py:217-298; exact simple-path enumeration lives in
    the gated path_bridge). Fixed 6 relaxation rounds: per-round states
    are provably identical between the engine's frontier form and the
    oracle's full relaxation (a vertex's top-k label set only improves,
    so once-trimmed candidates stay trimmed). Integer frequency weights
    keep walk sums and DISTINCT exact."""
    from bluegraph_spark.operators.paths import k_shortest_distances

    res = k_shortest_distances(
        _part_edges(spark, sf_dir),
        source="1",
        k=KSSP_K,
        weight_col="frequency",
        max_iter=KSSP_ROUNDS,
    )
    return res.distances.select(
        "id", F.col("rank").cast("int").alias("rank"),
        F.col("dist").cast("double").alias("dist"),
    )


def q_vector_metrics_emb(spark, sf_dir):
    """The reference's similarity-index distance kernels (poincare /
    wasserstein / KL, downstream/similarity.py:41-66) as pure-codegen
    column expressions over consecutive-id embedding pairs. Domain
    transforms make every metric well-defined on arbitrary float vectors:
    abs(x)+0.001 for the two distribution metrics (strictly positive mass)
    and x/(|x|+1) for the Poincaré ball (norm < 1). round(6) guards the
    log/acosh last-ulp engine differences."""
    from bluegraph_spark.functions.vector import (
        kl_divergence_col,
        poincare_distance_col,
        wasserstein_1d_col,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    a, b = emb.alias("a"), emb.alias("b")
    pairs = a.join(
        b, F.col("b.vec_id") == F.col("a.vec_id") + 1
    ).select(
        F.col("a.vec_id").alias("src"),
        F.col("b.vec_id").alias("dst"),
        F.col("a.v").alias("u"),
        F.col("b.v").alias("v"),
    )
    pos = lambda c: F.transform(c, lambda x: F.abs(x) + F.lit(0.001))
    norm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # Stage the per-row scalars (norms, positive-mass totals) through a
    # materialized intermediate: higher-order functions are interpreted,
    # so a scalar subexpression inside a lambda body (the ball transform's
    # norm, the kernels' totals) is re-evaluated PER ELEMENT — O(d²)
    # per row — and projection collapsing would inline any same-plan
    # hoisting straight back. The checkpoint pins the scalars as plain
    # attributes; every numeric expression (and hence every output value)
    # is unchanged.
    staged = pairs.select(
        "src",
        "dst",
        "u",
        "v",
        pos(F.col("u")).alias("pu"),
        pos(F.col("v")).alias("pv"),
        norm(F.col("u")).alias("nu"),
        norm(F.col("v")).alias("nv"),
        F.aggregate(
            pos(F.col("u")), F.lit(0.0), lambda acc, x: acc + x
        ).alias("su"),
        F.aggregate(
            pos(F.col("v")), F.lit(0.0), lambda acc, x: acc + x
        ).alias("sv"),
    ).localCheckpoint()
    ball_u = F.transform("u", lambda x: x / (F.col("nu") + F.lit(1.0)))
    ball_v = F.transform("v", lambda x: x / (F.col("nv") + F.lit(1.0)))
    return staged.select(
        "src",
        "dst",
        F.round(poincare_distance_col(ball_u, ball_v), 6).alias("poincare"),
        F.round(
            wasserstein_1d_col(
                F.col("pu"), F.col("pv"), F.col("su"), F.col("sv")
            ),
            6,
        ).alias("wasserstein"),
        F.round(
            kl_divergence_col(
                F.col("pu"), F.col("pv"), F.col("su"), F.col("sv")
            ),
            6,
        ).alias("kl"),
    )


ENC_TEXT_DIM = 8


def q_encode_suppliers(spark, sf_dir):
    """Property encoder (reference ScikitLearnPGEncoder, preprocess/
    encoders.py:412-572, re-expressed as fit-aggregations + codegen
    transform in bluegraph_spark/preprocess.py) over supplier nodes:
    s_acctbal standardized (population std + mean imputation),
    s_name → top-8 smooth-idf TF-IDF with L2 rows, s_nationkey →
    sorted-vocabulary multi-hot; features concatenated in sorted property
    order and exploded long for the hash gate. The oracle refits
    INDEPENDENTLY in DuckDB/Python and scores in SQL."""
    from bluegraph_spark.pgframe import SparkPGFrame
    from bluegraph_spark.preprocess import SparkPGEncoder

    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("string").alias("id"),
        F.col("s_nationkey").cast("string").alias("s_nationkey"),
        F.col("s_name").alias("s_name"),
        F.col("s_acctbal").cast("double").alias("s_acctbal"),
    )
    edges = sup.limit(0).select(
        F.col("id").alias("src"), F.col("id").alias("dst")
    )
    pg = SparkPGFrame(sup, edges, directed=True)
    pg._node_prop_types = {
        "s_nationkey": "category",
        "s_name": "text",
        "s_acctbal": "numeric",
    }
    enc = SparkPGEncoder(
        node_properties=["s_nationkey", "s_name", "s_acctbal"],
        text_encoding_max_dimension=ENC_TEXT_DIM,
    )
    out = enc.fit_transform(pg)
    return (
        out._nodes.select("id", F.posexplode("features").alias("dim", "value"))
        .select(
            "id",
            F.col("dim").cast("int").alias("dim"),
            F.round("value", 6).alias("value"),
        )
    )


WALK_LEN = 5
WALK_SEED = 42


def q_walks_parts(spark, sf_dir):
    """Deterministic distributed random-walk corpus (the data half of the
    reference's node2vec embedder family, backends/stellargraph/embed/
    embedders.py:49-56) over the parts frequency graph: 1 walk per node,
    5 steps, weighted first-order transitions. The step-t choice is a pure
    function of (seed, walk_id, t) — a 48-bit md5 hash mapped onto
    cumulative out-weight intervals with double-exact arithmetic — so the
    whole corpus hash-compares against the unrolled SQL replica."""
    from bluegraph_spark.operators.walks import generate_random_walks

    out = generate_random_walks(
        _part_edges(spark, sf_dir),
        walk_length=WALK_LEN,
        walks_per_node=1,
        weight_col="frequency",
        seed=WALK_SEED,
    )
    return out.select("walk_id", F.col("step").cast("int").alias("step"), "node")


FASTRP_DIM = 8
FASTRP_SEED = 42
FASTRP_WEIGHTS = (1.0, 0.5)


def q_fastrp_parts(spark, sf_dir):
    """FastRP node embeddings (deterministic very-sparse random projection,
    Chen et al. CIKM'19 — the Spark-first replacement for the reference's
    transductive node embedders, core/embed/embedders.py:49-247) on the
    parts frequency graph: dim=8, two propagation iterations weighted
    (1.0, 0.5), per-iteration L2 normalization quantized to 12 decimals
    (the cross-engine contract — see operators/embeddings.py). Long form
    (id, dim, value) rounded to 6 so the DuckDB replica hash-matches."""
    from bluegraph_spark.operators.embeddings import fastrp_embeddings_long

    lg = fastrp_embeddings_long(
        _part_edges(spark, sf_dir),
        dim=FASTRP_DIM,
        iteration_weights=FASTRP_WEIGHTS,
        weight_col="frequency",
        seed=FASTRP_SEED,
    )
    return lg.select("id", "dim", F.round("value", 6).alias("value"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: part co-occurrence graph at sf0.001 → weighted PageRank to
    convergence → scores joined with degree."""
    from bluegraph_spark.operators.metrics import degree_centrality
    from bluegraph_spark.operators.pagerank import pagerank

    sf_dir = "/root/testdata/sf0.001"
    edges = _part_edges(spark, sf_dir)
    res = pagerank(edges, weight_col="frequency")
    deg = degree_centrality(edges, weight_col="frequency")
    return (
        res.ranks.join(deg, "id")
        .select("id", F.round("rank", 8).alias("rank"), F.round("degree", 6).alias("degree"))
        .orderBy(F.desc("rank"), "id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The correctness gate checks only the first 50 entries (README); the
    # last three are checked by scripts/check_parity.py alone.
    return {
        "dedup_incremental_docs": q_dedup_incremental_docs,
        "negative_edges_li": q_negative_edges_li,
        "edge_features_emb": q_edge_features_emb,
        "cooc_parts_freq": q_cooc_parts_freq,
        "cooc_parts_npmi": q_cooc_parts_npmi,
        "cooc_top_parts": q_cooc_top_parts,
        "cooc_parts_mi_variants": q_cooc_parts_mi_variants,
        "npmi_distance_parts": q_npmi_distance_parts,
        "cooc_agg_suppliers": q_cooc_agg_suppliers,
        "pagerank_parts": q_pagerank_parts,
        "cc_orders": q_cc_orders,
        "lpa_suppliers": q_lpa_suppliers,
        "lpa_npmi_suppliers": q_lpa_npmi_suppliers,
        "modularity_npmi_suppliers": q_modularity_npmi_suppliers,
        "triangles_parts": q_triangles_parts,
        "degree_parts": q_degree_parts,
        "density_parts": q_density_parts,
        "top_neighbors_parts": q_top_neighbors_parts,
        "modularity_suppliers": q_modularity_suppliers,
        "isolated_orders": q_isolated_orders,
        "dedup_exact_docs": q_dedup_exact_docs,
        "ngram_jaccard_docs": q_ngram_jaccard_docs,
        "minhash_docs": q_minhash_docs,
        "ann_cosine_docs": q_ann_cosine_docs,
        "text_stats_docs": q_text_stats_docs,
        "langid_docs": q_langid_docs,
        "sha256_docs": q_sha256_docs,
        "user_top_events": q_user_top_events,
        "cooc_multiset_supp": q_cooc_multiset_supp,
        "coverage_suppliers": q_coverage_suppliers,
        "performance_suppliers": q_performance_suppliers,
        "fingerprint_docs": q_fingerprint_docs,
        "quality_docs": q_quality_docs,
        "simhash_docs": q_simhash_docs,
        "simhash_manku_docs": q_simhash_manku_docs,
        "dedup_embedding_docs": q_dedup_embedding_docs,
        "dedup_groups_docs": q_dedup_groups_docs,
        "lsh_cosine_docs": q_lsh_cosine_docs,
        "ivf_cosine_docs": q_ivf_cosine_docs,
        "media_features_docs": q_media_features_docs,
        "frame_sample_docs": q_frame_sample_docs,
        "subgraph_orders": q_subgraph_orders,
        "louvain_suppliers": q_louvain_suppliers,
        "sssp_parts": q_sssp_parts,
        "mst_suppliers": q_mst_suppliers,
        "fastrp_parts": q_fastrp_parts,
        "kshortest_parts": q_kshortest_parts,
        "lp_predict_emb": q_lp_predict_emb,
        "hierarchy_suppliers": q_hierarchy_suppliers,
        "triples_orders": q_triples_orders,
        "walks_parts": q_walks_parts,
        "vector_metrics_emb": q_vector_metrics_emb,
        "encode_suppliers": q_encode_suppliers,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_PART_OCC = """
occ AS (
  SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS node,
                  CAST(l_orderkey AS VARCHAR) AS factor
  FROM lineitem
)"""

_PART_PAIRS = """
pairs AS (
  SELECT a.node AS src, b.node AS dst, count(*) AS frequency
  FROM occ a JOIN occ b ON a.factor = b.factor AND a.node < b.node
  GROUP BY 1, 2
)"""

_SUPP_OCC = """
occ AS (
  SELECT DISTINCT CAST(l_suppkey AS VARCHAR) AS node,
                  CAST(l_partkey AS VARCHAR) AS factor
  FROM lineitem
)"""


def _mi_sql() -> str:
    """frequency/ppmi/npmi with the exact reference clamping semantics."""
    return f"""
WITH {_PART_OCC}, {_PART_PAIRS},
nf AS (SELECT node, count(*) AS f FROM occ GROUP BY 1),
tot AS (SELECT CAST(count(DISTINCT factor) AS DOUBLE) AS n FROM occ),
mi AS (
  SELECT p.src, p.dst, p.frequency,
         log2((t.n * p.frequency) / (s.f * d.f)) AS pmi,
         -log2(p.frequency / t.n) AS alpha
  FROM pairs p
  JOIN nf s ON s.node = p.src
  JOIN nf d ON d.node = p.dst
  CROSS JOIN tot t
)
SELECT src, dst, CAST(frequency AS BIGINT) AS frequency,
       ROUND(CASE WHEN pmi > 0 THEN pmi ELSE 0 END, 8) AS ppmi,
       ROUND(CASE WHEN alpha = 0 THEN 0
                  WHEN pmi / alpha > 0 THEN pmi / alpha
                  ELSE 0 END, 8) AS npmi
FROM mi
"""


_MI_BASE = f"""
WITH {_PART_OCC}, {_PART_PAIRS},
nf AS (SELECT node, count(*) AS f FROM occ GROUP BY 1),
tot AS (SELECT CAST(count(DISTINCT factor) AS DOUBLE) AS n FROM occ),
base AS (
  SELECT p.src, p.dst, p.frequency,
         CAST(p.frequency AS DOUBLE) AS co,
         CAST(s.f AS DOUBLE) AS sf, CAST(d.f AS DOUBLE) AS tf, t.n AS n
  FROM pairs p
  JOIN nf s ON s.node = p.src
  JOIN nf d ON d.node = p.dst
  CROSS JOIN tot t
)"""


def _mi_variants_sql() -> str:
    clamp = "CASE WHEN {x} > 0 THEN {x} ELSE 0 END"
    expected = clamp.format(x="log2(n * co / (sf * tf)) * (co / n)")
    pmi2 = clamp.format(x="log2(co * co / (sf * tf))")
    pmi3 = clamp.format(x="log2(co * co * co / (sf * tf * n))")
    return f"""{_MI_BASE}
SELECT src, dst, CAST(frequency AS BIGINT) AS frequency,
       ROUND({expected}, 8) AS expected,
       ROUND({pmi2}, 8) AS pmi2,
       ROUND({pmi3}, 8) AS pmi3
FROM base
"""


def _npmi_distance_sql() -> str:
    return f"""{_MI_BASE},
npmi AS (
  SELECT src, dst,
         CASE WHEN -log2(co / n) = 0 THEN 0
              WHEN log2(n * co / (sf * tf)) / (-log2(co / n)) > 0
                THEN log2(n * co / (sf * tf)) / (-log2(co / n))
              ELSE 0 END AS v
  FROM base
)
SELECT src, dst, ROUND(1.0 / v, 8) AS distance_npmi
FROM npmi WHERE v > 0
"""


def _pagerank_sql(iters: int = PR_ITERS, alpha: float = ALPHA) -> str:
    pieces = [
        f"WITH {_PART_OCC}, {_PART_PAIRS},",
        """
sym AS (
  SELECT src, dst, CAST(frequency AS DOUBLE) AS w FROM pairs
  UNION ALL
  SELECT dst, src, CAST(frequency AS DOUBLE) FROM pairs
),
v AS (SELECT DISTINCT src AS id FROM sym),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
outw AS (SELECT src, sum(w) AS ow FROM sym GROUP BY 1),
norm AS (SELECT e.src, e.dst, e.w / o.ow AS p FROM sym e JOIN outw o ON e.src = o.src),
r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM v)""",
    ]
    for k in range(1, iters + 1):
        pieces.append(
            f""",
c{k} AS (
  SELECT e.dst AS id, sum(e.p * r.rank) AS s
  FROM norm e JOIN r{k - 1} r ON e.src = r.id GROUP BY 1
),
r{k} AS (
  SELECT v.id,
         {alpha} * COALESCE(c.s, 0) + (1.0 - {alpha}) / (SELECT n FROM nn) AS rank
  FROM v LEFT JOIN c{k} c ON v.id = c.id
)"""
        )
    pieces.append(f"\nSELECT id, ROUND(rank, 8) AS rank FROM r{iters}")
    return "".join(pieces)


def _lpa_sql(iters: int = LPA_ITERS) -> str:
    pieces = [
        f"WITH {_SUPP_OCC},",
        """
pairs AS (
  SELECT a.node AS src, b.node AS dst, count(*) AS frequency
  FROM occ a JOIN occ b ON a.factor = b.factor AND a.node < b.node
  GROUP BY 1, 2
),
sym AS (
  SELECT src, dst, CAST(frequency AS DOUBLE) AS w FROM pairs
  UNION ALL
  SELECT dst, src, CAST(frequency AS DOUBLE) FROM pairs
),
v AS (SELECT DISTINCT src AS id FROM sym),
l0 AS (SELECT id, id AS label FROM v)""",
    ]
    for k in range(1, iters + 1):
        pieces.append(
            f""",
s{k} AS (
  SELECT e.dst AS id, l.label, sum(e.w) AS s
  FROM sym e JOIN l{k - 1} l ON e.src = l.id GROUP BY 1, 2
),
b{k} AS (
  SELECT id, label FROM (
    SELECT id, label,
           row_number() OVER (PARTITION BY id ORDER BY s DESC, label ASC) AS rn
    FROM s{k}
  ) WHERE rn = 1
),
l{k} AS (
  SELECT l.id, COALESCE(b.label, l.label) AS label
  FROM l{k - 1} l LEFT JOIN b{k} b ON l.id = b.id
)"""
        )
    pieces.append(f"\nSELECT id, label FROM l{iters}")
    return "".join(pieces)


_SUPP_NPMI_EDGES = f"""{_SUPP_OCC},
pairs AS (
  SELECT a.node AS src, b.node AS dst, count(*) AS frequency
  FROM occ a JOIN occ b ON a.factor = b.factor AND a.node < b.node
  GROUP BY 1, 2
),
nf AS (SELECT node, count(*) AS f FROM occ GROUP BY 1),
tot AS (SELECT CAST(count(DISTINCT factor) AS DOUBLE) AS n FROM occ),
mi AS (
  SELECT p.src, p.dst,
         log2((t.n * p.frequency) / (s.f * d.f)) AS pmi,
         -log2(p.frequency / t.n) AS alpha
  FROM pairs p
  JOIN nf s ON s.node = p.src
  JOIN nf d ON d.node = p.dst
  CROSS JOIN tot t
),
npmi AS (
  SELECT src, dst,
         CASE WHEN alpha = 0 THEN 0
              WHEN pmi / alpha > 0 THEN pmi / alpha
              ELSE 0 END AS v
  FROM mi
),
wedges AS (SELECT src, dst, ROUND(v, 8) AS w FROM npmi WHERE v > 0)"""


def _lpa_npmi_sql(iters: int = LPA_ITERS) -> str:
    """LPA unrolled over the NPMI-weighted zero-MI-pruned supplier graph
    (same loop shape as _lpa_sql, weights from the reference NPMI formula
    rounded to 8 decimals so both engines sum bit-identical edge values)."""
    pieces = [
        f"WITH {_SUPP_NPMI_EDGES},",
        """
sym AS (
  SELECT src, dst, w FROM wedges
  UNION ALL
  SELECT dst, src, w FROM wedges
),
v AS (SELECT DISTINCT src AS id FROM sym),
l0 AS (SELECT id, id AS label FROM v)""",
    ]
    for k in range(1, iters + 1):
        pieces.append(
            f""",
s{k} AS (
  SELECT e.dst AS id, l.label, sum(e.w) AS s
  FROM sym e JOIN l{k - 1} l ON e.src = l.id GROUP BY 1, 2
),
b{k} AS (
  SELECT id, label FROM (
    SELECT id, label,
           row_number() OVER (PARTITION BY id ORDER BY s DESC, label ASC) AS rn
    FROM s{k}
  ) WHERE rn = 1
),
l{k} AS (
  SELECT l.id, COALESCE(b.label, l.label) AS label
  FROM l{k - 1} l LEFT JOIN b{k} b ON l.id = b.id
)"""
        )
    pieces.append(f"\nSELECT id, label FROM l{iters}")
    return "".join(pieces)


def _modularity_npmi_sql() -> str:
    return f"""
WITH {_SUPP_NPMI_EDGES},
lab AS (SELECT CAST(s_suppkey AS VARCHAR) AS id, CAST(s_nationkey AS VARCHAR) AS c FROM supplier),
el AS (
  SELECT p.w, ls.c AS cs, ld.c AS ct
  FROM wedges p JOIN lab ls ON ls.id = p.src JOIN lab ld ON ld.id = p.dst
),
m AS (SELECT sum(w) AS m FROM el),
dsum AS (
  SELECT c, sum(w) AS d FROM (
    SELECT cs AS c, w FROM el UNION ALL SELECT ct, w FROM el
  ) GROUP BY 1
),
intra AS (SELECT cs AS c, sum(w) AS e FROM el WHERE cs = ct GROUP BY 1)
SELECT ROUND(sum(COALESCE(i.e, 0) / m.m - (d.d / (2 * m.m)) * (d.d / (2 * m.m))), 8) AS modularity
FROM dsum d LEFT JOIN intra i USING (c), m
"""


_DOC_TOKS = """
toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
)"""

_DOC_SHINGLES = """
sh AS (
  SELECT DISTINCT doc_id,
         g AS shingle
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
           )) AS g
    FROM toks
  )
)"""


def _jaccard_sql(threshold: float = 0.2) -> str:
    return f"""
WITH {_DOC_TOKS}, {_DOC_SHINGLES},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 8) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= {threshold}
"""


def _minhash_sql(num_hashes: int = 8, bands: int = 4, threshold: float = 0.2) -> str:
    r = num_hashes // bands
    sig_cols = ", ".join(
        f"min(md5('{i}|' || shingle)) AS h{i}" for i in range(num_hashes)
    )
    band_keys = ", ".join(
        "md5(" + " || '|' || ".join(f"h{b * r + j}" for j in range(r)) + f") AS k{b}"
        for b in range(bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, k{b} AS key FROM bands" for b in range(bands)
    )
    return f"""
WITH {_DOC_TOKS}, {_DOC_SHINGLES},
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS (SELECT doc_id, {band_keys} FROM sig),
band_rows AS ({band_union}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM band_rows a JOIN band_rows b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 8) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= {threshold}
"""


def _langid_sql() -> str:
    from bluegraph_spark.functions.text import LANG_MARKERS

    score_cols = []
    for lang in sorted(LANG_MARKERS):
        lst = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        score_cols.append(
            f"len(list_filter(t, x -> x IN ({lst}))) AS s_{lang}"
        )
    langs = sorted(LANG_MARKERS)
    mx = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = "CASE WHEN " + mx + " <= 0 THEN 'und' " + " ".join(
        f"WHEN s_{l} = {mx} THEN '{l}'" for l in langs
    ) + " END"
    return f"""
WITH {_DOC_TOKS},
scores AS (SELECT doc_id, {", ".join(score_cols)} FROM toks)
SELECT doc_id, {case} AS pred_lang FROM scores
"""


def _simhash_sql(max_hamming: int = 3) -> str:
    """Bit-exact DuckDB replica of functions/text.py::simhash64.

    Per token: h = big-endian uint64 of md5(token).digest()[:8]; per bit b
    (0..63): vote +1 if (h >> b) & 1 else -1; signature bit b set iff the
    vote sum is positive; signed-64 wraparound. Bytes are read out of the
    md5 hex string: bit b lives in hex chars of byte (7 - b//8), shifted by
    b % 8.
    """

    def hexv(c: str) -> str:
        return f"(strpos('0123456789abcdef', {c}) - 1)"

    votes = []
    for b in range(64):
        byte_i = 7 - (b // 8)
        hi = hexv(f"substr(m, {2 * byte_i + 1}, 1)")
        lo = hexv(f"substr(m, {2 * byte_i + 2}, 1)")
        bit = f"((({hi}) * 16 + ({lo})) >> {b % 8}) & 1"
        votes.append(f"sum(CASE WHEN ({bit}) = 1 THEN 1 ELSE -1 END) AS v{b}")
    sig_u = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (1::HUGEINT << {b}) ELSE 0::HUGEINT END)"
        for b in range(64)
    )
    return f"""
WITH {_DOC_TOKS},
tok_rows AS (SELECT doc_id, unnest(t) AS tok FROM toks),
hashed AS (SELECT doc_id, md5(tok) AS m FROM tok_rows),
votes AS (SELECT doc_id, {", ".join(votes)} FROM hashed GROUP BY doc_id),
sig_u AS (SELECT doc_id, ({sig_u}) AS su FROM votes),
sigs AS (
  SELECT d.doc_id,
         CAST(CASE WHEN s.su IS NULL THEN 0
                   WHEN s.su >= 9223372036854775808::HUGEINT
                     THEN s.su - 18446744073709551616::HUGEINT
                   ELSE s.su END AS BIGINT) AS sig
  FROM documents d LEFT JOIN sig_u s USING (doc_id)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
"""


def _sql_dot(vcol: str, ws: list[float]) -> str:
    """Left-associated dot-with-literals — matches Spark's aggregate fold
    order bit-for-bit."""
    return "(" + " + ".join(
        f"{vcol}[{i + 1}] * ({w!r})" for i, w in enumerate(ws)
    ) + ")"


def _sql_sumsq(vcol: str, dim: int) -> str:
    return "(" + " + ".join(
        f"{vcol}[{i + 1}] * {vcol}[{i + 1}]" for i in range(dim)
    ) + ")"


def _sql_bucket_cols(planes: int, tables: int, seed: int, dim: int) -> list[str]:
    """Per-table sign-bucket string expressions over the SAME literal planes
    the Spark plan embeds."""
    from bluegraph_spark.operators.similarity import _plane_weights

    cols = []
    for t in range(tables):
        ws = _plane_weights(dim, planes, seed + 1000 * t)
        bits = " || ".join(
            f"(CASE WHEN {_sql_dot('v', ws[p])} >= 0 THEN '1' ELSE '0' END)"
            for p in range(planes)
        )
        cols.append(f"({bits}) AS bkt{t}")
    return cols


def _sql_probes(bcol: str, planes: int) -> str:
    """The bucket itself + every Hamming-distance-1 flip (multiprobe=1)."""
    items = [bcol]
    for i in range(planes):
        items.append(
            f"substr({bcol}, 1, {i}) || "
            f"(CASE WHEN substr({bcol}, {i + 1}, 1) = '1' THEN '0' ELSE '1' END)"
            f" || substr({bcol}, {i + 2}, {planes - i - 1})"
        )
    return "[" + ", ".join(items) + "]"


def _lsh_sql(
    k: int = 3,
    planes: int = 8,
    tables: int = 2,
    seed: int = 42,
    dim: int = 64,
    n_queries: int = 30,
) -> str:
    """DuckDB replica of ``lsh_cosine_topk`` with the engine's exact knobs.

    The hyperplanes are the same literal doubles the Spark plan embeds
    (``_plane_weights`` replicates Spark's xxhash64 driver-side), and every
    dot product / sum of squares is written as a left-associated sum —
    matching Spark's ``F.aggregate`` fold order — so bucket sign bits and
    the pre-round cosine ranking are bit-identical across engines."""
    bucket_cols = _sql_bucket_cols(planes, tables, seed, dim)

    def sumsq(vcol: str) -> str:
        return _sql_sumsq(vcol, dim)

    def probes(bcol: str) -> str:
        return _sql_probes(bcol, planes)

    qprobe_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {t} AS tbl, unnest({probes(f'bkt{t}')}) AS bucket FROM qsig"
        for t in range(tables)
    )
    csig_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {t} AS tbl, bkt{t} AS bucket FROM sig"
        for t in range(tables)
    )
    dot_qc = "(" + " + ".join(
        f"q.v[{i + 1}] * c.v[{i + 1}]" for i in range(dim)
    ) + ")"
    return f"""
WITH prep AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
nz AS (
  SELECT vec_id, v, {sumsq('v')} AS sq FROM prep WHERE {sumsq('v')} > 0
),
sig AS (
  SELECT vec_id, {", ".join(bucket_cols)} FROM nz
),
qsig AS (SELECT * FROM sig WHERE vec_id < {n_queries}),
qprobes AS (
{qprobe_union}
),
csig AS (
{csig_union}
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM qprobes q JOIN csig c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id <> c.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {dot_qc} / (sqrt(q.sq) * sqrt(c.sq)) AS cosine
  FROM cand
  JOIN nz q ON q.vec_id = cand.query_id
  JOIN nz c ON c.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
         ) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       ROUND(cosine, 6) AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


def _dedup_groups_sql() -> str:
    """MinHash pairs (same knobs as minhash_docs) resolved into duplicate
    groups with a recursive-CTE transitive closure: reach(id, r) holds every
    id reachable from each doc over the symmetrized pair graph; the group
    label is min(reachable id) — exactly the min-id component labels of the
    engine's large-star/small-star CC."""
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_minhash_sql()}) t
),
e AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT doc_id AS id, doc_id AS r FROM documents
  UNION
  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS keep_id
FROM reach GROUP BY id
"""


def _embedding_dedup_sql(
    threshold: float = 0.35,
    planes: int = 8,
    tables: int = 2,
    seed: int = 42,
    dim: int = 64,
) -> str:
    """DuckDB replica of ``embedding_dedup_pairs``: same literal-plane
    buckets and Hamming-1 probes as ``_lsh_sql``, candidates restricted to
    id_a < id_b (the probe relation is symmetric, so one direction covers
    the undirected pair set), exact cosine ≥ threshold on the unrounded
    double, then rounding."""
    bucket_cols = _sql_bucket_cols(planes, tables, seed, dim)
    probe_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {t} AS tbl, unnest({_sql_probes(f'bkt{t}', planes)}) AS bucket FROM sig"
        for t in range(tables)
    )
    csig_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {t} AS tbl, bkt{t} AS bucket FROM sig"
        for t in range(tables)
    )
    dot_ab = "(" + " + ".join(
        f"a.v[{i + 1}] * b.v[{i + 1}]" for i in range(dim)
    ) + ")"
    return f"""
WITH prep AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
nz AS (
  SELECT vec_id, v, {_sql_sumsq('v', dim)} AS sq FROM prep
  WHERE {_sql_sumsq('v', dim)} > 0
),
sig AS (
  SELECT vec_id, {", ".join(bucket_cols)} FROM nz
),
probes AS (
{probe_union}
),
csig AS (
{csig_union}
),
cand AS (
  SELECT DISTINCT p.vec_id AS id_a, c.vec_id AS id_b
  FROM probes p JOIN csig c ON p.tbl = c.tbl AND p.bucket = c.bucket
  WHERE p.vec_id < c.vec_id
),
scored AS (
  SELECT cand.id_a, cand.id_b,
         {dot_ab} / (sqrt(a.sq) * sqrt(b.sq)) AS cosine
  FROM cand
  JOIN nz a ON a.vec_id = cand.id_a
  JOIN nz b ON b.vec_id = cand.id_b
)
SELECT CAST(id_a AS BIGINT) AS id_a,
       CAST(id_b AS BIGINT) AS id_b,
       ROUND(cosine, 6) AS cosine
FROM scored WHERE cosine >= {threshold}
"""


ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _ivf_oracle_codebook(
    sf_dir: str | None = None,
    n_centroids: int = 16,
    lloyd_iters: int = 2,
    sample_size: int = 65_536,
) -> list[list[float]]:
    """Replay the engine's IVF codebook fit off-Spark: read the embeddings
    parquet directly, apply the same zero-norm filter, order by the same
    (xxhash64(id), id) key (Spark's xxhash64 replicated in pure Python),
    take the same sample, run the same numpy Lloyd. Bit-identical output
    to ``ivf_fit_centroids`` on the same table.

    The correctness gate runs oracles at sf0.01 (driver contract), so the
    parquet path defaults to that directory (env-overridable via
    SPARK_GRAFT_ORACLE_SF_DIR)."""
    import duckdb
    import numpy as np

    from bluegraph_spark.operators.similarity import (
        lloyd_codebook,
        spark_xxhash64_long,
    )

    path = f"{sf_dir or ORACLE_SF_DIR}/embeddings.parquet"
    rows = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM read_parquet('{path}')"
    ).fetchall()
    recs = []
    for vid, emb in rows:
        v = np.asarray(emb, dtype=np.float64)
        if float((v * v).sum()) > 0:
            recs.append((spark_xxhash64_long(int(vid)), int(vid), v))
    recs.sort(key=lambda t: (t[0], t[1]))
    return lloyd_codebook(
        np.stack([r[2] for r in recs[:sample_size]]), n_centroids, lloyd_iters
    )


def _ivf_sql(
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    n_queries: int = 30,
) -> str:
    """DuckDB replica of ``ivf_cosine_topk`` with the engine's exact knobs:
    centroid literals from ``_ivf_oracle_codebook`` (bit-identical to the
    engine fit), left-associated dot products matching the engine's
    aggregate-fold order, first-index argmax cell assignment, top-nprobe
    probing with the engine's (dot desc, cell desc) tie-break, exact cosine
    inside probed cells, top-k."""
    cents = _ivf_oracle_codebook(n_centroids=n_centroids)
    nprobe = min(nprobe, len(cents))

    def dot(vcol: str, ws: list[float]) -> str:
        return "(" + " + ".join(
            f"{vcol}[{i + 1}] * ({w!r})" for i, w in enumerate(ws)
        ) + ")"

    def sumsq(vcol: str) -> str:
        return "(" + " + ".join(
            f"{vcol}[{i + 1}] * {vcol}[{i + 1}]" for i in range(dim)
        ) + ")"

    ds = "[" + ", ".join(dot("v", c) for c in cents) + "]"
    dot_qc = "(" + " + ".join(
        f"q.v[{i + 1}] * c.v[{i + 1}]" for i in range(dim)
    ) + ")"
    return f"""
WITH prep AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
nz AS (
  SELECT vec_id, v, {sumsq('v')} AS sq FROM prep WHERE {sumsq('v')} > 0
),
dots AS (
  SELECT vec_id, {ds} AS ds FROM nz
),
assigned AS (
  SELECT vec_id, list_indexof(ds, list_max(ds)) - 1 AS cell FROM dots
),
qrank AS (
  SELECT vec_id, pos - 1 AS cell,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY d DESC, pos DESC
         ) AS rn
  FROM (
    SELECT vec_id, generate_subscripts(ds, 1) AS pos, unnest(ds) AS d
    FROM dots WHERE vec_id < {n_queries}
  )
),
qprobes AS (SELECT vec_id, cell FROM qrank WHERE rn <= {nprobe}),
cand AS (
  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
  FROM qprobes p JOIN assigned a ON p.cell = a.cell
  WHERE p.vec_id <> a.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {dot_qc} / (sqrt(q.sq) * sqrt(c.sq)) AS cosine
  FROM cand
  JOIN nz q ON q.vec_id = cand.query_id
  JOIN nz c ON c.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
         ) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       ROUND(cosine, 6) AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


def _media_sql() -> str:
    """DuckDB replica of the mapInPandas byte-feature kernel
    (multimodal.fake_byte_features) over payload = UTF-8 bytes of ``text``:
    per-byte values come from the hex dump of the blob; byte sums and
    sums-of-squares are exact integers, so mean = s/n and
    std = sqrt(max(ss/n - mean^2, 0)) reproduce the numpy doubles bit-for-
    bit (same expressions over the same exact integers)."""
    hexv = "(strpos('0123456789ABCDEF', {c}) - 1)"
    hi = hexv.format(c="substr(h, 2 * i + 1, 1)")
    lo = hexv.format(c="substr(h, 2 * i + 2, 1)")
    return f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents
),
bytes AS (
  SELECT doc_id, n, ({hi} * 16 + {lo}) AS v
  FROM (SELECT doc_id, h, n, unnest(range(n)) AS i FROM b)
),
agg AS (
  SELECT doc_id, n, sum(v) AS s, sum(v * v) AS ss
  FROM bytes GROUP BY 1, 2
),
feat AS (
  SELECT doc_id, n,
         CAST(s AS DOUBLE) / n AS mean,
         sqrt(greatest(
           CAST(ss AS DOUBLE) / n
             - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
           0.0)) AS std
  FROM agg
  UNION ALL
  SELECT doc_id, 0, 0.0, 0.0 FROM b WHERE n = 0
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       'video' AS kind,
       CAST(n AS BIGINT) AS n_bytes,
       ROUND(mean, 6) AS byte_mean,
       ROUND(std, 6) AS byte_std
FROM feat
"""


def _quality_sql() -> str:
    from bluegraph_spark.functions.text import EN_STOPWORDS

    stop = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
    return f"""
WITH {_DOC_TOKS},
base AS (
  SELECT d.doc_id,
         CAST(len(t.t) AS DOUBLE) AS n,
         CAST(len(list_distinct(t.t)) AS DOUBLE) AS nd,
         CAST(list_sum(list_transform(t.t, x -> length(x))) AS DOUBLE)
           / greatest(len(t.t), 1) AS mlen,
         CAST(length(d.text) - length(regexp_replace(d.text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
           / greatest(length(d.text), 1) AS pr,
         CAST(len(list_filter(t.t, x -> x IN ({stop}))) AS DOUBLE)
           / greatest(len(t.t), 1) AS sr
  FROM documents d JOIN toks t USING (doc_id)
)
SELECT doc_id,
       ROUND((CASE WHEN n >= 10 AND n <= 10000 THEN 1.0 ELSE 0.0 END
            + CASE WHEN pr < 0.2 THEN 1.0 ELSE 0.0 END
            + CASE WHEN mlen >= 2.0 AND mlen <= 12.0 THEN 1.0 ELSE 0.0 END
            + least(nd / greatest(n, 1) * 2, 1.0)) / 4.0, 8) AS quality,
       ROUND(sr, 8) AS stop_ratio
FROM base
"""


def _louvain_sql(rounds: int = LOUVAIN_ROUNDS) -> str:
    """Unrolled deterministic synchronous Louvain on the supplier frequency
    graph — the exact recurrence of ``operators/louvain.py`` with
    ``exact_rounds`` and the CAST(id AS BIGINT)%2 parity gate:

    - kic includes a zero row for each vertex's own community (both engines
      share this shape, so the stay-gain needs no COALESCE asymmetry);
    - gain = kic - k * (tot - [own]*k) / tm, written with the same
      association as the Spark column expression (all aggregates are sums
      of integers → exact doubles → bit-identical comparisons);
    - best = row_number() over (gain DESC, community ASC), mirroring the
      engine's window exactly;
    - move iff parity matches AND best_gain > stay_gain (strict)."""
    pieces = [
        f"WITH {_SUPP_OCC},",
        """
pairs AS (
  SELECT a.node AS src, b.node AS dst, count(*) AS frequency
  FROM occ a JOIN occ b ON a.factor = b.factor AND a.node < b.node
  GROUP BY 1, 2
),
sym AS MATERIALIZED (
  SELECT src, dst, CAST(frequency AS DOUBLE) AS w FROM pairs
  UNION ALL
  SELECT dst, src, CAST(frequency AS DOUBLE) FROM pairs
),
deg AS MATERIALIZED (SELECT src AS id, sum(w) AS k FROM sym GROUP BY 1),
tm AS MATERIALIZED (SELECT sum(w) AS tm FROM sym),
l0 AS MATERIALIZED (SELECT id, id AS c FROM deg)""",
    ]
    for r in range(1, rounds + 1):
        par = (r - 1) % 2
        pieces.append(
            f""",
kic{r} AS MATERIALIZED (
  SELECT id, c, sum(w) AS kic FROM (
    SELECT e.src AS id, l.c AS c, e.w AS w
    FROM sym e JOIN l{r - 1} l ON l.id = e.dst
    UNION ALL
    SELECT id, c, CAST(0 AS DOUBLE) FROM l{r - 1}
  ) GROUP BY 1, 2
),
tot{r} AS MATERIALIZED (
  SELECT l.c AS c, sum(d.k) AS tot
  FROM l{r - 1} l JOIN deg d ON d.id = l.id GROUP BY 1
),
cand{r} AS MATERIALIZED (
  SELECT k.id, k.c, l.c AS c_own,
         k.kic - d.k * (t.tot - CASE WHEN k.c = l.c THEN d.k ELSE CAST(0 AS DOUBLE) END) / tm.tm AS gain
  FROM kic{r} k
  JOIN deg d ON d.id = k.id
  JOIN l{r - 1} l ON l.id = k.id
  JOIN tot{r} t ON t.c = k.c
  CROSS JOIN tm
),
best{r} AS MATERIALIZED (
  SELECT id, c AS best_c, gain AS best_gain FROM (
    SELECT id, c, gain,
           row_number() OVER (PARTITION BY id ORDER BY gain DESC, c ASC) AS rn
    FROM cand{r} WHERE c <> c_own
  ) WHERE rn = 1
),
l{r} AS MATERIALIZED (
  SELECT s.id,
         CASE WHEN (CAST(s.id AS BIGINT) % 2) = {par} AND b.best_gain > s.gain
              THEN b.best_c ELSE s.c END AS c
  FROM (SELECT id, c_own AS c, gain FROM cand{r} WHERE c = c_own) s
  LEFT JOIN best{r} b ON b.id = s.id
)"""
        )
    pieces.append(f"\nSELECT id, c AS community FROM l{rounds}")
    return "".join(pieces)


def _sssp_sql(rounds: int = SSSP_ROUNDS) -> str:
    """Unrolled Bellman-Ford from part '1' over the parts frequency graph;
    identical per-round states to the engine's frontier relaxation (a
    vertex not improved in round k-1 contributes nothing new in round k).
    Frequency weights are integers, so path sums and mins are exact."""
    pieces = [
        f"WITH {_PART_OCC}, {_PART_PAIRS},",
        """
sym AS (
  SELECT src, dst, CAST(frequency AS DOUBLE) AS w FROM pairs
  UNION ALL
  SELECT dst, src, CAST(frequency AS DOUBLE) FROM pairs
),
d0 AS (SELECT CAST('1' AS VARCHAR) AS id, CAST(0 AS DOUBLE) AS dist)""",
    ]
    for r in range(1, rounds + 1):
        pieces.append(
            f""",
d{r} AS (
  SELECT id, min(dist) AS dist FROM (
    SELECT id, dist FROM d{r - 1}
    UNION ALL
    SELECT e.dst AS id, d.dist + e.w AS dist
    FROM sym e JOIN d{r - 1} d ON d.id = e.src
  ) GROUP BY id
)"""
        )
    pieces.append(f"\nSELECT id, dist FROM d{rounds}")
    return "".join(pieces)


def _encode_sql(sf_dir: str | None = None, text_dim: int = ENC_TEXT_DIM) -> str:
    """Independent refit of the supplier encoder in DuckDB/Python at
    oracle-build time (vocabularies, idf, mean/std as literals — the
    MST/IVF constants technique), then pure-SQL scoring mirroring the
    engine's transform: per-term tf via list_filter, smooth-idf weights,
    L2 row normalization with the same left-to-right addition order,
    multi-hot categories, standardized numeric with mean imputation."""
    import duckdb
    import math as _math

    con = duckdb.connect()
    d = sf_dir or ORACLE_SF_DIR
    con.sql(f"CREATE VIEW supplier AS SELECT * FROM '{d}/supplier.parquet'")
    toks_expr = (
        "list_filter(regexp_split_to_array(lower(coalesce(s_name, '')),"
        " '[^a-z0-9]+'), x -> x <> '')"
    )
    cats = sorted(
        r[0]
        for r in con.sql(
            "SELECT DISTINCT CAST(s_nationkey AS VARCHAR) FROM supplier"
            " WHERE s_nationkey IS NOT NULL"
        ).fetchall()
    )
    n_docs = con.sql("SELECT count(*) FROM supplier").fetchone()[0]
    dfreq = con.sql(
        f"""
        SELECT term, count(*) AS df FROM (
          SELECT s_suppkey, unnest(list_distinct({toks_expr})) AS term
          FROM supplier
        ) GROUP BY term ORDER BY df DESC, term LIMIT {text_dim}
        """
    ).fetchall()
    chosen = sorted(dfreq)
    vocab = [t for t, _ in chosen]
    idf = [
        round(_math.log((1.0 + n_docs) / (1.0 + df)) + 1.0, 12)
        for _, df in chosen
    ]
    m, q = con.sql(
        "SELECT round(avg(s_acctbal), 12), round(avg(s_acctbal*s_acctbal), 12)"
        " FROM supplier"
    ).fetchone()
    var = q - m * m
    s = round(_math.sqrt(var), 12) if var > 0 else 1.0

    raws = [
        f"(len(list_filter(toks, x -> x = '{v}')) * {idf[i]!r})"
        for i, v in enumerate(vocab)
    ]
    norm = "sqrt(" + " + ".join(f"{r} * {r}" for r in raws) + ")"
    text_vals = [
        f"CASE WHEN nrm > 0 THEN round({r} / nrm, 12) ELSE 0.0 END"
        for r in raws
    ]
    cat_vals = [
        f"CASE WHEN CAST(s_nationkey AS VARCHAR) = '{c}' THEN 1.0 ELSE 0.0 END"
        for c in cats
    ]
    num_val = f"round((coalesce(s_acctbal, {m!r}) - {m!r}) / {s!r}, 12)"
    # engine feature order: sorted property names — s_acctbal, s_comment,
    # s_nationkey
    feats = ",\n    ".join([num_val] + text_vals + cat_vals)
    return f"""
WITH base AS (
  SELECT CAST(s_suppkey AS VARCHAR) AS id, s_nationkey, s_acctbal,
         {toks_expr} AS toks,
         {norm} AS nrm
  FROM supplier
),
scored AS (
  SELECT id, [
    {feats}
  ] AS f
  FROM base
)
SELECT id, CAST(i - 1 AS INT) AS dim, round(f[i], 6) AS value
FROM scored, UNNEST(generate_series(1, len(f))) t(i)
"""


_VECTOR_METRICS_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
p AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         a.v AS u, b.v AS v,
         list_transform(a.v, x -> abs(x) + 0.001) AS au,
         list_transform(b.v, x -> abs(x) + 0.001) AS av
  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
),
-- Poincaré on ball-scaled vectors x/(|x|+1)
poin AS (
  SELECT src, dst,
         -- DuckDB has no acosh: acosh(x) = ln(x + sqrt(x^2 - 1))
         ln(x + sqrt(x * x - 1.0)) AS poincare
  FROM (SELECT src, dst, 1.0 + 2.0 * d2 / ((1.0 - nu) * (1.0 - nv)) AS x
  FROM (
    SELECT src, dst,
      list_reduce(list_transform(generate_series(1, len(u)),
        i -> (u[i]/(nrmu+1.0) - v[i]/(nrmv+1.0)) * (u[i]/(nrmu+1.0) - v[i]/(nrmv+1.0))),
        (a, b) -> a + b) AS d2,
      list_reduce(list_transform(u, x -> (x/(nrmu+1.0)) * (x/(nrmu+1.0))), (a, b) -> a + b) AS nu,
      list_reduce(list_transform(v, x -> (x/(nrmv+1.0)) * (x/(nrmv+1.0))), (a, b) -> a + b) AS nv
    FROM (
      SELECT src, dst, u, v,
        sqrt(list_reduce(list_transform(u, x -> x * x), (a, b) -> a + b)) AS nrmu,
        sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrmv
      FROM p
    )
  ))
),
-- distribution metrics via per-element rows + cumulative windows
ex AS MATERIALIZED (
  SELECT src, dst, i, au[i] AS a, av[i] AS b,
         sum(au[i]) OVER (PARTITION BY src, dst) AS sa,
         sum(av[i]) OVER (PARTITION BY src, dst) AS sb
  FROM p, UNNEST(generate_series(1, len(au))) t(i)
),
cum AS (
  SELECT src, dst, i, a, b, sa, sb,
         sum(a / sa) OVER (PARTITION BY src, dst ORDER BY i) AS cu,
         sum(b / sb) OVER (PARTITION BY src, dst ORDER BY i) AS cv
  FROM ex
),
dm AS (
  SELECT src, dst,
         sum(abs(cu - cv)) AS wasserstein,
         sum((a / sa) * ln((a / sa) / (b / sb))) AS kl
  FROM cum GROUP BY 1, 2
)
SELECT poin.src, poin.dst,
       round(poin.poincare, 6) AS poincare,
       round(dm.wasserstein, 6) AS wasserstein,
       round(dm.kl, 6) AS kl
FROM poin JOIN dm ON dm.src = poin.src AND dm.dst = poin.dst
"""


def _walks_sql(length: int = WALK_LEN, seed: int = WALK_SEED) -> str:
    """Unrolled SQL replica of the walk generator: same 48-bit md5 choice
    hash, same cumulative-interval pick, one MATERIALIZED CTE per step
    (each step CTE is referenced twice — by the next step and by its
    output projection — and DuckDB inlines CTEs by default)."""
    space = float(1 << 48)
    pieces = [
        f"WITH {_PART_OCC}, {_PART_PAIRS},",
        """
sym AS (
  SELECT src, dst, CAST(frequency AS DOUBLE) AS w FROM pairs
  UNION ALL
  SELECT dst, src, CAST(frequency AS DOUBLE) FROM pairs
),
nbrs AS MATERIALIZED (
  SELECT src, dst, w,
         sum(w) OVER (PARTITION BY src ORDER BY dst) AS cumw,
         sum(w) OVER (PARTITION BY src) AS totw
  FROM (SELECT src, dst, sum(w) AS w FROM sym GROUP BY 1, 2)
),
s0 AS MATERIALIZED (
  SELECT src || ':0' AS walk_id, src AS cur FROM (SELECT DISTINCT src FROM sym)
),
out0 AS (SELECT walk_id, 0 AS step, cur AS node FROM s0)""",
    ]
    for t in range(1, length + 1):
        pieces.append(
            f""",
s{t} AS MATERIALIZED (
  SELECT c.walk_id, n.dst AS cur
  FROM s{t - 1} c JOIN nbrs n ON n.src = c.cur
  WHERE n.cumw - n.w <=
        (('0x' || substr(md5('{seed}:' || c.walk_id || ':{t}'), 1, 12))::BIGINT)::DOUBLE
          * n.totw / {space}
    AND (('0x' || substr(md5('{seed}:' || c.walk_id || ':{t}'), 1, 12))::BIGINT)::DOUBLE
          * n.totw / {space} < n.cumw
),
out{t} AS (SELECT walk_id, {t} AS step, cur AS node FROM s{t})"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM out{t}" for t in range(0, length + 1)
    )
    pieces.append(
        f"""
SELECT walk_id, CAST(step AS INT) AS step, node FROM ({union})"""
    )
    return "".join(pieces)


def _lp_sql(lr: float = LP_LR, iters: int = LP_ITERS) -> str:
    """Self-contained SQL replica of the quantized-GD logistic regression:
    feature reductions (the proven edge_features list_reduce construction),
    explicit-formula standardization, ``iters`` unrolled gradient/weight
    CTE pairs with every aggregate and weight rounded to 12 decimals (the
    engine's cross-engine contract), and final scoring rounded to 4."""
    fcols = ["dot", "l1_dist", "l2_sq", "avg_sum"]
    reduce_exprs = {
        "dot": "u[i] * w[i]",
        "l1_dist": "abs(u[i] - w[i])",
        "l2_sq": "(u[i] - w[i]) * (u[i] - w[i])",
        "avg_sum": "(u[i] + w[i]) / 2.0",
    }
    feat_cols = ",\n  ".join(
        f"round(list_reduce(list_transform(generate_series(1, len(u)), "
        f"i -> {expr}), (a, b) -> a + b), 6) AS {c}"
        for c, expr in reduce_exprs.items()
    )
    m_cols = ", ".join(
        f"round(avg({c}), 12) AS m{i}, round(avg({c}*{c}), 12) AS q{i}"
        for i, c in enumerate(fcols)
    )
    s_cols = ", ".join(
        f"m{i}, CASE WHEN q{i} - m{i}*m{i} > 0 "
        f"THEN round(sqrt(q{i} - m{i}*m{i}), 12) ELSE 1.0 END AS s{i}"
        for i in range(len(fcols))
    )
    sf_cols = ", ".join(
        f"round(({c} - m{i}) / s{i}, 12) AS f{i}"
        for i, c in enumerate(fcols)
    )
    zlin = " + ".join(f"w{i} * f{i}" for i in range(len(fcols)))
    pieces = [
        f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
prs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, 1 AS y, a.v AS u, b.v AS w
  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
  UNION ALL
  SELECT a.vec_id, b.vec_id, 0, a.v, b.v
  FROM e a JOIN e b ON b.vec_id = a.vec_id + 5
),
feat AS MATERIALIZED (
  SELECT src, dst, y,
  {feat_cols}
  FROM prs
),
st AS (SELECT {m_cols} FROM feat),
sd AS (SELECT {s_cols} FROM st),
sf AS MATERIALIZED (SELECT y, {sf_cols} FROM feat CROSS JOIN sd),
it0 AS (SELECT 0.0 AS b, {', '.join(f'0.0 AS w{i}' for i in range(len(fcols)))})"""
    ]
    g_cols = ", ".join(
        f"round(avg((sig - y) * f{i}), 12) AS g{i}"
        for i in range(len(fcols))
    )
    w_cols = ", ".join(
        f"round(w.w{i} - {lr} * g.g{i}, 12) AS w{i}"
        for i in range(len(fcols))
    )
    for t in range(1, iters + 1):
        pieces.append(
            f""",
g{t} AS MATERIALIZED (
  SELECT round(avg(sig - y), 12) AS gb, {g_cols}
  FROM (SELECT y, {', '.join(f'f{i}' for i in range(len(fcols)))},
               1.0 / (1.0 + exp(-(b + {zlin}))) AS sig
        FROM sf CROSS JOIN it{t - 1})
),
it{t} AS MATERIALIZED (
  SELECT round(w.b - {lr} * g.gb, 12) AS b, {w_cols}
  FROM it{t - 1} w CROSS JOIN g{t} g
)"""
        )
    # predict_edges standardizes WITHOUT the fit-path's round-12 (the
    # round-4 output makes the distinction unobservable; mirror it anyway)
    zfin = " + ".join(
        f"w{i} * (({c} - m{i}) / s{i})" for i, c in enumerate(fcols)
    )
    pieces.append(
        f"""
SELECT src, dst, CAST(y AS INT) AS y, round(sig, 4) AS score,
       CASE WHEN round(sig, 4) >= 0.5 THEN 1 ELSE 0 END AS pred
FROM (
  SELECT src, dst, y, 1.0 / (1.0 + exp(-(b + {zfin}))) AS sig
  FROM feat CROSS JOIN sd CROSS JOIN it{iters}
)"""
    )
    return "".join(pieces)


def _kssp_sql(rounds: int = KSSP_ROUNDS, k: int = KSSP_K) -> str:
    """Unrolled k-label Bellman-Ford from part '1': each round unions the
    previous label set with its one-edge relaxations, dedupes by value,
    and keeps the k smallest distinct labels per vertex — identical
    per-round states to the engine's frontier form (see q_kshortest_parts)."""
    pieces = [
        f"WITH {_PART_OCC}, {_PART_PAIRS},",
        """
sym AS (
  SELECT src, dst, CAST(frequency AS DOUBLE) AS w FROM pairs
  UNION ALL
  SELECT dst, src, CAST(frequency AS DOUBLE) FROM pairs
),
d0 AS (SELECT CAST('1' AS VARCHAR) AS id, CAST(0 AS DOUBLE) AS dist)""",
    ]
    for r in range(1, rounds + 1):
        pieces.append(
            f""",
d{r} AS (
  SELECT id, dist FROM (
    SELECT id, dist,
           row_number() OVER (PARTITION BY id ORDER BY dist) AS rk
    FROM (
      SELECT DISTINCT id, dist FROM (
        SELECT id, dist FROM d{r - 1}
        UNION ALL
        SELECT e.dst AS id, d.dist + e.w AS dist
        FROM sym e JOIN d{r - 1} d ON d.id = e.src
      )
    )
  ) WHERE rk <= {k}
)"""
        )
    pieces.append(
        f"""
SELECT id, CAST(row_number() OVER (PARTITION BY id ORDER BY dist) AS INT) AS rank,
       dist
FROM d{rounds}"""
    )
    return "".join(pieces)


def _fastrp_sql(
    dim: int = FASTRP_DIM,
    seed: int = FASTRP_SEED,
    weights: tuple = FASTRP_WEIGHTS,
) -> str:
    """Exact SQL replica of the engine's FastRP: same md5 sparse-sign
    init, same weighted-mean propagation, same per-iteration L2
    normalization rounded to 12 decimals (the quantization IS the
    cross-engine contract), iterations unrolled as CTEs."""
    pieces = [
        f"WITH {_PART_OCC}, {_PART_PAIRS},",
        f"""
sym AS (
  SELECT src, dst, CAST(frequency AS DOUBLE) AS w FROM pairs
  UNION ALL
  SELECT dst, src, CAST(frequency AS DOUBLE) FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM sym),
dims AS (SELECT j::INT AS j FROM range(0, {dim}) t(j)),
e0r AS (
  SELECT id, j,
    CASE ((('0x' || substr(md5('{seed}:' || id || ':' || j), 1, 15))::BIGINT) % 6)
      WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END AS v
  FROM nodes CROSS JOIN dims
),
it0 AS (
  SELECT id, j, CASE WHEN nrm > 0 THEN ROUND(v / nrm, 12) ELSE v END AS v
  FROM (SELECT *, sqrt(sum(v*v) OVER (PARTITION BY id)) AS nrm FROM e0r)
)""",
    ]
    for k in range(1, len(weights) + 1):
        pieces.append(
            f""",
it{k}r AS (
  SELECT e.dst AS id, c.j, sum(c.v * e.w) / sum(e.w) AS v
  FROM sym e JOIN it{k - 1} c ON c.id = e.src GROUP BY 1, 2
),
it{k}f AS (
  SELECT n.id, d.j, coalesce(r.v, 0.0) AS v
  FROM nodes n CROSS JOIN dims d
  LEFT JOIN it{k}r r ON r.id = n.id AND r.j = d.j
),
it{k} AS (
  SELECT id, j, CASE WHEN nrm > 0 THEN ROUND(v / nrm, 12) ELSE v END AS v
  FROM (SELECT *, sqrt(sum(v*v) OVER (PARTITION BY id)) AS nrm FROM it{k}f)
)"""
        )
    terms = " + ".join(
        f"{w} * it{k + 1}.v" for k, w in enumerate(weights)
    )
    joins = "".join(
        f" JOIN it{k} ON it{k}.id = it1.id AND it{k}.j = it1.j"
        for k in range(2, len(weights) + 1)
    )
    pieces.append(
        f"""
SELECT it1.id, it1.j AS dim, ROUND({terms}, 6) AS value
FROM it1{joins}"""
    )
    return "".join(pieces)


def _mst_oracle_sql(sf_dir: str | None = None) -> str:
    """Independent Kruskal over the same NPMI-distance supplier edges,
    emitted as literal rows (the IVF-codebook technique: data-dependent
    oracle constants are computed at oracle_sql() time by reading the
    oracle-sf parquet directly). The engine runs distributed Borůvka; both
    use the (weight, src, dst) total order, under which the spanning
    forest is unique — so edge-set equality is exact, not approximate."""
    import duckdb

    con = duckdb.connect()
    d = sf_dir or ORACLE_SF_DIR
    for t in ("lineitem", "supplier"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    rows = con.sql(
        f"""WITH {_SUPP_NPMI_EDGES}
SELECT src, dst, ROUND(1.0 / w, 8) AS dist FROM wedges"""
    ).fetchall()
    # Kruskal with union-find, edges sorted by the engine's total order
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    tree = []
    for src, dst, w in sorted(rows, key=lambda t: (t[2], t[0], t[1])):
        ra, rb = find(src), find(dst)
        if ra != rb:
            parent[ra] = rb
            tree.append((src, dst, w))
    values = ",\n".join(f"('{s}', '{t}', {w!r})" for s, t, w in tree)
    return f"""
SELECT CAST(src AS VARCHAR) AS src, CAST(dst AS VARCHAR) AS dst,
       CAST(distance_npmi AS DOUBLE) AS distance_npmi
FROM (VALUES
{values}
) AS t(src, dst, distance_npmi)
"""


def _hierarchy_oracle_sql(sf_dir: str | None = None, k: int = HIER_K) -> str:
    """Independent single-linkage: pure-Python union-find over the
    DuckDB-computed NPMI-distance edges, merging in the engine's
    (distance, src, dst) total order until k clusters remain; min-id
    canonical labels, emitted as literal rows (the MST/IVF oracle
    technique for data-dependent constants)."""
    import duckdb

    con = duckdb.connect()
    d = sf_dir or ORACLE_SF_DIR
    for t in ("lineitem", "supplier"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    rows = con.sql(
        f"""WITH {_SUPP_NPMI_EDGES}
SELECT src, dst, ROUND(1.0 / w, 8) AS dist FROM wedges"""
    ).fetchall()
    nodes = sorted({n for r in rows for n in r[:2]})
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_comp = len(nodes)
    for s, t, w in sorted(rows, key=lambda r: (r[2], r[0], r[1])):
        if n_comp <= k:
            break
        ra, rb = find(s), find(t)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            n_comp -= 1
    values = ",\n".join(f"('{n}', '{find(n)}')" for n in nodes)
    return f"""
SELECT CAST(id AS VARCHAR) AS id, CAST(cluster AS VARCHAR) AS cluster
FROM (VALUES
{values}
) AS t(id, cluster)
"""


def _minhash_incremental_sql() -> str:
    """The incremental contract as SQL: the batch-involving subset of the
    one-shot MinHash run (pairs are canonical id_a < id_b and batch ids
    are all >= the split, so a batch-involving pair always has
    id_b >= split)."""
    return f"""
SELECT * FROM ({_minhash_sql()}) t WHERE id_b >= {INCR_SPLIT}
"""


def oracle_sql() -> dict[str, str]:
    return {
        "cooc_parts_freq": f"""
WITH {_PART_OCC}, {_PART_PAIRS}
SELECT src, dst, CAST(frequency AS BIGINT) AS frequency FROM pairs
""",
        "cooc_parts_npmi": _mi_sql(),
        "cooc_parts_mi_variants": _mi_variants_sql(),
        "npmi_distance_parts": _npmi_distance_sql(),
        "cooc_agg_suppliers": f"""
WITH {_SUPP_OCC}
SELECT a.node AS src, b.node AS dst, CAST(count(*) AS BIGINT) AS frequency
FROM occ a JOIN occ b ON a.factor = b.factor AND a.node < b.node
GROUP BY 1, 2
""",
        "cooc_top_parts": f"""
WITH {_PART_OCC},
nf AS (SELECT node, count(*) AS c FROM occ GROUP BY 1),
top AS (SELECT node FROM nf ORDER BY c DESC, node ASC LIMIT 500),
o2 AS (SELECT occ.node, occ.factor FROM occ JOIN top USING (node)),
pairs AS (
  SELECT a.node AS src, b.node AS dst, count(*) AS frequency
  FROM o2 a JOIN o2 b ON a.factor = b.factor AND a.node < b.node
  GROUP BY 1, 2
)
SELECT src, dst, CAST(frequency AS BIGINT) AS frequency FROM pairs
""",
        "pagerank_parts": _pagerank_sql(),
        "cc_orders": """
SELECT CAST(o_orderkey AS VARCHAR) AS id,
       min(CAST(o_orderkey AS VARCHAR)) OVER (PARTITION BY o_custkey) AS component
FROM orders
""",
        "lpa_suppliers": _lpa_sql(),
        "lpa_npmi_suppliers": _lpa_npmi_sql(),
        "modularity_npmi_suppliers": _modularity_npmi_sql(),
        "triangles_parts": f"""
WITH {_PART_OCC}, {_PART_PAIRS},
e AS (SELECT src AS a, dst AS b FROM pairs),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
),
corners AS (
  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
),
v AS (SELECT a AS id FROM e UNION SELECT b FROM e)
SELECT v.id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS triangles
FROM v LEFT JOIN (SELECT id, count(*) AS cnt FROM corners GROUP BY 1) c USING (id)
""",
        "degree_parts": f"""
WITH {_PART_OCC}, {_PART_PAIRS},
ends AS (
  SELECT src AS id, CAST(frequency AS DOUBLE) AS w FROM pairs
  UNION ALL SELECT dst, CAST(frequency AS DOUBLE) FROM pairs
)
SELECT id, ROUND(sum(w), 6) AS degree FROM ends GROUP BY 1
""",
        "density_parts": f"""
WITH {_PART_OCC}, {_PART_PAIRS},
v AS (SELECT src AS id FROM pairs UNION SELECT dst FROM pairs),
c AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM pairs)
SELECT ROUND(2.0 * m.m / (c.n * (c.n - 1)), 10) AS density FROM c, m
""",
        "top_neighbors_parts": f"""
WITH {_PART_OCC}, {_PART_PAIRS},
sym AS (
  SELECT src, dst, frequency FROM pairs
  UNION ALL SELECT dst, src, frequency FROM pairs
),
ranked AS (
  SELECT src AS id, dst AS neighbor, CAST(frequency AS BIGINT) AS frequency,
         row_number() OVER (PARTITION BY src ORDER BY frequency DESC, dst ASC) AS rank
  FROM sym
)
SELECT id, neighbor, frequency, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
""",
        "modularity_suppliers": f"""
WITH {_SUPP_OCC},
pairs AS (
  SELECT a.node AS src, b.node AS dst, CAST(count(*) AS DOUBLE) AS w
  FROM occ a JOIN occ b ON a.factor = b.factor AND a.node < b.node
  GROUP BY 1, 2
),
lab AS (SELECT CAST(s_suppkey AS VARCHAR) AS id, CAST(s_nationkey AS VARCHAR) AS c FROM supplier),
el AS (
  SELECT p.w, ls.c AS cs, ld.c AS ct
  FROM pairs p JOIN lab ls ON ls.id = p.src JOIN lab ld ON ld.id = p.dst
),
m AS (SELECT sum(w) AS m FROM el),
dsum AS (
  SELECT c, sum(w) AS d FROM (
    SELECT cs AS c, w FROM el UNION ALL SELECT ct, w FROM el
  ) GROUP BY 1
),
intra AS (SELECT cs AS c, sum(w) AS e FROM el WHERE cs = ct GROUP BY 1)
SELECT ROUND(sum(COALESCE(i.e, 0) / m.m - (d.d / (2 * m.m)) * (d.d / (2 * m.m))), 10) AS modularity
FROM dsum d LEFT JOIN intra i USING (c), m
""",
        "isolated_orders": """
SELECT CAST(o_orderkey AS VARCHAR) AS id
FROM orders
QUALIFY count(*) OVER (PARTITION BY o_custkey) = 1
""",
        "dedup_exact_docs": """
SELECT md5(text) AS content_hash,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS keep_id
FROM documents GROUP BY 1
""",
        "ngram_jaccard_docs": _jaccard_sql(),
        "minhash_docs": _minhash_sql(),
        "ann_cosine_docs": """
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY 1),
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, sum(a.x * b.x) AS dot
  FROM flat a JOIN flat b ON a.pos = b.pos AND a.vec_id <> b.vec_id
  WHERE a.vec_id < 50
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.neighbor_id, d.dot / (na.nrm * nb.nrm) AS cosine
  FROM dots d
  JOIN norms na ON na.vec_id = d.query_id
  JOIN norms nb ON nb.vec_id = d.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       ROUND(cosine, 6) AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
""",
        "text_stats_docs": f"""
WITH {_DOC_TOKS}
SELECT d.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(t.t)) AS BIGINT) AS n_distinct,
       ROUND(CAST(list_sum(list_transform(t.t, x -> length(x))) AS DOUBLE)
             / greatest(len(t.t), 1), 8) AS mean_tok_len,
       ROUND(CAST(length(d.text) - length(regexp_replace(d.text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
             / greatest(length(d.text), 1), 8) AS punct_ratio,
       md5(array_to_string(list_sort(list_distinct(t.t)), ' ')) AS fingerprint
FROM documents d JOIN toks t USING (doc_id)
""",
        "langid_docs": _langid_sql(),
        "sha256_docs": "SELECT doc_id, sha256(text) AS sha FROM documents",
        "cooc_multiset_supp": """
WITH occ AS (
  SELECT CAST(l_suppkey AS VARCHAR) AS node,
         CAST(l_orderkey AS VARCHAR) AS factor,
         count(*) AS cnt
  FROM lineitem GROUP BY 1, 2
)
SELECT a.node AS src, b.node AS dst,
       CAST(sum(least(a.cnt, b.cnt)) AS BIGINT) AS frequency
FROM occ a JOIN occ b ON a.factor = b.factor AND a.node < b.node
GROUP BY 1, 2
HAVING sum(least(a.cnt, b.cnt)) >= 2
""",
        "coverage_suppliers": f"""
WITH {_SUPP_OCC},
pairs AS (
  SELECT a.node AS src, b.node AS dst, CAST(count(*) AS DOUBLE) AS w
  FROM occ a JOIN occ b ON a.factor = b.factor AND a.node < b.node
  GROUP BY 1, 2
),
lab AS (SELECT CAST(s_suppkey AS VARCHAR) AS id, CAST(s_nationkey AS VARCHAR) AS c FROM supplier),
el AS (
  SELECT p.w, ls.c AS cs, ld.c AS ct
  FROM pairs p JOIN lab ls ON ls.id = p.src JOIN lab ld ON ld.id = p.dst
)
SELECT ROUND(sum(CASE WHEN cs = ct THEN w ELSE 0 END) / sum(w), 10) AS coverage
FROM el
""",
        "performance_suppliers": f"""
WITH {_SUPP_OCC},
pairs AS (
  SELECT a.node AS src, b.node AS dst
  FROM occ a JOIN occ b ON a.factor = b.factor AND a.node < b.node
  GROUP BY 1, 2
),
lab AS (SELECT CAST(s_suppkey AS VARCHAR) AS id, CAST(s_nationkey AS VARCHAR) AS c FROM supplier),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM lab),
sizes AS (SELECT c, CAST(count(*) AS DOUBLE) AS s FROM lab GROUP BY 1),
intra_pairs AS (SELECT sum(s * (s - 1) / 2) AS ip FROM sizes),
el AS (
  SELECT CASE WHEN ls.c = ld.c THEN 1 ELSE 0 END AS i
  FROM pairs p JOIN lab ls ON ls.id = p.src JOIN lab ld ON ld.id = p.dst
  WHERE p.src <> p.dst
),
agg AS (SELECT CAST(sum(i) AS DOUBLE) AS intra_e, CAST(count(*) AS DOUBLE) AS m FROM el)
SELECT ROUND(
  (agg.intra_e + ((n.n * (n.n - 1) / 2 - ip.ip) - (agg.m - agg.intra_e)))
  / (n.n * (n.n - 1) / 2), 10) AS performance
FROM agg, n, intra_pairs ip
""",
        "fingerprint_docs": f"""
WITH {_DOC_TOKS}
SELECT md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fingerprint,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keep_id
FROM toks GROUP BY 1
""",
        "quality_docs": _quality_sql(),
        "simhash_docs": _simhash_sql(),
        "simhash_manku_docs": _simhash_sql(),
        "lsh_cosine_docs": _lsh_sql(),
        "ivf_cosine_docs": _ivf_sql(),
        "dedup_embedding_docs": _embedding_dedup_sql(),
        "dedup_groups_docs": _dedup_groups_sql(),
        "media_features_docs": _media_sql(),
        "frame_sample_docs": """
SELECT doc_id AS media_id,
       'video' AS kind,
       CAST(unnest(range(0, least(7, CAST(floor(strlen(text) / 256) AS BIGINT)) + 1)) AS BIGINT) AS frame_no,
       CAST(unnest(range(0, least(7, CAST(floor(strlen(text) / 256) AS BIGINT)) + 1)) * 256 AS BIGINT) AS byte_offset,
       CAST(strlen(text) AS BIGINT) AS n_bytes
FROM documents
""",
        "subgraph_orders": """
WITH chain AS (
  SELECT CAST(lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS VARCHAR) AS src,
         CAST(o_orderkey AS VARCHAR) AS dst
  FROM orders
),
keep AS (SELECT CAST(o_orderkey AS VARCHAR) AS id FROM orders WHERE o_totalprice > 150000)
SELECT c.src, c.dst
FROM chain c
JOIN keep ks ON ks.id = c.src
JOIN keep kd ON kd.id = c.dst
WHERE c.src IS NOT NULL
""",
        "louvain_suppliers": _louvain_sql(),
        "sssp_parts": _sssp_sql(),
        "mst_suppliers": _mst_oracle_sql(),
        "fastrp_parts": _fastrp_sql(),
        "kshortest_parts": _kssp_sql(),
        "lp_predict_emb": _lp_sql(),
        "hierarchy_suppliers": _hierarchy_oracle_sql(),
        "triples_orders": """
SELECT CAST(o_orderkey AS VARCHAR) AS subject, 'placed_by' AS predicate,
       CAST(o_custkey AS VARCHAR) AS object
FROM orders
UNION ALL
SELECT CAST(o_orderkey AS VARCHAR), '@type', 'order' FROM orders
UNION ALL
SELECT CAST(o_orderkey AS VARCHAR), 'price_bucket',
       CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR)
FROM orders
""",
        "walks_parts": _walks_sql(),
        "vector_metrics_emb": _VECTOR_METRICS_SQL,
        "encode_suppliers": _encode_sql(),
        "dedup_incremental_docs": _minhash_incremental_sql(),
        "user_top_events": """
WITH agg AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
         ROUND(sum(value), 6) AS total_value
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rank
  FROM agg
)
SELECT user_id, event_type, n, total_value, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
""",
        # Exact replay of the engine's deterministic sampler: identical
        # md5-based 60-bit hash (verified bit-equal between engines),
        # identical global node ranking, identical anti-join + first-n trim.
        "negative_edges_li": f"""
WITH edges AS (
  SELECT DISTINCT 's:' || l_suppkey AS src, 'p:' || l_partkey AS dst
  FROM lineitem
),
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
idx AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS idx FROM nodes),
par AS (
  SELECT (SELECT count(*) FROM idx) AS v,
         CAST(floor((SELECT count(*) FROM edges) * 0.5) AS BIGINT) AS n
),
-- DuckDB's generate_series takes only constant bounds, so the candidate
-- index stream 0..m-1 is carved from row numbers over lineitem x 2 (raw
-- rows >= distinct edges, hence 2*raw >= 3*n = m; only the index SET
-- matters, so the window's row order is irrelevant).
gen AS (
  SELECT row_number() OVER () - 1 AS i
  FROM lineitem CROSS JOIN (VALUES (0), (1)) dup(b)
),
cand AS (
  SELECT g.i AS gen_i,
         (('0x' || substr(md5('{NEG_SEED}:' || g.i), 1, 15))::BIGINT) % par.v AS sidx,
         (('0x' || substr(md5('{NEG_SEED + 1}:' || g.i), 1, 15))::BIGINT) % par.v AS didx
  FROM par, gen g
  WHERE g.i < par.n * 3
),
paired AS (
  SELECT si.id AS src, di.id AS dst, c.gen_i
  FROM cand c
  JOIN idx si ON si.idx = c.sidx
  JOIN idx di ON di.idx = c.didx
  WHERE c.sidx <> c.didx
),
neg AS (
  SELECT p.src, p.dst, min(p.gen_i) AS gen_i
  FROM paired p
  ANTI JOIN edges e ON p.src = e.src AND p.dst = e.dst
  GROUP BY 1, 2
),
ranked AS (
  SELECT src, dst, gen_i, row_number() OVER (ORDER BY gen_i) AS rn FROM neg
)
SELECT src, dst, gen_i FROM ranked WHERE rn <= (SELECT n FROM par)
""",
        # Same left-fold association as the engine (0.0 + x1 == x1 in
        # IEEE754, then identical op order), float->double casts exact.
        "edge_features_emb": """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
p AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, a.v AS u, b.v AS w
  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
)
SELECT src, dst,
  round(list_reduce(list_transform(generate_series(1, len(u)), i -> u[i] * w[i]), (a, b) -> a + b), 6) AS dot,
  round(list_reduce(list_transform(generate_series(1, len(u)), i -> abs(u[i] - w[i])), (a, b) -> a + b), 6) AS l1_dist,
  round(list_reduce(list_transform(generate_series(1, len(u)), i -> (u[i] - w[i]) * (u[i] - w[i])), (a, b) -> a + b), 6) AS l2_sq,
  round(list_reduce(list_transform(generate_series(1, len(u)), i -> (u[i] + w[i]) / 2.0), (a, b) -> a + b), 6) AS avg_sum
FROM p
""",
    }
