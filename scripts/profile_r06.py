#!/usr/bin/env python
"""Round-6 profiling harness: per-phase wall timing for the hot queries.

Runs selected operators in ONE warm session (like bench.py's query phase)
and prints phase breakdowns (loop histories record superstep_sec already).
Not part of the bench contract; evidence collection only.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn):
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    print(f"{label}: {dt:.2f}s", flush=True)
    return out, dt


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    from bluegraph_spark.session import get_session

    spark = get_session(app_name="profile-r06", master=f"local[{cpus}]",
                        shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as em

    # warmup: run a cheap query to absorb JVM/JIT cold start
    timed("warmup sha256", lambda: noop(em.q_sha256_docs(spark, sf_dir)))
    timed("warmup cooc", lambda: noop(em.q_cooc_parts_freq(spark, sf_dir)))

    which = sys.argv[1:] or ["cooc", "hier", "louvain", "fastrp", "walks",
                             "cc", "mst", "lpa", "sssp", "kssp", "modnpmi",
                             "triangles", "pagerank"]

    if "cooc" in which:
        timed("cooc_parts_freq (warm)",
              lambda: noop(em.q_cooc_parts_freq(spark, sf_dir)))
        timed("supplier_edges_npmi count",
              lambda: em._supplier_edges_npmi(spark, sf_dir).count())

    if "hier" in which:
        from bluegraph_spark.functions.mi import npmi_distance_col
        from bluegraph_spark.operators.hierarchy import single_linkage_clusters

        e = em._supplier_edges_npmi(spark, sf_dir)
        dist = e.select("src", "dst",
                        F.round(npmi_distance_col(F.col("npmi")), 8).alias("distance"))
        res, _ = timed("hierarchy total",
                       lambda: single_linkage_clusters(dist, n_clusters=em.HIER_K))
        timed("hierarchy noop", lambda: noop(res.labels))
        print("hier history:", json.dumps(res.history), flush=True)

    if "mst" in which:
        from bluegraph_spark.functions.mi import npmi_distance_col
        from bluegraph_spark.operators.mst import minimum_spanning_forest

        e = em._supplier_edges_npmi(spark, sf_dir)
        dist = e.select("src", "dst",
                        F.round(npmi_distance_col(F.col("npmi")), 8).alias("distance"))
        res, _ = timed("mst build+loop",
                       lambda: minimum_spanning_forest(dist, weight_col="distance"))
        timed("mst noop", lambda: noop(res.tree_edges))
        print("mst history:", json.dumps(res.history), flush=True)

    if "louvain" in which:
        from bluegraph_spark.operators.louvain import louvain

        res, _ = timed("louvain total", lambda: louvain(
            em._supplier_edges(spark, sf_dir), weight_col="frequency",
            exact_rounds=em.LOUVAIN_ROUNDS,
            parity_fn=lambda c: F.pmod(c.cast("long"), F.lit(2))))
        timed("louvain noop", lambda: noop(res.labels))
        print("louvain history:", json.dumps(res.history), flush=True)

    if "fastrp" in which:
        timed("fastrp total", lambda: noop(em.q_fastrp_parts(spark, sf_dir)))

    if "walks" in which:
        timed("walks total", lambda: noop(em.q_walks_parts(spark, sf_dir)))

    if "cc" in which:
        from bluegraph_spark.operators.components import connected_components

        o = em._t(spark, sf_dir, "orders")
        res, _ = timed("cc_orders total", lambda: connected_components(
            em._order_chain(spark, sf_dir),
            nodes=o.select(F.col("o_orderkey").cast("string").alias("id"))))
        timed("cc noop", lambda: noop(res.components))
        print("cc history:", json.dumps(res.history), flush=True)

    if "lpa" in which:
        from bluegraph_spark.operators.lpa import label_propagation

        res, _ = timed("lpa total", lambda: label_propagation(
            em._supplier_edges(spark, sf_dir), weight_col="frequency",
            max_iter=em.LPA_ITERS))
        timed("lpa noop", lambda: noop(res.labels))
        print("lpa history:", json.dumps(res.history), flush=True)

    if "sssp" in which:
        from bluegraph_spark.operators.paths import shortest_paths

        res, _ = timed("sssp total", lambda: shortest_paths(
            em._part_edges(spark, sf_dir), source="1",
            weight_col="frequency", max_iter=em.SSSP_ROUNDS))
        timed("sssp noop", lambda: noop(res.distances))
        print("sssp history:", json.dumps(res.history), flush=True)

    if "kssp" in which:
        from bluegraph_spark.operators.paths import k_shortest_distances

        res, _ = timed("kssp total", lambda: k_shortest_distances(
            em._part_edges(spark, sf_dir), source="1", k=em.KSSP_K,
            weight_col="frequency", max_iter=em.KSSP_ROUNDS))
        timed("kssp noop", lambda: noop(res.distances))
        print("kssp history:", json.dumps(res.history), flush=True)

    if "modnpmi" in which:
        timed("modularity_npmi total",
              lambda: noop(em.q_modularity_npmi_suppliers(spark, sf_dir)))

    if "triangles" in which:
        timed("triangles total", lambda: noop(em.q_triangles_parts(spark, sf_dir)))

    if "pagerank" in which:
        timed("pagerank total", lambda: noop(em.q_pagerank_parts(spark, sf_dir)))


if __name__ == "__main__":
    main()
