"""Scale-stress run: the three non-PageRank iterative/enumeration operators
on the bench scaling graph (default 2M vertices / 30M directed edges —
~200x the sf0.1 query-suite graphs), writing BENCH/STRESS.md.

bench.py owns throughput *scaling* evidence; this script is existence
evidence that the operator plans survive a graph two orders of magnitude
past the correctness suite on this box (no OOM, no plan blowup, sane wall
times), which is the sandbox's nearest proxy for the 100x scale-up
question. Usage: python scripts/stress.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from bench import HIGH, PARTS, _ensure_scaling_graph, _session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    spark = _session(f"local[{cpus}]", shuffle_partitions=cpus)
    graph_path = _ensure_scaling_graph(spark)
    edges = spark.read.parquet(graph_path)
    n_edges = edges.count()

    # incremental cache: a crashed/partial run resumes without repeating
    # completed operators (delete the file to force a full rerun)
    cache_path = os.path.join(REPO, "BENCH", "stress_results.json")
    results: dict[str, dict] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            results = json.load(f)

    def _save_cache() -> None:
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        with open(cache_path, "w") as f:
            json.dump(results, f, indent=1)

    from bluegraph_spark.operators.components import connected_components

    if "connected_components" not in results:
        t0 = time.time()
        cc = connected_components(edges)
        n_comp = cc.components.select("component").distinct().count()
        results["connected_components"] = {
            "wall_sec": round(time.time() - t0, 1),
            "rounds": cc.rounds,
            "converged": cc.converged,
            "components": n_comp,
        }
        _save_cache()

    from bluegraph_spark.operators.lpa import label_propagation

    if "label_propagation_3it" not in results:
        t0 = time.time()
        lpa = label_propagation(edges, weight_col="weight", max_iter=3)
        n_lab = lpa.labels.select("label").distinct().count()
        results["label_propagation_3it"] = {
            "wall_sec": round(time.time() - t0, 1),
            "iterations": lpa.iterations,
            "labels": n_lab,
        }
        _save_cache()

    from bluegraph_spark.operators.triangles import triangle_count_global

    if "triangle_count_global" not in results:
        t0 = time.time()
        n_tri = triangle_count_global(edges)
        results["triangle_count_global"] = {
            "wall_sec": round(time.time() - t0, 1),
            "triangles": n_tri,
        }
        _save_cache()

    # round-5 distributed operators on the same graph
    from bluegraph_spark.operators.embeddings import fastrp_embeddings

    if "fastrp_d16_2it" not in results:
        t0 = time.time()
        emb = fastrp_embeddings(
            edges, dim=16, iteration_weights=(1.0, 1.0), weight_col="weight"
        )
        n_emb = emb.count()
        results["fastrp_d16_2it"] = {
            "wall_sec": round(time.time() - t0, 1),
            "vectors": n_emb,
        }
        _save_cache()

    from bluegraph_spark.operators.walks import generate_random_walks

    if "random_walks_len3" not in results:
        t0 = time.time()
        walks = generate_random_walks(
            edges, walk_length=3, walks_per_node=1, weight_col="weight"
        )
        n_steps = walks.count()
        results["random_walks_len3"] = {
            "wall_sec": round(time.time() - t0, 1),
            "corpus_rows": n_steps,
        }
        _save_cache()

    from bluegraph_spark.operators.paths import k_shortest_distances

    if "k_shortest_k2_4rounds" not in results:
        t0 = time.time()
        # keep the native id type — the state frame is created with the
        # edge table's src dtype (a str would fail schema verification)
        src = edges.select("src").first()["src"]
        ks = k_shortest_distances(
            edges, source=src, k=2, weight_col="weight", max_iter=4
        )
        n_labels = ks.distances.count()
        results["k_shortest_k2_4rounds"] = {
            "wall_sec": round(time.time() - t0, 1),
            "labels": n_labels,
            "converged": ks.converged,
        }
        _save_cache()

    lines = [
        "# BENCH/STRESS — large-graph existence runs (generated by scripts/stress.py)",
        "",
        f"Graph: the bench scaling digraph ({n_edges:,} directed edges, 2M vertices,",
        f"uniform random — ~200x the sf0.1 query-suite graphs), local[{cpus}],",
        f"shuffle partitions {cpus}. Throughput *scaling* evidence lives in",
        "BENCH/BASELINE.md; this file is existence evidence that each operator's",
        "plan survives two orders of magnitude past the correctness suite on one",
        "box (no OOM, no lineage blowup, wall times that extrapolate).",
        "",
        "| operator | wall sec | detail |",
        "|---|---|---|",
    ]
    cc_r = results["connected_components"]
    lines.append(
        f"| connected_components | {cc_r['wall_sec']} | {cc_r['rounds']} rounds, "
        f"converged={cc_r['converged']}, {cc_r['components']:,} components |"
    )
    lp = results["label_propagation_3it"]
    lines.append(
        f"| label_propagation (3 supersteps, weighted) | {lp['wall_sec']} | "
        f"{lp['labels']:,} labels |"
    )
    tr = results["triangle_count_global"]
    lines.append(
        f"| triangle_count_global | {tr['wall_sec']} | {tr['triangles']:,} triangles |"
    )
    fr = results["fastrp_d16_2it"]
    lines.append(
        f"| fastrp_embeddings (d=16, 2 iterations, weighted) | {fr['wall_sec']} | "
        f"{fr['vectors']:,} vectors; per iteration only the V×d state "
        "shuffles (edges repartitioned once) |"
    )
    wk = results["random_walks_len3"]
    lines.append(
        f"| generate_random_walks (len 3, 1/node, weighted) | {wk['wall_sec']} | "
        f"{wk['corpus_rows']:,} corpus rows; one join per step against the "
        "static cumulative-weight neighbor table |"
    )
    ksr = results["k_shortest_k2_4rounds"]
    lines.append(
        f"| k_shortest_distances (k=2, 4 fixed rounds) | {ksr['wall_sec']} | "
        f"{ksr['labels']:,} labels, converged={ksr['converged']} |"
    )
    lines += [
        "",
        "Single-run walls on a shared VM: controlled A/B sweeps (2026-08-17,",
        "alternating reps, warm JVM) put per-superstep variance at 2-4x on this",
        "box (co-tenant + GC interference; e.g. LPA supersteps 7.3-38.4s within",
        "one series), so run-to-run deltas under ~2x are noise, not",
        "regressions. Correctness fields (rounds, components, labels,",
        "triangles) are exact and must be stable.",
        "",
        "## Round-5 controlled A/B: the two r04 driver-bench \"regressions\"",
        "",
        "VERDICT r04 flagged `cooc_agg_suppliers` 7.5→14.6s and `pagerank_parts`",
        "8.7→14.8s as unexplained. Controlled A/B (scripts/ab_regression.py: one",
        "subprocess per cell, fresh local[32] session, fixed warmup query,",
        "round-3 code in a worktree vs HEAD, both interleave orders run):",
        "",
        "- `pagerank_parts`: r3 mean 11.7s vs HEAD 12.3s over 6 order-controlled",
        "  pairs (one 29s co-tenant outlier discarded) — a ~5% delta inside this",
        "  VM's documented noise band. Not a regression.",
        "- `cooc_agg_suppliers`: first-execution walls r3 ≈7.3s vs HEAD ≈8.8s",
        "  (n=8/11, both orders), but SECOND execution in the same session is",
        "  4.4s on HEAD vs 3.9–7.0s on r3: steady-state throughput is equal. The",
        "  first-run gap is one-time Python-worker-pool + persist/localCheckpoint",
        "  machinery JIT that round 3's *eager warmup query* happened to pre-pay",
        "  and round 4's lazy default did not. The driver's 14.6s reading on top",
        "  of that is suite-position + co-tenant noise (this query ranged",
        "  7.8–10.7s across 11 controlled first-runs; nothing reproduces 14.6s).",
        "- Real fix shipped regardless: `cooccurrence_edges` now detects a",
        "  Python/Arrow stage in the occurrence plan",
        "  (plans/planinfo.py:plan_has_python_stage) and shares one materialized",
        "  pass there — the lazy plan re-executes the occurrence expression on up",
        "  to 5 branches, and re-running an applyInPandas aggregator 5× is pure",
        "  loss at every scale. Pure-Catalyst occurrence tables stay lazy (the",
        "  measured win above).",
    ]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "STRESS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps(results))


if __name__ == "__main__":
    main()
