"""Command-line entry point — ``python -m bluegraph_spark`` / spark-submit.

Cluster usage (north rule: packaged for ``spark-submit --py-files`` on
multi-executor clusters):

    python scripts/make_pyfiles.py                      # -> dist/bluegraph_spark.zip
    spark-submit --master ... \
        --py-files dist/bluegraph_spark.zip \
        scripts/submit_job.py pipeline \
        --corpus <iceberg-table-or-path> --fmt iceberg \
        --output <dir> --checkpoint-dir <dir>

Local usage is identical minus spark-submit: ``python -m bluegraph_spark
pipeline --corpus ... --output ...``. Subcommands:

  ingest      corpus scan -> sha256-stamped frame + token occurrence table
  cooc        occurrence table -> co-occurrence edge table (freq/ppmi/npmi)
  pagerank    edge table -> (id, rank)        [checkpointed, resumable]
  components  edge table -> (id, component)   [checkpointed, resumable]
  lpa         edge table -> (id, label)       [checkpointed, resumable]
  triangles   edge table -> (id, triangles)
  sssp        edge table -> (id, dist)         [checkpointed, resumable]
  kshortest   edge table -> (id, rank, dist)   [checkpointed, resumable]
  louvain     edge table -> (id, community)    [checkpointed]
  mst         edge table -> spanning-forest edges
  fastrp      edge table -> (id, emb)          deterministic embeddings
  walks       edge table -> (walk_id, step, node) deterministic corpus
  hierarchy   edge table -> (id, cluster)      single-linkage cut
  dedup       documents table -> duplicate groups / verified near-dup pairs
  ann         embeddings table -> cosine top-k (exact | lsh | ivf)
  pipeline    corpus -> edges -> pagerank + components + lpa + triangles

Every subcommand reads/writes parquet by default; pass ``--fmt iceberg``
(and run with an Iceberg catalog configured) to read/write Iceberg tables;
superstep checkpoints follow the same format.
"""

from __future__ import annotations

import argparse
import json
import sys


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--output", required=True, help="output path (parquet dir / table)")
    p.add_argument("--fmt", default="parquet", choices=("parquet", "iceberg"),
                   help="storage format of tables and checkpoints")
    p.add_argument("--master", default=None, help="override Spark master (else inherit)")
    p.add_argument("--shuffle-partitions", type=int, default=None)


def _add_edges(p: argparse.ArgumentParser, weight: bool = True,
               directed: bool = False) -> None:
    p.add_argument("--edges", required=True, help="edge table path (src, dst[, weight])")
    if weight:
        p.add_argument("--weight-col", default=None)
    if directed:
        p.add_argument("--directed", action="store_true")


def _add_checkpoint(p: argparse.ArgumentParser, resume: bool = True) -> None:
    p.add_argument("--checkpoint-dir", default=None,
                   help="superstep checkpoint base dir (enables resume)")
    p.add_argument("--run-id", default="run")
    if resume:
        p.add_argument("--resume", action="store_true",
                       help="continue from the latest complete superstep")


class _Parser(argparse.ArgumentParser):
    """Rejects ``--resume`` without ``--checkpoint-dir`` (nothing to resume
    from) instead of silently starting a fresh run."""

    def parse_known_args(self, args=None, namespace=None):
        ns, rest = super().parse_known_args(args, namespace)
        if getattr(ns, "resume", False) and ns.checkpoint_dir is None:
            self.error("--resume requires --checkpoint-dir")
        return ns, rest


def _session(args):
    from bluegraph_spark.session import get_session

    return get_session(master=args.master, shuffle_partitions=args.shuffle_partitions)


def _checkpointer(args, suffix: str = ""):
    if args.checkpoint_dir is None:
        return None
    from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer

    return SuperstepCheckpointer(
        args.checkpoint_dir, run_id=args.run_id + suffix, data_format=args.fmt
    )


def _write(df, args):
    df.write.mode("overwrite").format(args.fmt).save(args.output)


def _read(spark, path, fmt):
    return spark.read.format(fmt).load(path)


def cmd_ingest(args) -> dict:
    from bluegraph_spark.sources.corpus import (
        ingest_repo_corpus,
        token_occurrences,
        verify_sha256,
    )

    spark = _session(args)
    corpus = ingest_repo_corpus(spark, args.corpus, fmt=args.fmt)
    occ = token_occurrences(corpus, use_pandas_udf=args.pandas_udf,
                            min_token_len=args.min_token_len)
    _write(occ, args)
    mismatches = verify_sha256(corpus)
    return {"sha256_mismatches": mismatches, "occurrences": args.output}


def cmd_cooc(args) -> dict:
    from bluegraph_spark.operators.cooccurrence import (
        cooccurrence_edges,
        keep_top_n_nodes,
    )

    spark = _session(args)
    occ = _read(spark, args.occurrences, args.fmt)
    if args.top_n_nodes:
        occ = keep_top_n_nodes(occ, args.top_n_nodes)
    edges = cooccurrence_edges(
        occ,
        statistics=args.statistics.split(","),
        factor_freq_cap=args.factor_freq_cap,
        min_frequency=args.min_frequency,
        salt=args.salt,
    )
    _write(edges, args)
    return {"edges": args.output}


def cmd_pagerank(args) -> dict:
    from bluegraph_spark.operators.pagerank import pagerank

    spark = _session(args)
    res = pagerank(
        _read(spark, args.edges, args.fmt),
        weight_col=args.weight_col,
        alpha=args.alpha,
        tol=args.tol,
        max_iter=args.max_iter,
        directed=args.directed,
        checkpointer=_checkpointer(args),
        resume=args.resume,
    )
    _write(res.ranks, args)
    return {"iterations": res.iterations, "converged": res.converged, "err": res.err}


def cmd_components(args) -> dict:
    from bluegraph_spark.operators.components import connected_components

    spark = _session(args)
    res = connected_components(
        _read(spark, args.edges, args.fmt),
        checkpointer=_checkpointer(args),
        resume=args.resume,
    )
    _write(res.components, args)
    return {"rounds": res.rounds, "converged": res.converged}


def cmd_lpa(args) -> dict:
    from bluegraph_spark.operators.lpa import label_propagation

    spark = _session(args)
    res = label_propagation(
        _read(spark, args.edges, args.fmt),
        weight_col=args.weight_col,
        max_iter=args.max_iter,
        checkpointer=_checkpointer(args),
        resume=args.resume,
    )
    _write(res.labels, args)
    return {"iterations": res.iterations, "converged": res.converged}


def cmd_triangles(args) -> dict:
    from bluegraph_spark.operators.triangles import triangle_counts

    spark = _session(args)
    _write(triangle_counts(_read(spark, args.edges, args.fmt)), args)
    return {"triangles": args.output}


def cmd_dedup(args) -> dict:
    """Document dedup over a (id, text) table: exact, minhash, or simhash."""
    from bluegraph_spark.operators import dedup as D

    spark = _session(args)
    docs = _read(spark, args.docs, args.fmt)
    if args.method == "exact":
        out = D.exact_duplicates(docs, args.id_col, args.text_col)
    elif args.method == "minhash":
        out = D.minhash_dedup_pairs(
            docs, args.id_col, args.text_col,
            n=args.ngram, num_hashes=args.num_hashes, bands=args.bands,
            threshold=args.threshold,
        )
    elif args.method == "simhash":
        out = D.simhash_pairs(
            docs, args.id_col, args.text_col,
            max_hamming=args.max_hamming, chunks=args.chunks,
        )
    else:
        raise ValueError(f"unknown dedup method {args.method!r}")
    _write(out, args)
    rows = _read(spark, args.output, args.fmt).count()
    return {"method": args.method, "rows": rows, "output": args.output}


def cmd_ann(args) -> dict:
    """Cosine top-k over an embeddings table: exact brute-force baseline,
    sign-LSH (candidate-starvation warning armed via corpus_size), or the
    IVF index (sample-trained deterministic codebook)."""
    from bluegraph_spark.operators import similarity as S

    spark = _session(args)
    corpus = _read(spark, args.corpus, args.fmt)
    queries = _read(spark, args.queries, args.fmt) if args.queries else corpus
    kw = dict(id_col=args.id_col, vec_col=args.vec_col)
    if args.method == "exact":
        out = S.cosine_topk(queries, corpus, args.k, **kw)
    elif args.method == "lsh":
        out = S.lsh_cosine_topk(
            queries, corpus, args.k,
            planes=args.planes, tables=args.tables, multiprobe=args.multiprobe,
            corpus_size=corpus.count(), **kw,
        )
    elif args.method == "ivf":
        cents = S.ivf_fit_centroids(
            corpus, n_centroids=args.centroids, lloyd_iters=args.lloyd_iters, **kw
        )
        out = S.ivf_cosine_topk(
            queries, corpus, args.k, centroids=cents, nprobe=args.nprobe, **kw
        )
    else:
        raise ValueError(f"unknown ann method {args.method!r}")
    _write(out, args)
    rows = _read(spark, args.output, args.fmt).count()
    return {"method": args.method, "rows": rows, "output": args.output}


def cmd_louvain(args) -> dict:
    from bluegraph_spark.operators.louvain import louvain

    spark = _session(args)
    res = louvain(
        _read(spark, args.edges, args.fmt),
        weight_col=args.weight_col,
        max_levels=args.max_levels,
        max_rounds=args.max_rounds,
        checkpointer=_checkpointer(args),
    )
    _write(res.labels, args)
    return {"levels": res.levels, "rounds": res.rounds, "converged": res.converged}


def cmd_sssp(args) -> dict:
    from bluegraph_spark.operators.paths import shortest_paths

    spark = _session(args)
    res = shortest_paths(
        _read(spark, args.edges, args.fmt),
        source=args.source,
        weight_col=args.weight_col,
        directed=args.directed,
        max_iter=args.max_iter,
        checkpointer=_checkpointer(args),
        resume=args.resume,
    )
    _write(res.distances, args)
    return {"iterations": res.iterations, "converged": res.converged}


def cmd_mst(args) -> dict:
    from bluegraph_spark.operators.mst import minimum_spanning_forest

    spark = _session(args)
    res = minimum_spanning_forest(
        _read(spark, args.edges, args.fmt), weight_col=args.weight_col or "weight"
    )
    _write(res.tree_edges, args)
    return {"rounds": res.rounds, "converged": res.converged}


def cmd_fastrp(args) -> dict:
    from bluegraph_spark.operators.embeddings import fastrp_embeddings

    spark = _session(args)
    emb = fastrp_embeddings(
        _read(spark, args.edges, args.fmt),
        dim=args.dim,
        iteration_weights=tuple(float(x) for x in args.weights.split(",")),
        weight_col=args.weight_col,
        seed=args.seed,
        directed=args.directed,
    )
    _write(emb, args)
    return {"dim": args.dim}


def cmd_kshortest(args) -> dict:
    from bluegraph_spark.operators.paths import k_shortest_distances

    spark = _session(args)
    res = k_shortest_distances(
        _read(spark, args.edges, args.fmt),
        source=args.source,
        k=args.k,
        weight_col=args.weight_col,
        directed=args.directed,
        max_iter=args.max_iter,
        checkpointer=_checkpointer(args),
        resume=args.resume,
    )
    _write(res.distances, args)
    return {"iterations": res.iterations, "converged": res.converged}


def cmd_hierarchy(args) -> dict:
    from bluegraph_spark.operators.hierarchy import single_linkage_clusters

    spark = _session(args)
    res = single_linkage_clusters(
        _read(spark, args.edges, args.fmt),
        distance_col=args.weight_col or "distance",
        n_clusters=args.n_clusters,
        threshold=args.threshold,
    )
    _write(res.labels, args)
    return {"n_clusters": res.n_clusters, "cut_edges": res.cut_edges}


def cmd_walks(args) -> dict:
    from bluegraph_spark.operators.walks import generate_random_walks

    spark = _session(args)
    out = generate_random_walks(
        _read(spark, args.edges, args.fmt),
        walk_length=args.walk_length,
        walks_per_node=args.walks_per_node,
        weight_col=args.weight_col,
        seed=args.seed,
        directed=args.directed,
    )
    _write(out, args)
    return {"walk_length": args.walk_length, "walks_per_node": args.walks_per_node}


def cmd_pipeline(args) -> dict:
    """Corpus -> co-occurrence edges -> all four analytics, checkpointed."""
    from bluegraph_spark.operators.components import connected_components
    from bluegraph_spark.operators.cooccurrence import cooccurrence_edges
    from bluegraph_spark.operators.lpa import label_propagation
    from bluegraph_spark.operators.pagerank import pagerank
    from bluegraph_spark.operators.triangles import triangle_counts
    from bluegraph_spark.sources.corpus import (
        file_occurrences,
        ingest_repo_corpus,
        verify_sha256,
    )

    spark = _session(args)
    corpus = ingest_repo_corpus(spark, args.corpus, fmt=args.fmt)
    mismatches = verify_sha256(corpus)
    occ = file_occurrences(corpus, use_pandas_udf=args.pandas_udf)
    if args.top_n_nodes:
        from bluegraph_spark.operators.cooccurrence import keep_top_n_nodes

        occ = keep_top_n_nodes(occ, args.top_n_nodes)
    edges = cooccurrence_edges(
        occ,
        statistics=["frequency", "npmi"],
        factor_freq_cap=args.factor_freq_cap,
        salt=args.salt,
        prune_zero_mi="npmi",
    )
    edges.write.mode("overwrite").format(args.fmt).save(f"{args.output}/edges")
    edges = _read(spark, f"{args.output}/edges", args.fmt)

    out = {"sha256_mismatches": mismatches}
    for name, run in (
        ("pagerank", lambda c: pagerank(edges, weight_col="npmi",
                                        checkpointer=c, resume=args.resume)),
        ("components", lambda c: connected_components(edges, checkpointer=c,
                                                      resume=args.resume)),
        ("lpa", lambda c: label_propagation(edges, weight_col="npmi", checkpointer=c,
                                            resume=args.resume)),
    ):
        res = run(_checkpointer(args, f"-{name}"))
        df = {"pagerank": "ranks", "components": "components", "lpa": "labels"}[name]
        getattr(res, df).write.mode("overwrite").format(args.fmt).save(
            f"{args.output}/{name}"
        )
        out[name] = {"iterations": getattr(res, "iterations", getattr(res, "rounds", None)),
                     "converged": res.converged}
    triangle_counts(edges).write.mode("overwrite").format(args.fmt).save(
        f"{args.output}/triangles"
    )
    return out


def build_parser() -> argparse.ArgumentParser:
    ap = _Parser(prog="bluegraph_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("ingest")
    p.add_argument("--corpus", required=True)
    p.add_argument("--pandas-udf", action="store_true",
                   help="use the Arrow-vectorized reference tokenizer")
    p.add_argument("--min-token-len", type=int, default=1)
    _add_common(p)
    p.set_defaults(fn=cmd_ingest)

    p = sub.add_parser("cooc")
    p.add_argument("--occurrences", required=True)
    p.add_argument("--statistics", default="frequency,ppmi,npmi")
    p.add_argument("--factor-freq-cap", type=int, default=None)
    p.add_argument("--min-frequency", type=int, default=None)
    p.add_argument("--salt", type=int, default=None)
    p.add_argument("--top-n-nodes", type=int, default=None,
                   help="keep only the n most frequent nodes before edge "
                        "generation (the reference's primary scale knob)")
    _add_common(p)
    p.set_defaults(fn=cmd_cooc)

    p = sub.add_parser("pagerank")
    _add_edges(p, directed=True)
    _add_checkpoint(p)
    p.add_argument("--alpha", type=float, default=0.85)
    p.add_argument("--tol", type=float, default=1e-6)
    p.add_argument("--max-iter", type=int, default=100)
    _add_common(p)
    p.set_defaults(fn=cmd_pagerank)

    p = sub.add_parser("components")
    _add_edges(p, weight=False)
    _add_checkpoint(p)
    _add_common(p)
    p.set_defaults(fn=cmd_components)

    p = sub.add_parser("lpa")
    _add_edges(p)
    _add_checkpoint(p)
    p.add_argument("--max-iter", type=int, default=20)
    _add_common(p)
    p.set_defaults(fn=cmd_lpa)

    p = sub.add_parser("triangles")
    _add_edges(p, weight=False)
    _add_common(p)
    p.set_defaults(fn=cmd_triangles)

    p = sub.add_parser("louvain")
    _add_edges(p)
    _add_checkpoint(p, resume=False)
    p.add_argument("--max-levels", type=int, default=3)
    p.add_argument("--max-rounds", type=int, default=20)
    _add_common(p)
    p.set_defaults(fn=cmd_louvain)

    p = sub.add_parser("sssp")
    _add_edges(p, directed=True)
    _add_checkpoint(p)
    p.add_argument("--source", required=True)
    p.add_argument("--max-iter", type=int, default=50)
    _add_common(p)
    p.set_defaults(fn=cmd_sssp)

    p = sub.add_parser("mst")
    _add_edges(p)
    _add_common(p)
    p.set_defaults(fn=cmd_mst)

    p = sub.add_parser("fastrp")
    _add_edges(p, directed=True)
    p.add_argument("--dim", type=int, default=16)
    p.add_argument("--weights", default="1.0,1.0",
                   help="comma-separated per-iteration weights")
    p.add_argument("--seed", type=int, default=42)
    _add_common(p)
    p.set_defaults(fn=cmd_fastrp)

    p = sub.add_parser("kshortest")
    _add_edges(p, directed=True)
    _add_checkpoint(p)
    p.add_argument("--source", required=True)
    p.add_argument("--k", type=int, default=3)
    p.add_argument("--max-iter", type=int, default=50)
    _add_common(p)
    p.set_defaults(fn=cmd_kshortest)

    p = sub.add_parser("hierarchy")
    _add_edges(p)
    p.add_argument("--n-clusters", type=int, default=None)
    p.add_argument("--threshold", type=float, default=None)
    _add_common(p)
    p.set_defaults(fn=cmd_hierarchy)

    p = sub.add_parser("walks")
    _add_edges(p, directed=True)
    p.add_argument("--walk-length", type=int, default=10)
    p.add_argument("--walks-per-node", type=int, default=1)
    p.add_argument("--seed", type=int, default=42)
    _add_common(p)
    p.set_defaults(fn=cmd_walks)

    p = sub.add_parser("dedup")
    p.add_argument("--docs", required=True, help="documents table path (id, text)")
    p.add_argument("--method", default="minhash",
                   choices=["exact", "minhash", "simhash"])
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--ngram", type=int, default=3)
    p.add_argument("--num-hashes", type=int, default=8)
    p.add_argument("--bands", type=int, default=4)
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument("--max-hamming", type=int, default=3)
    p.add_argument("--chunks", type=int, default=4)
    _add_common(p)
    p.set_defaults(fn=cmd_dedup)

    p = sub.add_parser("ann")
    p.add_argument("--corpus", required=True, help="embeddings table (id, vector)")
    p.add_argument("--queries", default=None,
                   help="query table; defaults to the corpus (self-ANN)")
    p.add_argument("--method", default="ivf", choices=["exact", "lsh", "ivf"])
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("-k", "--k", type=int, default=10)
    p.add_argument("--planes", type=int, default=12)
    p.add_argument("--tables", type=int, default=3)
    p.add_argument("--multiprobe", type=int, default=1)
    p.add_argument("--centroids", type=int, default=64)
    p.add_argument("--nprobe", type=int, default=8)
    p.add_argument("--lloyd-iters", type=int, default=2)
    _add_common(p)
    p.set_defaults(fn=cmd_ann)

    p = sub.add_parser("pipeline")
    p.add_argument("--corpus", required=True)
    p.add_argument("--pandas-udf", action="store_true")
    p.add_argument("--factor-freq-cap", type=int, default=None)
    p.add_argument("--salt", type=int, default=None)
    p.add_argument("--top-n-nodes", type=int, default=None)
    _add_checkpoint(p)
    _add_common(p)
    p.set_defaults(fn=cmd_pipeline)

    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    result = args.fn(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
