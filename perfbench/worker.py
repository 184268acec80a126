"""One fresh Spark process of a benchmark run.

Usage: ``python3 perfbench/worker.py <spec.json>``. The spec names the
workload, its inputs, the task-thread counts ("levels") and the measuring
time; the worker writes its result next to the spec as ``<spec>.out.json``.

The worker starts a session and runs one trivial job (``setup_s`` is
measured from the parent's launch time to that job's end). A probe
(``"probe": true``) stops there; a worker waits for the parent's start
signal (the file ``spec["go"]``), so that nothing else runs while it
measures. At each level it runs its unit of work ("pass") until its share
of ``seconds`` has passed, at least once; a later level stops the
SparkContext and starts a new one with that many threads in the same JVM.
The first pass runs in a cold JVM, as every fresh ``spark-submit`` or CLI
run does. Outputs of the last pass are left on disk for the parent's
correctness checks, which run after this process has exited.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

from tracing import Tracer, self_times


def _du(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(f"{path}/**", recursive=True)
               if os.path.isfile(f))


def _checkpoint_stats(ckpt_dir: str) -> dict:
    write_s = 0.0
    for f in glob.glob(f"{ckpt_dir}/metrics/iter_*.json"):
        with open(f) as fh:
            write_s += json.load(fh).get("write_sec", 0.0)
    return {"write_s": write_s, "bytes": _du(ckpt_dir)}


def corpus_pipeline(spark, spec: dict, tr: Tracer):
    """The ``python -m bluegraph_spark pipeline`` path, call by call, with
    PageRank and LPA capped at ``supersteps`` so that every seed runs the
    same number of supersteps."""
    from bluegraph_spark.operators.components import connected_components
    from bluegraph_spark.operators.cooccurrence import cooccurrence_edges
    from bluegraph_spark.operators.lpa import label_propagation
    from bluegraph_spark.operators.pagerank import pagerank
    from bluegraph_spark.operators.triangles import triangle_counts
    from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer
    from bluegraph_spark.sources.corpus import (
        file_occurrences,
        ingest_repo_corpus,
        verify_sha256,
    )

    corpus_path = os.path.join(spec["inputs"], "repo_files.parquet")

    def one_pass(out: str) -> dict:
        info = {}
        with tr.span("ingest+verify_sha256", "corpus"):
            corpus = ingest_repo_corpus(spark, corpus_path)
            info["sha256_mismatches"] = verify_sha256(corpus)
        with tr.span("cooccurrence_edges+write", "cooccurrence"):
            occ = file_occurrences(corpus)
            edges = cooccurrence_edges(
                occ, statistics=["frequency", "npmi"],
                factor_freq_cap=spec["factor_freq_cap"], prune_zero_mi="npmi",
            )
            edges.write.mode("overwrite").parquet(f"{out}/edges")
            edges = spark.read.parquet(f"{out}/edges")
        steps = spec["supersteps"]
        loops = (
            ("pagerank", "ranks",
             lambda c: pagerank(edges, weight_col="npmi", tol=0.0, max_iter=steps,
                                checkpointer=c)),
            ("components", "components",
             lambda c: connected_components(edges, checkpointer=c)),
            ("lpa", "labels",
             lambda c: label_propagation(edges, weight_col="npmi", max_iter=steps,
                                         checkpointer=c)),
        )
        for name, frame, run in loops:
            with tr.span(name, name) as s:
                ckpt = SuperstepCheckpointer(f"{out}/checkpoints", run_id=name)
                res = run(ckpt)
                s["return_ms"] = time.time() * 1000.0
                getattr(res, frame).write.mode("overwrite").parquet(f"{out}/{name}")
            s["history"] = [h["superstep_sec"] for h in res.history]
            s["converged"] = bool(res.converged)
            s["checkpoint_dir"] = ckpt.base
        with tr.span("triangle_counts+write", "triangles"):
            triangle_counts(edges).write.mode("overwrite").parquet(f"{out}/triangles")
        return info

    return one_pass, None


def pagerank_scale(spark, spec: dict, tr: Tracer):
    """Fixed-superstep weighted directed PageRank (no storage checkpoints)."""
    from bluegraph_spark.operators.pagerank import pagerank

    edges = spark.read.parquet(os.path.join(spec["inputs"], "edges.parquet"))
    last = {}

    def one_pass(out: str) -> dict:
        with tr.span("pagerank", "pagerank") as s:
            res = pagerank(edges, weight_col="w", tol=0.0, max_iter=spec["supersteps"],
                           directed=True, partitions=spec["partitions"])
            s["return_ms"] = time.time() * 1000.0
            res.ranks.write.format("noop").mode("overwrite").save()
        s["history"] = [h["superstep_sec"] for h in res.history]
        last["ranks"] = res.ranks
        return {}

    def finish(out: str) -> None:
        last["ranks"].write.mode("overwrite").parquet(f"{out}/ranks")

    return one_pass, finish


WORKLOADS = {"corpus_pipeline": corpus_pipeline, "pagerank_scale": pagerank_scale}


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def run_level(spark, spec: dict, out: str, seconds: float) -> dict:
    """Repeat the workload's pass for ``seconds`` (at least once)."""
    tr = Tracer(spark.sparkContext, spec["trace"])
    one_pass, finish = WORKLOADS[spec["workload"]](spark, spec, tr)
    passes, info = [], {}
    t_measure = time.perf_counter()
    while not passes or time.perf_counter() - t_measure < seconds:
        shutil.rmtree(out, ignore_errors=True)
        first = len(tr.spans)
        t0 = time.perf_counter()
        info = one_pass(out)
        passes.append({"wall_s": time.perf_counter() - t0, "spans": (first, len(tr.spans))})
        for span in tr.spans[first:]:
            if "checkpoint_dir" in span:
                span["checkpoint"] = _checkpoint_stats(span.pop("checkpoint_dir"))
    if finish is not None:
        finish(out)
    self_times(tr.spans)
    return {"passes": passes, "spans": tr.spans, "info": info, "out": out}


def _wait_for(path: str, timeout: float) -> None:
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if time.time() > deadline:
            raise TimeoutError(f"no start signal at {path}")
        time.sleep(0.01)


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["root"])
    from bluegraph_spark.session import get_session

    parts = []
    for i, cores in enumerate(spec["levels"]):
        if i:
            # Same JVM, new SparkContext at the next thread count.
            spark.stop()
        spark = get_session(app_name=f"perfbench-{spec['workload']}",
                            master=f"local[{cores}]",
                            shuffle_partitions=spec["shuffle_partitions"])
        spark.sparkContext.setLogLevel("ERROR")
        if not i:
            spark.range(1).count()
            setup_s = time.time() - spec["t_launch"]
            if spec.get("probe"):
                break
            _wait_for(spec["go"], timeout=120)
        out = os.path.join(spec["work"], f"out{i}")
        seconds = spec["seconds"] / len(spec["levels"])
        parts.append(dict(run_level(spark, spec, out, seconds), cores=cores))
    result = {"setup_s": setup_s, "peak_rss_mb": _peak_rss_mb(spark), "parts": parts}
    spark.stop()
    with open(spec_path + ".out.json", "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
