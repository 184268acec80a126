"""Benchmark for bluegraph_spark: the corpus→graph pipeline and PageRank
superstep scaling.

Usage (from the repository root):

    python3 perfbench/run.py --workload corpus_pipeline --seed 1 --seconds 10 --trace 0

A run generates (or reuses) its seeded inputs, runs the workload in one
fresh Spark process (``perfbench/worker.py``) at no more than ``nproc`` task
threads, checks the outputs against independent references once that
process has exited, and prints two JSON lines: a report (environment, input
digest, the workload's named figures) and, last, the result
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (see ``BENCHMARK.json``); with ``--trace 1``
every engine call runs under its own Spark job group and the metrics are
the per-layer ``<layer>.<counter>`` values, 0 for a layer the workload does
not reach. A traced run also writes its spans, with self times, to
``.perfbench_cache/trace-<workload>-<seed>.json``. An engine error or a
check failure exits non-zero.

The earlier figures in BENCH_r01-r06.json, BENCH/BASELINE.md and bench.py's
2→8-core pair ran at local[32] or 8 cores on a larger box; they are history,
not a baseline for this benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
# session.py defaults the driver heap to 20g; local mode runs every executor
# thread in this one JVM, and these inputs fit in far less. With a small
# heap G1 grows it to the cap early, so the JVM's peak RSS repeats within a
# few percent (with 3g it varied from 1.2 to 1.9 GB between runs).
DRIVER_MEM = "1g"
# Extra sessions booted alongside the worker's own, so that a run reports
# the median of more than one set-up. They boot concurrently with it: one
# fresh session takes 11-15 s on a 4-vCPU VM, and set-ups in sequence would
# not fit the run's time budget.
SETUP_PROBES = 1

WORKLOADS = {
    # The `python -m bluegraph_spark pipeline` path: the corpus scan, the
    # co-occurrence pair build and the per-superstep storage checkpoints of
    # three loops do most of the work.
    "corpus_pipeline": {
        "inputs": ("corpus", {"files": 400, "vocab": 20000}),
        "factor_freq_cap": 5,
        "supersteps": 4,
        "levels": (0,),
    },
    # PageRank alone (no corpus, no co-occurrence, no storage checkpoints)
    # over one fixed partitioning: a call at nproc threads in the fresh JVM
    # (the measured one), then the same call at 1 thread. The first
    # supersteps of the first call warm the JIT and are left out of the
    # superstep rates.
    "pagerank_scale": {
        "inputs": ("digraph", {"vertices": 20_000, "edges": 100_000}),
        "files_per_table": 4,
        "supersteps": 5,
        "warm_supersteps": 2,
        "partitions": 8,
        "shuffle_partitions": 8,
        "levels": (0, 1),
    },
}

COUNTERS = ("wall_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes",
            "executor_run_s", "gc_s")
MAIN_LAYERS = ("corpus", "cooccurrence", "pagerank", "components", "lpa", "triangles")
LOOP_LAYERS = ("pagerank", "components", "lpa")


def per_layer_names() -> list[str]:
    """Every per-layer metric, reported on both workloads. A layer a workload
    does not reach reads 0, so a layer's time is reported as its share of
    the pass (``wall_frac``); absolute times are kept for the layers both
    workloads reach: PageRank, and the trace itself."""
    names = [f"{layer}.{c}" for layer in MAIN_LAYERS
             for c in ("wall_frac", "jobs", "tasks", "shuffle_bytes", "spill_bytes",
                       "busy_frac", "gc_frac")]
    names += [f"pagerank.{c}" for c in ("wall_s", "executor_run_s", "gc_s",
                                         "loop_setup_s", "superstep_s",
                                         "superstep_eps", "scaling_eff")]
    names += [f"{layer}.{c}" for layer in LOOP_LAYERS
              for c in ("supersteps", "jobs_per_superstep", "loop_setup_frac")]
    names += ["checkpoint.write_frac", "checkpoint.bytes", "trace.work_s", "trace.gap_s"]
    return names


class RunError(Exception):
    pass


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Kill whatever is left in the worker's process group (the Spark JVM,
    Python daemons) and wait until all of it has exited."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 30
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.05)


def _launch(spec: dict, name: str) -> tuple[subprocess.Popen, str]:
    path = os.path.join(spec["work"], f"{name}.json")
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
               PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
               SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"),
               TMPDIR=tmp, JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}")
    env.pop("SPARK_GRAFT_CPUS", None)
    with open(path, "w") as f:
        json.dump(dict(spec, t_launch=time.time()), f)
    with open(path + ".log", "w") as log:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), path],
                                cwd=spec["work"], env=env, stdout=log, stderr=log,
                                start_new_session=True)
    return proc, path


def _collect(proc: subprocess.Popen, path: str, deadline: float) -> dict:
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc.pid)
    if code != 0:
        with open(path + ".log") as f:
            tail = f.read()[-3000:]
        raise RunError(f"{os.path.basename(path)} exited with {code}:\n{tail}")
    with open(path + ".out.json") as f:
        return json.load(f)


def run_worker(spec: dict, timeout: float) -> dict:
    """Boot the worker and the set-up probes at the same moment; once the
    probes have exited, signal the worker to start measuring. The result's
    ``setup_s`` is the median over all of them."""
    os.makedirs(spec["work"], exist_ok=True)
    deadline = time.time() + timeout
    spec = dict(spec, go=os.path.join(spec["work"], "go"))
    procs = []
    previous = signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        procs.append(_launch(spec, "worker"))
        for i in range(SETUP_PROBES):
            procs.append(_launch(dict(spec, probe=True), f"probe{i}"))
        setups = [_collect(*p, deadline)["setup_s"] for p in procs[1:]]
        open(spec["go"], "w").close()
        result = _collect(*procs[0], deadline)
    finally:
        for proc, _ in procs:
            _stop_group(proc.pid)
            proc.wait()
        signal.signal(signal.SIGTERM, previous)
    result["setup_samples"] = [result["setup_s"]] + setups
    result["setup_s"] = _median(result["setup_samples"])
    return result


def environment(cores: int) -> dict:
    """What the figures depend on besides the code: recorded in every report."""
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True).stdout.strip() or None
    return {"nproc": len(os.sched_getaffinity(0)), "task_threads": cores,
            "driver_memory": DRIVER_MEM, "pyspark": pyspark.__version__,
            "java": (java.stderr.splitlines() or [None])[0],
            "python": platform.python_version(), "git_sha": sha}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _measured(part: dict) -> list[list[dict]]:
    """The spans of each measured pass of one level."""
    return [part["spans"][a:b] for a, b in (p["spans"] for p in part["passes"])]


def _layer_values(spans: list[dict], wall: float, cores: int) -> dict:
    """``<layer>.<counter>`` sums of self time and Spark counters over one
    pass's spans, with the derived shares."""
    tot: dict[str, dict] = {}
    for s in spans:
        t = tot.setdefault(s["layer"], dict.fromkeys(COUNTERS, 0.0))
        t["wall_s"] += s["self_s"]
        for c in COUNTERS[1:]:
            t[c] += s.get(c, 0)
    out = {}
    for layer, t in tot.items():
        t["wall_frac"] = t["wall_s"] / wall
        t["busy_frac"] = t["executor_run_s"] / (t["wall_s"] * cores) if t["wall_s"] else 0.0
        t["gc_frac"] = t["gc_s"] / t["executor_run_s"] if t["executor_run_s"] else 0.0
        out.update({f"{layer}.{c}": v for c, v in t.items()})
    for s in spans:
        if "history" in s:
            out.update({f"{s['layer']}.{c}": v for c, v in _loop_stats(s).items()})
        if "checkpoint" in s:
            out["checkpoint.write_frac"] = out.get("checkpoint.write_frac", 0.0) + \
                s["checkpoint"]["write_s"] / wall
            out["checkpoint.bytes"] = out.get("checkpoint.bytes", 0) + s["checkpoint"]["bytes"]
    return out


def _loop_stats(span: dict) -> dict:
    """Loop figures of one iterative call from its ``result.history``: the
    time before the first superstep, and the jobs submitted during the
    supersteps (the loop ends when the call returns)."""
    steps = span["history"]
    loop_ms = sum(steps) * 1000.0
    start = span["return_ms"] - loop_ms
    jobs = [t for t in span.get("job_submit_ms", [])
            if t is not None and start <= t < span["return_ms"]]
    setup_s = (start - span["start_epoch_ms"]) / 1000.0
    return {
        "loop_setup_s": setup_s,
        "loop_setup_frac": setup_s / span["wall_s"],
        "superstep_s": _median(steps),
        "supersteps": len(steps),
        "jobs_per_superstep": len(jobs) / len(steps) if steps else 0.0,
    }


def _steady_steps(passes: list[list[dict]], warm: int) -> list[float]:
    return [t for spans in passes for s in spans
            if s["layer"] == "pagerank" and "history" in s for t in s["history"][warm:]]


def summarize(name: str, cfg: dict, result: dict, edges: int) -> tuple[dict, dict, dict]:
    """End-to-end metrics, per-layer metrics, and the workload's named
    figures for the report line. The first level is the measured one; a
    second level only feeds ``pagerank.scaling_eff``."""
    main = result["parts"][0]
    cores = main["cores"]
    passes = _measured(main)
    work = [p["wall_s"] for p in main["passes"]]
    e2e = {"work_s": _median(work), "setup_s": result["setup_s"],
           "peak_rss_mb": result["peak_rss_mb"]}

    values = [_layer_values(spans, p["wall_s"], cores)
              for spans, p in zip(passes, main["passes"])]
    layer = {k: _median([v.get(k, 0.0) for v in values]) for k in per_layer_names()}
    spans = sum(passes, [])
    top = [s for s in spans if s["parent"] is None]
    layer["trace.work_s"] = e2e["work_s"]
    layer["trace.gap_s"] = (sum(work) - sum(s["wall_s"] for s in top)) / len(work)

    named = dict(e2e)
    warm = cfg.get("warm_supersteps", 0)
    steps = _steady_steps(passes, warm)
    if steps:
        layer["pagerank.superstep_eps"] = edges / _median(steps)
    if name == "corpus_pipeline":
        named.update(pipeline_s=e2e["work_s"], superstep_eps=layer["pagerank.superstep_eps"])
    elif name == "pagerank_scale":
        low = result["parts"][1]
        eps_low = edges / _median(_steady_steps(_measured(low), warm))
        layer["pagerank.scaling_eff"] = (
            layer["pagerank.superstep_eps"] / (cores / low["cores"] * eps_low))
        named.update(pagerank_s=e2e["work_s"], superstep_eps=layer["pagerank.superstep_eps"],
                     superstep_eps_1thread=eps_low, scaling_eff=layer["pagerank.scaling_eff"])
    named = {k: {"value": v, "unit": _unit(k)} for k, v in named.items()}
    named["supersteps"] = {s["layer"]: len(s["history"]) for s in spans if "history" in s}
    named["calls_s"] = {s["name"]: s["wall_s"] for s in top}
    named["setup_samples_s"] = result["setup_samples"]
    return e2e, layer, named


def check(name: str, cfg: dict, result: dict, inputs: str) -> tuple[list[str], int]:
    """Run the workload's correctness checks; return the mismatches and the
    edge count the superstep rate is measured over."""
    import checks

    parts = result["parts"]
    if name == "corpus_pipeline":
        import pyarrow.parquet as pq

        p = parts[0]
        bad = checks.corpus_pipeline(p["out"], p["info"], p["spans"],
                                     os.path.join(inputs, "repo_files.parquet"),
                                     cfg["factor_freq_cap"], cfg["supersteps"])
        return bad, 2 * pq.read_table(os.path.join(p["out"], "edges")).num_rows
    if name == "pagerank_scale":
        bad = [m for p in parts
               for m in checks.pagerank_scale(p["out"], inputs, cfg["supersteps"])]
        return bad, cfg["inputs"][1]["edges"]
    raise ValueError(name)


def _unit(name: str) -> str:
    c = name.rsplit(".", 1)[-1]
    if c == "peak_rss_mb":
        return "MB"
    if c.endswith("_s"):
        return "s"
    if c.endswith("bytes"):
        return "bytes"
    if c.endswith("_frac") or c == "scaling_eff":
        return "ratio"
    if c.startswith("superstep_eps"):
        return "edges/s"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "bluegraph_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no bluegraph_spark sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import gen

    name, cfg = args.workload, WORKLOADS[args.workload]
    cores = min(4, len(os.sched_getaffinity(0)))
    kind, size = cfg["inputs"]
    inputs, digest = gen.ensure(CACHE, kind, args.seed, cfg.get("files_per_table", 1), **size)
    work = os.path.join(CACHE, "runs", f"{name}-{args.seed}-{os.getpid()}")
    spec = {key: cfg[key] for key in ("factor_freq_cap", "supersteps", "partitions")
            if key in cfg}
    spec.update(workload=name, root=ROOT, work=work, inputs=inputs, trace=bool(args.trace),
                seconds=args.seconds, levels=[n or cores for n in cfg["levels"]],
                shuffle_partitions=cfg.get("shuffle_partitions", cores))
    try:
        result = run_worker(spec, timeout=150)
        bad, edges = check(name, cfg, result, inputs)
    except RunError as e:
        print(str(e), file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, layer, named = summarize(name, cfg, result, edges)
    env = environment(cores)
    print(json.dumps({"workload": name, "seed": args.seed, "input_digest": digest, "env": env,
                      "mismatches": bad, "figures": named}))
    if args.trace:
        spans = [dict(s, level=p["cores"]) for p in result["parts"] for s in p["spans"]]
        with open(os.path.join(CACHE, f"trace-{name}-{args.seed}.json"), "w") as f:
            json.dump({"env": env, "spans": spans}, f)
    for m in bad:
        print(f"MISMATCH {m}", file=sys.stderr)
    calls = [s for p in result["parts"] for s in p["spans"] if s["parent"] is None]
    metrics = layer if args.trace else e2e
    print(json.dumps({"correct": not bad, "attempted": len(calls), "failed": len(bad),
                      "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()}}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
