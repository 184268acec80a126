"""Controlled A/B timer for driver-bench regressions (VERDICT r04 ask).

Runs a fixed warmup query then times the named queries inside a fresh
``local[N]`` session (N = ``SPARK_GRAFT_CPUS``, by default the cores
this process may run on), importing ``__spark_entry__`` from the repo root
given on the command line. Meant to be invoked as a subprocess once per
(version, rep) cell so that JVM/session state never leaks across cells;
the parent interleaves versions (A,B,A,B,...) so slow VM drift hits both
arms equally.

Usage:
    python scripts/ab_regression.py <repo_root> <sf_dir> <q1,q2,...>
Prints one JSON line: {"repo": ..., "timings": {q: sec}}.
"""

import json
import os
import sys
import time


def main() -> None:
    repo, sf_dir, qnames = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    sys.path.insert(0, repo)
    os.chdir(repo)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

    from bluegraph_spark.session import get_session

    spark = get_session(
        master=f"local[{cpus}]", shuffle_partitions=cpus, app_name="ab"
    )
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    # Warmup: same first query the driver bench runs, to pay JVM/codegen
    # startup outside the measured region.
    queries["cooc_parts_freq"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    timings = {}
    for q in qnames:
        t0 = time.time()
        queries[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[q] = round(time.time() - t0, 3)
    print(json.dumps({"repo": repo, "timings": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
