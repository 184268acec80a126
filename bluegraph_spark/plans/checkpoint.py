"""Per-superstep vertex-state checkpointing with lineage + metrics + resume.

The superstep loops (``plans/loop.py``: PageRank, connected components,
LPA, SSSP, k-shortest distances and Louvain's local-move rounds) cut each
superstep's lineage with one stats-guarded ``localCheckpoint``, with or
without a checkpointer (without the cut the logical plan grows by two joins
per iteration and the job eventually dies in the planner, SURVEY.md §4.1).
A checkpointer then writes those blocks to storage, one job and no
recompute:

1. it makes runs resumable after executor/driver loss: the loop continues
   from the last complete iteration (north rule). Only resume reads the
   files; the next superstep reads the local checkpoint, whose captured
   hash partitioning keeps its joins exchange-free. The loop calls
   ``save`` on a background thread, so superstep k's write overlaps
   superstep k+1's compute, with at most one write in flight; it joins
   the last write before the operator returns, so a returned run is on
   storage in full (durable on return). ``save`` itself stays synchronous
   for direct callers. A lost local checkpoint fails the run instead of
   recomputing it: rerun with ``resume=True``. A run without ``resume``
   first deletes its run directory's supersteps (``clear``), so a resume
   never continues some earlier run;
2. it records per-iteration metrics and per-partition lineage rows (rows
   per written partition, taken from the write's own task metrics, so no
   job re-reads the files) so progress is observable. The loop's record
   for a superstep is complete once its materialization job has run, so
   it is passed in as a dict; ``write_sec`` times the write alone, which
   the record's ``superstep_sec`` does not include. Data-source-V2
   formats (Iceberg) report no ``recordsWritten`` from Spark's write task,
   so their lineage rows read 0.

The reference has no analogue (NetworkX/graph-tool iterate in-process); this
is engine-side driver code, not a Catalyst extension.

Storage layout (``format`` defaults to parquet; on a cluster with an Iceberg
catalog pass ``data_format="iceberg"`` and a catalog path — the sandbox has
no Iceberg runtime, so parquet directories stand in):

    {base}/{run_id}/iter=00003/            vertex-state parquet
    {base}/{run_id}/metrics/iter_00003.json  metrics + per-partition lineage

The metrics JSON is written once, after the state write and after the
superstep's observed metrics are known. A checkpoint is complete iff the
format's commit marker (Hadoop-committed formats: the ``_SUCCESS`` file;
Iceberg: the committed metadata tree) and the metrics JSON both exist; ``latest()`` ignores partial writes, so a run
killed mid-write resumes from the previous superstep. The format matrix is
pytest-parameterized (tests/test_checkpoint.py); the Iceberg path skips in
this sandbox (no iceberg-spark-runtime jar) with the cluster-side contract
spelled out in the skipped test body.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession


class SuperstepCheckpointer:
    def __init__(
        self,
        base_path: str,
        run_id: str = "run",
        data_format: str = "parquet",
        keep_last: int | None = None,
    ):
        self.base = os.path.join(base_path, run_id)
        self.data_format = data_format
        self.keep_last = keep_last
        os.makedirs(os.path.join(self.base, "metrics"), exist_ok=True)

    # -- paths -----------------------------------------------------------

    def data_path(self, iteration: int) -> str:
        return os.path.join(self.base, f"iter={iteration:05d}")

    def metrics_path(self, iteration: int) -> str:
        return os.path.join(self.base, "metrics", f"iter_{iteration:05d}.json")

    # -- write -----------------------------------------------------------

    def clear(self) -> None:
        """Delete every superstep this run directory holds, so a fresh run
        never mixes its supersteps with an earlier run's."""
        for name in os.listdir(self.base):
            if name.startswith("iter="):
                shutil.rmtree(os.path.join(self.base, name))
        for name in os.listdir(os.path.join(self.base, "metrics")):
            if name.startswith("iter_"):
                os.remove(os.path.join(self.base, "metrics", name))

    def save(
        self,
        iteration: int,
        state: DataFrame,
        metrics: dict[str, Any] | Callable[[], dict[str, Any]] | None = None,
    ) -> None:
        """Write vertex state + metrics. ``state`` should be materialized
        (the loop passes its local checkpoint), so the write recomputes
        nothing. ``metrics`` may be a zero-argument callable: it is
        evaluated after the write, so metrics observed on ``state`` go into
        the one metrics JSON this call writes.
        """
        path = self.data_path(iteration)
        sc = state.sparkSession.sparkContext
        # A job tag (not a job group, which a caller's tracer may own)
        # marks the write so its task metrics give the lineage.
        tag = f"bluegraph-checkpoint-{uuid.uuid4().hex}"
        t0 = time.time()
        sc.addJobTag(tag)
        try:
            state.write.mode("overwrite").format(self.data_format).save(path)
        finally:
            sc.removeJobTag(tag)
        record: dict[str, Any] = {
            "iteration": iteration,
            "wall_clock_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "write_sec": round(time.time() - t0, 4),
            "path": path,
            "lineage": _rows_written(sc, tag),
        }
        record["total_rows"] = sum(p["rows"] for p in record["lineage"])
        record.update((metrics() if callable(metrics) else metrics) or {})
        tmp = self.metrics_path(iteration) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.replace(tmp, self.metrics_path(iteration))

        if self.keep_last is not None:
            for it in self.iterations()[: -self.keep_last]:
                shutil.rmtree(self.data_path(it), ignore_errors=True)

    # -- read / resume -----------------------------------------------------

    def _complete(self, iteration: int) -> bool:
        if not os.path.exists(self.metrics_path(iteration)):
            return False
        if self.data_format == "iceberg":
            # Iceberg commits atomically through its metadata tree (no
            # Hadoop _SUCCESS marker): a path-based table is complete iff
            # its metadata dir exists — a killed mid-write run leaves data
            # files but no committed metadata, and the metrics JSON (written
            # strictly after the commit) is the second gate.
            return os.path.isdir(os.path.join(self.data_path(iteration), "metadata"))
        # Hadoop-committed path formats (parquet/orc/json/csv) all write the
        # _SUCCESS marker on successful job commit.
        return os.path.exists(os.path.join(self.data_path(iteration), "_SUCCESS"))

    def iterations(self) -> list[int]:
        out = []
        if not os.path.isdir(self.base):
            return out
        for name in os.listdir(self.base):
            if name.startswith("iter="):
                it = int(name.split("=")[1])
                if self._complete(it):
                    out.append(it)
        return sorted(out)

    def latest(self) -> int | None:
        its = self.iterations()
        return its[-1] if its else None

    def load(self, spark: SparkSession, iteration: int) -> DataFrame:
        return spark.read.format(self.data_format).load(self.data_path(iteration))

    def load_metrics(self, iteration: int) -> dict[str, Any]:
        with open(self.metrics_path(iteration)) as f:
            return json.load(f)

    def metrics_log(self) -> list[dict[str, Any]]:
        """Every superstep's metrics record, in iteration order, including
        supersteps whose data ``keep_last`` pruned."""
        names = os.listdir(os.path.join(self.base, "metrics"))
        its = sorted(int(n[5:-5]) for n in names if n.endswith(".json"))  # iter_NNNNN.json
        return [self.load_metrics(i) for i in its]


def _rows_written(sc, tag: str) -> list[dict[str, int]]:
    """Rows per written partition: each successful task's
    ``recordsWritten`` in the result stage of the last job that the
    SparkContext ``sc`` ran under ``tag`` (a result stage has the highest
    stage id of its job)."""
    jsc = sc._jsc.sc()
    # the status store is fed by the asynchronous listener bus
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    seq = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    job = store.job(max(jsc.statusTracker().getJobIdsForTag(tag)))
    stage = store.lastStageAttempt(max(seq(job.stageIds())))
    rows = {
        t.index(): t.taskMetrics().get().outputMetrics().recordsWritten()
        for t in seq(store.taskList(stage.stageId(), stage.attemptId(), 2**31 - 1))
        if t.status() == "SUCCESS"
    }
    return [{"partition": i, "rows": rows[i]} for i in sorted(rows)]
