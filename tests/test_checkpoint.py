"""SuperstepCheckpointer unit behavior: completeness, resume safety, pruning."""

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from bluegraph_spark.operators.pagerank import pagerank
from bluegraph_spark.plans import loop as loop_module
from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer


def _iceberg_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        return True
    except Exception:
        return False


def test_partial_write_is_invisible(spark, tmp_path):
    """A checkpoint dir without _SUCCESS + metrics (a run killed mid-write)
    must not be offered for resume."""
    cp = SuperstepCheckpointer(str(tmp_path), "r")
    cp.save(1, spark.range(5).select(F.col("id")))
    os.makedirs(cp.data_path(2))  # partial: no _SUCCESS, no metrics
    assert cp.iterations() == [1]
    assert cp.latest() == 1
    # data dir present but metrics missing is also incomplete
    cp.save(3, spark.range(3).select(F.col("id")))
    os.remove(cp.metrics_path(3))
    assert cp.latest() == 1


def test_metrics_and_lineage_recorded(spark, tmp_path):
    cp = SuperstepCheckpointer(str(tmp_path), "r")
    state = spark.range(1000).repartition(5, "id").localCheckpoint()
    cp.save(1, state, metrics={"err": 0.5})
    rec = cp.load_metrics(1)
    assert rec["iteration"] == 1 and rec["err"] == 0.5
    assert rec["total_rows"] == 1000
    # lineage is rows per WRITTEN partition (file packing may merge them
    # on a re-read, so a scan of the files cannot give it)
    per_partition = (
        state.groupBy(F.spark_partition_id().alias("p")).count().collect()
    )
    assert rec["lineage"] == [
        {"partition": r["p"], "rows": r["count"]}
        for r in sorted(per_partition)
    ]


def test_keep_last_prunes_old_state(spark, tmp_path):
    cp = SuperstepCheckpointer(str(tmp_path), "r", keep_last=2)
    for it in (1, 2, 3, 4):
        cp.save(it, spark.range(it).select(F.col("id")))
    assert cp.iterations() == [3, 4]
    # metrics survive pruning (the run log stays complete)
    assert os.path.exists(cp.metrics_path(1))


def test_roundtrip_preserves_rows(spark, tmp_path):
    cp = SuperstepCheckpointer(str(tmp_path), "r")
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2.0).alias("rank"))
    cp.save(7, df)
    reloaded = cp.load(spark, 7)
    assert reloaded.count() == 100
    assert {r["id"] for r in reloaded.collect()} == set(range(100))


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json"])
def test_format_matrix_roundtrip_and_completeness(spark, tmp_path, fmt):
    """Every Hadoop-committed path format goes through the same save/load/
    completeness/resume contract — data_format is not a parquet-only flag."""
    cp = SuperstepCheckpointer(str(tmp_path), "r", data_format=fmt)
    df = spark.range(20).select(F.col("id"), (F.col("id") * 1.5).alias("rank"))
    cp.save(1, df, metrics={"err": 0.1})
    assert cp.load(spark, 1).count() == 20
    assert cp.latest() == 1
    got = {(r["id"], r["rank"]) for r in cp.load(spark, 1).collect()}
    assert got == {(i, i * 1.5) for i in range(20)}
    # partial write (no _SUCCESS) stays invisible in every format
    os.makedirs(cp.data_path(2))
    assert cp.latest() == 1
    assert cp.load_metrics(1)["err"] == 0.1


def test_iceberg_checkpoint_contract(spark, tmp_path):
    """What a cluster with an Iceberg runtime must verify (the sandbox has
    no iceberg-spark-runtime jar, so this skips here — the body is the
    real test, not a placeholder):

    1. ``data_format="iceberg"`` round-trips vertex state through
       ``format("iceberg").save/load`` on a path-based table;
    2. completeness = committed metadata tree + metrics JSON (Iceberg
       writes no Hadoop _SUCCESS marker; its commit is the metadata swap),
       so a run killed mid-write — data files present, no metadata commit —
       must stay invisible to ``latest()``;
    3. resume (``pagerank(..., resume=True)``) continues from the last
       committed snapshot.
    """
    if not _iceberg_available(spark):
        pytest.skip(
            "iceberg-spark-runtime not on the classpath in this sandbox; "
            "run this test on a cluster with an Iceberg catalog configured"
        )
    cp = SuperstepCheckpointer(str(tmp_path), "r", data_format="iceberg")
    df = spark.range(20).select(F.col("id"), (F.col("id") * 1.5).alias("rank"))
    cp.save(1, df, metrics={"err": 0.1})
    assert cp.load(spark, 1).count() == 20
    assert cp.latest() == 1
    # lineage comes from the write's task metrics; Spark's data-source-V2
    # write tasks report no recordsWritten, so only the sum is checked
    rec = cp.load_metrics(1)
    assert sum(p["rows"] for p in rec["lineage"]) == rec["total_rows"]
    # a metadata-less table dir (killed before the metadata commit) is
    # incomplete even if data files exist
    os.makedirs(os.path.join(cp.data_path(2), "data"))
    assert cp.latest() == 1


def test_sssp_and_kshortest_resume(spark, tmp_path):
    """Both path loops continue from the latest complete superstep and
    reproduce the uninterrupted run exactly (pagerank's resume contract,
    extended to the label-table checkpoints round 5 added)."""
    from pyspark.sql import functions as F

    from bluegraph_spark.operators.paths import (
        k_shortest_distances,
        shortest_paths,
    )
    from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer

    n = 40
    edges = spark.range(n).select(
        F.col("id").cast("string").alias("src"),
        ((F.col("id") * 7 + 3) % n).cast("string").alias("dst"),
        (F.col("id") % 5 + 1).cast("double").alias("w"),
    )

    # --- SSSP ---
    full = shortest_paths(edges, "0", weight_col="w", max_iter=6)
    ck = SuperstepCheckpointer(str(tmp_path / "ck_sssp"), run_id="r")
    part = shortest_paths(
        edges, "0", weight_col="w", max_iter=2, checkpointer=ck
    )
    assert part.iterations == 2
    resumed = shortest_paths(
        edges, "0", weight_col="w", max_iter=6, checkpointer=ck, resume=True
    )
    assert resumed.iterations >= part.iterations
    a = sorted(map(tuple, full.distances.collect()))
    b = sorted(map(tuple, resumed.distances.collect()))
    assert a == b
    # a converged run resumes as a no-op early exit
    again = shortest_paths(
        edges, "0", weight_col="w", max_iter=20, checkpointer=ck, resume=True
    )
    assert again.converged
    assert sorted(map(tuple, again.distances.collect())) == a

    # --- k-shortest ---
    fullk = k_shortest_distances(edges, "0", k=2, weight_col="w", max_iter=8)
    ck2 = SuperstepCheckpointer(str(tmp_path / "ck_kssp"), run_id="r")
    k_shortest_distances(
        edges, "0", k=2, weight_col="w", max_iter=3, checkpointer=ck2
    )
    resumedk = k_shortest_distances(
        edges, "0", k=2, weight_col="w", max_iter=8,
        checkpointer=ck2, resume=True,
    )
    ak = sorted(map(tuple, fullk.distances.collect()))
    bk = sorted(map(tuple, resumedk.distances.collect()))
    assert ak == bk


def _ring(spark, n=30):
    return spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 3) % n).alias("dst")
    )


class SlowCheckpointer(SuperstepCheckpointer):
    """Every write starts late, so a write the loop does not wait for is
    still running when the operator returns."""

    def save(self, iteration, state, metrics=None):
        time.sleep(0.2)
        super().save(iteration, state, metrics)


def test_checkpoints_are_durable_on_return(spark, tmp_path):
    """The loop writes each superstep while the next one computes, and
    joins the last write before it returns: every superstep's data and
    metrics are on storage the moment the call returns."""
    cp = SlowCheckpointer(str(tmp_path), "r")
    res = pagerank(_ring(spark), tol=0.0, max_iter=4, checkpointer=cp)
    n = res.iterations
    assert n == 4
    assert cp.iterations() == list(range(n + 1))
    assert len(cp.metrics_log()) == n + 1


class OverlapProbe(SuperstepCheckpointer):
    """``save(1)`` returns only after superstep 2's materialization has
    started (or after 10 s): a loop that writes inline never gets there."""

    def __init__(self, *args):
        super().__init__(*args)
        self.saving = threading.Event()
        self.next_started = threading.Event()
        self.seen = False
        self.threads = set()

    def save(self, iteration, state, metrics=None):
        self.threads.add(threading.get_ident())
        if iteration == 1:
            self.saving.set()
            self.seen = self.next_started.wait(timeout=10)
        super().save(iteration, state, metrics)


def test_write_overlaps_the_next_superstep(spark, tmp_path, monkeypatch):
    cp = OverlapProbe(str(tmp_path), "r")
    materialize = loop_module.stats_safe_local_checkpoint

    def probe(df):
        if cp.saving.is_set():  # a materialization after save(1) began
            cp.next_started.set()
        return materialize(df)

    monkeypatch.setattr(loop_module, "stats_safe_local_checkpoint", probe)
    res = pagerank(_ring(spark), tol=0.0, max_iter=3, checkpointer=cp)
    assert cp.seen, "superstep 2 did not start while save(1) was running"
    assert threading.get_ident() not in cp.threads
    assert cp.iterations() == list(range(res.iterations + 1))
