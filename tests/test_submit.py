"""The shipped ``spark-submit --py-files`` entry point runs end to end.

The zip comes from ``scripts/make_pyfiles.py`` and the job from
``scripts/submit_job.py``, launched with pyspark's bundled ``spark-submit``
from a working directory outside the checkout and without ``PYTHONPATH``,
so the package can only come from the zip. ``SPARK_GRAFT_CPUS`` names
another master than the submitted one, and the application's event log
must show the submitted master.
"""

import importlib.util
import json
import os
import subprocess
import sys

import numpy as np
import pyspark
from pyspark.sql import functions as F

from bluegraph_spark.operators.pagerank import pagerank
from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _make_pyfiles():
    path = os.path.join(REPO, "scripts", "make_pyfiles.py")
    spec = importlib.util.spec_from_file_location("make_pyfiles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _master_in_event_log(events_dir) -> str:
    """``spark.master`` of the application whose event log is in the dir."""
    # a rolling log: one directory of events_<n>_<app id> files
    for path in events_dir.rglob("events_*"):
        for line in path.read_text().splitlines():
            event = json.loads(line)
            if event["Event"] == "SparkListenerEnvironmentUpdate":
                return dict(event["Spark Properties"])["spark.master"]
    raise AssertionError(f"no environment update in {events_dir}")


def test_spark_submit_pagerank_matches_in_process(spark, tmp_path):
    zip_path = _make_pyfiles().main(str(tmp_path / "dist"))
    n = 40
    edges_path = str(tmp_path / "edges")
    spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 3) % n).alias("dst")
    ).union(
        spark.range(n).select(F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst"))
    ).write.parquet(edges_path)
    out, ckpt = str(tmp_path / "ranks"), str(tmp_path / "ckpt")
    work = tmp_path / "work"
    work.mkdir()
    events = tmp_path / "events"
    events.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # SPARK_GRAFT_CPUS names another master than the submitted one: the
    # CLI's get_session must keep the submitted master
    env.update(
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_CPUS="3",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    proc = subprocess.run(
        [submit, "--master", "local[2]", "--py-files", zip_path,
         "--conf", "spark.eventLog.enabled=true",
         "--conf", f"spark.eventLog.dir={events}",
         "--conf", "spark.eventLog.compress=false",
         os.path.join(REPO, "scripts", "submit_job.py"), "pagerank",
         "--edges", edges_path, "--output", out, "--checkpoint-dir", ckpt],
        cwd=work, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert _master_in_event_log(events) == "local[2]"

    # every superstep's metrics are on storage after the process exited:
    # the last write ran in the background and still finished
    cp = SuperstepCheckpointer(ckpt, "run")
    assert cp.iterations() == list(range(summary["iterations"] + 1))
    assert len(cp.metrics_log()) == summary["iterations"] + 1

    ref = pagerank(spark.read.parquet(edges_path))
    assert ref.iterations == summary["iterations"]
    want = dict(ref.ranks.collect())
    got = dict(spark.read.parquet(out).select("id", "rank").collect())
    assert got.keys() == want.keys()
    ids = sorted(want)
    np.testing.assert_allclose(
        [got[i] for i in ids], [want[i] for i in ids], rtol=0, atol=1e-6
    )
