"""Iterative loops must not leak their conf pins into the caller's session.

pagerank/cc/lpa pin plan-time conf (AQE off, shuffle width) for their
superstep loops; round 3 moved the pins onto a private ``newSession()``.
The checkpointer's ``save`` runs in the middle of every superstep, so a
snooping subclass is a genuine mid-loop probe of the caller's conf.
"""

import pytest
from pyspark.sql import functions as F

from bluegraph_spark.operators.components import connected_components
from bluegraph_spark.operators.lpa import label_propagation
from bluegraph_spark.operators.pagerank import pagerank
from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer
from bluegraph_spark.plans.isolation import loop_session, rebind


@pytest.fixture()
def ring_edges(spark):
    n = 40
    return spark.createDataFrame(
        [(i, (i + 1) % n, 1.0) for i in range(n)], "src long, dst long, w double"
    )


def _parent_conf(spark):
    return (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )


def test_parent_conf_untouched_mid_loop(spark, ring_edges, tmp_path):
    before = _parent_conf(spark)
    snaps = []

    class Snoop(SuperstepCheckpointer):
        def save(self, iteration, state, metrics=None):
            # runs mid-loop, while the loop session has AQE off + width pinned
            snaps.append(_parent_conf(spark))
            return super().save(iteration, state, metrics)

    cp = Snoop(str(tmp_path / "cp"))
    res = pagerank(ring_edges, weight_col="w", tol=0.0, max_iter=3, checkpointer=cp)
    assert len(snaps) >= 3  # init + supersteps all probed the parent
    assert all(s == before for s in snaps)
    assert _parent_conf(spark) == before
    # a query planned on the parent right after still plans under parent conf
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # result is rebound to the caller's session and fully usable there
    assert res.ranks.sparkSession._jsparkSession.equals(spark._jsparkSession)
    assert res.ranks.count() == 40


def test_cc_and_lpa_leave_parent_conf_alone(spark, ring_edges):
    before = _parent_conf(spark)
    cc = connected_components(ring_edges.select("src", "dst"))
    assert cc.components.count() == 40
    lpa = label_propagation(ring_edges, weight_col="w", max_iter=2)
    assert lpa.labels.count() == 40
    assert _parent_conf(spark) == before
    for df in (cc.components, lpa.labels):
        assert df.sparkSession._jsparkSession.equals(spark._jsparkSession)


def test_rebind_roundtrip_and_view_cleanup(spark):
    child = loop_session(spark)
    df = spark.range(10).select("id", (F.col("id") * 2).alias("x"))
    over = rebind(df, child)
    back = rebind(over, spark)
    assert back.agg(F.sum("x")).collect()[0][0] == 90
    assert [t.name for t in spark.catalog.listTables("global_temp")] == []
    # same-session rebind is the identity
    assert rebind(df, spark) is df


def test_rebind_primary_preserves_attribute_ids(spark):
    """The primary route must NOT re-alias columns: the analyzed plan's
    output attribute ids survive the session hop (what keeps a
    localCheckpoint's captured partitioning usable downstream)."""
    target = loop_session(spark)
    df = spark.range(10).select("id", (F.col("id") + 1).alias("y"))
    out = rebind(df, target)
    src_ids = df._jdf.queryExecution().analyzed().output().mkString(",")
    dst_ids = out._jdf.queryExecution().analyzed().output().mkString(",")
    assert src_ids == dst_ids


def test_loop_session_inherits_runtime_conf_delta(spark):
    """ADVICE r3: a caller's runtime conf.set (beyond the 3 confs the loops
    read) must be visible inside the loop session."""
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        s = loop_session(spark)
        assert s.conf.get("spark.sql.session.timeZone") == "America/New_York"
        # and isolation still holds in the other direction
        s.conf.set("spark.sql.session.timeZone", "UTC")
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    finally:
        spark.conf.unset("spark.sql.session.timeZone")
