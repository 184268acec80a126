"""Physical-plan regression guards for the iterative superstep loops and
the co-occurrence builder.

The loop design's load-bearing property is its exchange budget: PageRank
runs ONE shuffle per superstep (the message groupBy — the CSR-blocked edge
cache and the co-partitioned state join are exchange-free), LPA runs two
(per-(vertex, label) score shuffle + per-vertex argmax shuffle). A refactor
that silently adds an exchange multiplies cluster network traffic per
superstep; these tests pin the budget via the plan snapshot the operators
record on their first superstep. The co-occurrence builder's budgets are
pinned on the lazy edge-table plan itself.
"""

import re

import pytest
from pyspark.sql import functions as F

from bluegraph_spark.operators.lpa import label_propagation
from bluegraph_spark.operators.pagerank import pagerank
from bluegraph_spark.plans import loop as loop_module
from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer


@pytest.fixture(scope="module")
def graph(spark):
    n = 300
    rows = [(i, (i * 7 + 1) % n, float(i % 5 + 1)) for i in range(n)] + [
        (i, (i * 3 + 2) % n, 1.0) for i in range(n)
    ]
    return spark.createDataFrame(rows, "src long, dst long, w double")


@pytest.fixture()
def no_broadcast(spark):
    """Pin the join strategy the operators see at scale: on the toy test
    graph the planner would broadcast the edge cache, which changes the
    exchange budget being guarded."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


@pytest.fixture(
    params=["local", "checkpointer", "int-nodes", "string-nodes", "alias-nodes"]
)
def loop_kwargs(request, spark, graph, tmp_path):
    """Ways a loop can run at the same budget: a storage checkpointer
    writes the same local checkpoint the loop reads on, and a caller's
    ``nodes`` frame of another id type is cast to the edges' type, so the
    vertex set joins the edge cache without an exchange. ``alias-nodes``
    is a ``nodes`` id of the edges' type under a no-op cast and alias,
    which the optimizer strips."""
    if request.param == "local":
        return {}
    if request.param == "checkpointer":
        return {"checkpointer": SuperstepCheckpointer(str(tmp_path))}
    if request.param == "alias-nodes":
        return {"nodes": spark.range(300).select(F.col("id").cast("long").alias("id"))}
    ids = graph.select(F.col("src").alias("id")).union(graph.select("dst"))
    id_type = request.param.split("-")[0]
    return {"nodes": ids.select(F.col("id").cast(id_type).alias("id"))}


def test_pagerank_superstep_is_single_exchange(graph, no_broadcast, loop_kwargs):
    res = pagerank(
        graph, weight_col="w", tol=0.0, max_iter=2, partitions=4, **loop_kwargs
    )
    assert res.superstep_exchanges == 1, res.superstep_plan
    assert dict(res.ranks.dtypes)["id"] == "bigint"
    # the CSR-blocked edge cache is read through InMemoryTableScan (its
    # partitioning/ordering is what makes the join exchange-free)
    assert "InMemoryTableScan" in res.superstep_plan
    # no Python evaluation anywhere in the loop
    plan = res.superstep_plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cc_round_exchange_budget(spark, no_broadcast):
    """Inside the loop (AQE frozen on the private session), a CC round's
    output plan executes ZERO shuffles beyond the two cached working-set
    layouts: every min-aggregation, redirect join, and the final distinct
    reads the clustered caches, so the per-round shuffle total is the two
    cache builds. (The naive unshared formulation executed 10 shuffles per
    round — measured before the round was restructured.)"""
    from bluegraph_spark.operators.components import connected_components

    n = 500
    e = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") * 13 + 7) % n).alias("dst")
    )
    res = connected_components(e, max_rounds=3)
    # at most the final distinct shuffles (it elides entirely when the
    # planner can prove the union's clustering)
    assert res.round_exchanges <= 1, res.round_plan
    # the round reads its working sets through the caches, not by recompute
    assert res.round_plan.count("InMemoryTableScan") >= 2


def test_lpa_superstep_exchange_budget(graph, no_broadcast, loop_kwargs, monkeypatch):
    # superstep 1 runs on labels ≡ ids, which lets the planner elide the
    # scores exchange through the alias equivalence: budget is 1 there and
    # at most 2 on later supersteps — guard the snapshot at 1. The width
    # rule gives the 1196 symmetrized edge rows width 4 at 300 rows per
    # partition.
    monkeypatch.setattr(loop_module, "LOOP_ROWS_PER_PARTITION", 300)
    res = label_propagation(graph, weight_col="w", max_iter=2, **loop_kwargs)
    assert re.search(r"hashpartitioning\(src#\d+L, 4\)", res.superstep_plan)
    assert res.superstep_exchanges == 1, res.superstep_plan
    assert dict(res.labels.dtypes)["id"] == "bigint"
    assert "InMemoryTableScan" in res.superstep_plan
    plan = res.superstep_plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize(
    "op, kwargs",
    [(pagerank, {"partitions": 4, "tol": 0.0}), (label_propagation, {})],
    ids=["pagerank", "lpa"],
)
def test_superstep_never_broadcasts_the_state(graph, op, kwargs, monkeypatch):
    """At the session's default ``autoBroadcastJoinThreshold`` the O(V)
    state fits under it; the merge hints on the state joins keep the
    co-partitioned join, so no superstep runs a broadcast job. LPA runs at
    width 4 through the smaller row budget."""
    monkeypatch.setattr(loop_module, "LOOP_ROWS_PER_PARTITION", 300)
    res = op(graph, weight_col="w", max_iter=2, **kwargs)
    assert "BroadcastExchange" not in res.superstep_plan, res.superstep_plan
    assert res.superstep_exchanges == 1, res.superstep_plan


@pytest.mark.parametrize(
    "op",
    [
        pytest.param(pagerank, id="pagerank"),
        pytest.param(
            label_propagation,
            id="lpa",
            marks=pytest.mark.xfail(
                strict=True,
                reason="ROADMAP G: at width 1 the edge cache is a "
                "SinglePartition exchange, so the vertex-set groupBy over it "
                "plans no exchange, LPA's checkpointed state is "
                "SinglePartition and both sides of the state join are "
                "re-shuffled",
            ),
        ),
    ],
)
def test_width_one_superstep_is_single_exchange(graph, no_broadcast, op):
    # No partitions, no monkeypatch: 600 edges are width 1 under the rule.
    # PageRank's state comes out of an aggregation, as
    # hashpartitioning(id, 1), and its CSR build's repartition(1, src) as a
    # single partition; its joins and message groupBy accept both as they
    # are, so its superstep runs no exchange at all.
    kwargs = {"tol": 0.0} if op is pagerank else {}
    res = op(graph, weight_col="w", max_iter=2, **kwargs)
    assert res.superstep_exchanges <= 1, res.superstep_plan


def test_plan_has_python_stage_detects_all_udf_shapes(spark):
    """The auto-eager discriminator must see every way Python enters a plan
    (group-map, map-partitions, vectorized scalar, row-at-a-time scalar)
    and stay False on pure-Catalyst plans — a false negative re-runs an
    Arrow aggregator on every edge-table branch (the round-4 driver-bench
    regression on cooc_agg_suppliers); a false positive forces a pointless
    persist on the hot pure-SQL path."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf, udf

    from bluegraph_spark.plans.planinfo import plan_has_python_stage

    df = spark.range(10).select(
        F.col("id").cast("string").alias("node"), F.lit("f").alias("factor")
    )
    assert not plan_has_python_stage(df)
    assert not plan_has_python_stage(
        df.groupBy("node").agg(F.count("*").alias("c"))
    )

    def emit(key, pdf):
        return pd.DataFrame({"node": [str(key[0])], "factor": ["x"]})

    assert plan_has_python_stage(
        df.groupBy("node").applyInPandas(emit, schema="node string, factor string")
    )
    assert plan_has_python_stage(
        df.mapInPandas(lambda it: it, schema="node string, factor string")
    )

    @pandas_udf("string")
    def up(s: pd.Series) -> pd.Series:
        return s.str.upper()

    assert plan_has_python_stage(df.select(up("node").alias("node"), "factor"))
    assert plan_has_python_stage(
        df.select(udf(lambda x: x, "string")("node").alias("node"), "factor")
    )


def test_cooccurrence_auto_eager_on_python_occurrence(spark):
    """The builder goes eager (localCheckpointed result — LogicalRDD plan,
    single execution of the Python stage) for an applyInPandas occurrence
    table, and stays lazy for a pure-Catalyst one."""
    import pandas as pd

    from bluegraph_spark.operators.cooccurrence import (
        cooccurrence_edges,
        occurrences_from_aggregator,
    )

    # range-based source so the only possible LogicalRDD root is an eager
    # localCheckpoint (createDataFrame would itself be a LogicalRDD leaf)
    df = spark.range(20).select(
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("node"),
        F.concat(F.lit("f"), (F.col("id") % 5).cast("string")).alias("factor"),
    )

    lazy_edges = cooccurrence_edges(df, statistics=["frequency"])
    assert "LogicalRDD" not in lazy_edges._jdf.queryExecution().analyzed().toString()

    occ = occurrences_from_aggregator(df, "node", lambda pdf: set(pdf["factor"]))
    eager_edges = cooccurrence_edges(occ, statistics=["frequency"])
    assert (
        eager_edges._jdf.queryExecution()
        .analyzed()
        .toString()
        .strip()
        .startswith("LogicalRDD")
    )
    # same result either way
    a = sorted(map(tuple, lazy_edges.collect()))
    b = sorted(map(tuple, eager_edges.collect()))
    assert a == b


# Executed exchanges of the lazy edge-table plan with broadcast joins off
# (the explicit broadcast of the 1-row total-factor count stays).
COOC_BUDGETS = {
    "frequency": ({"statistics": ["frequency"]}, 5),
    "frequency+npmi": ({"statistics": ["frequency", "npmi"]}, 13),
    "corpus_pipeline": (
        {
            "statistics": ["frequency", "npmi"],
            "factor_freq_cap": 5,
            "prune_zero_mi": "npmi",
        },
        26,
    ),
    "salted": ({"statistics": ["frequency"], "salt": 4}, 19),
}


@pytest.mark.parametrize("config", list(COOC_BUDGETS))
def test_cooccurrence_exchange_budget(spark, no_broadcast, config):
    from bluegraph_spark.operators.cooccurrence import cooccurrence_edges
    from bluegraph_spark.plans.planinfo import (
        executed_exchange_count,
        plan_has_python_stage,
    )

    occ = spark.range(400).select(
        F.concat(F.lit("n"), (F.col("id") % 60).cast("string")).alias("node"),
        F.concat(F.lit("f"), (F.col("id") % 37).cast("string")).alias("factor"),
    )
    kwargs, budget = COOC_BUDGETS[config]
    edges = cooccurrence_edges(occ, **kwargs)
    assert not plan_has_python_stage(edges)
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert executed_exchange_count(edges) == budget, plan
