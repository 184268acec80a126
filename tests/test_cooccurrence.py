"""Co-occurrence builder vs the reference fixtures.

Expected values mirror
/root/reference/tests/preprocess/test_co_occurrence_generators.py and the
``mutual_information`` kernel
(/root/reference/bluegraph/preprocess/generators.py:27-73), re-derived here
as a tiny pure-Python oracle.
"""

import math

import pytest
from pyspark.sql import functions as F

from bluegraph_spark.operators import cooccurrence
from bluegraph_spark.operators.cooccurrence import (
    cooccurrence_edges,
    cooccurrence_edges_multiset,
    keep_top_n_nodes,
    occurrences_from_aggregator,
    occurrences_from_edges,
    occurrences_from_node_property,
)


def mi_oracle(co, s, t, n, mitype=None):
    """Pure-python replica of the reference mutual_information semantics."""
    if co > 0:
        if mitype == "normalized":
            alpha = -math.log2(co / n)
            mi = (math.log2((n * co) / (s * t)) / alpha) if alpha != 0 else 0
        elif mitype == "expected":
            mi = math.log2((n * co) / (s * t)) * (co / n)
        elif mitype == "pmi2":
            mi = math.log2(co**2 / (s * t))
        elif mitype == "pmi3":
            mi = math.log2(co**3 / (s * t * n))
        else:
            mi = math.log2((n * co) / (s * t))
    else:
        mi = 0
    return mi if mi > 0 else 0


@pytest.fixture(scope="module")
def node_occurrences(spark):
    # F2 fixture: test_co_occurrence_generators.py:7-30
    nodes = spark.createDataFrame(
        [("a", ["1", "2", "3", "4"]), ("b", ["1", "2", "3", "5"]), ("c", ["3", "4", "5", "6"])],
        "id string, papers array<string>",
    )
    return occurrences_from_node_property(nodes, "id", "papers")


def test_generation_from_nodes_frequency(spark, node_occurrences):
    edges = cooccurrence_edges(node_occurrences, statistics=["frequency"])
    got = {(r.src, r.dst): r.frequency for r in edges.collect()}
    assert got == {("a", "b"): 3, ("b", "c"): 2, ("a", "c"): 2}


def test_generation_from_nodes_npmi(spark, node_occurrences):
    edges = cooccurrence_edges(
        node_occurrences,
        statistics=["frequency", "ppmi", "npmi"],
        total_factor_instances=6,
    )
    rows = {(r.src, r.dst): r for r in edges.collect()}
    freqs = {("a", "b"): 3, ("b", "c"): 2, ("a", "c"): 2}
    for (s, t), co in freqs.items():
        r = rows[(s, t)]
        assert r.frequency == co
        assert r.ppmi == pytest.approx(mi_oracle(co, 4, 4, 6), abs=1e-12)
        assert r.npmi == pytest.approx(mi_oracle(co, 4, 4, 6, "normalized"), abs=1e-12)


def test_total_factor_instances_default(spark, node_occurrences):
    # default total = |union of factor sets| = 6 (generators.py:363-376)
    edges = cooccurrence_edges(node_occurrences, statistics=["frequency", "npmi"])
    explicit = cooccurrence_edges(
        node_occurrences, statistics=["frequency", "npmi"], total_factor_instances=6
    )
    got = {(r.src, r.dst): r.npmi for r in edges.collect()}
    want = {(r.src, r.dst): r.npmi for r in explicit.collect()}
    assert got == pytest.approx(want)


@pytest.fixture(scope="module")
def typed_edges(spark):
    # F3 fixture: test_co_occurrence_generators.py:33-75
    return spark.createDataFrame(
        [
            ("a", "P1", "OccursIn"),
            ("a", "P2", "OccursIn"),
            ("a", "P3", "OccursIn"),
            ("b", "P2", "OccursIn"),
            ("b", "P3", "OccursIn"),
            ("c", "P1", "OccursIn"),
            ("c", "P3", "OccursIn"),
        ],
        "src string, dst string, type string",
    )


def test_generation_from_edges(spark, typed_edges):
    occ = occurrences_from_edges(typed_edges, type_col="type", edge_type="OccursIn")
    edges = cooccurrence_edges(occ, statistics=["frequency", "npmi"])
    got = {(r.src, r.dst): r.frequency for r in edges.collect()}
    assert got == {("a", "b"): 2, ("b", "c"): 1, ("a", "c"): 2}
    # npmi with default total = 3 distinct targets
    rows = {(r.src, r.dst): r for r in edges.collect()}
    assert rows[("a", "b")].npmi == pytest.approx(
        mi_oracle(2, 3, 2, 3, "normalized"), abs=1e-12
    )


def test_generation_from_edge_property_aggregator(spark):
    # custom factor_aggregator = union of per-edge paragraph sets
    # (test_co_occurrence_generators.py:77-103)
    edges = [
        ("a", "P1", ["1", "2", "3"]),
        ("a", "P2", ["11", "22", "33"]),
        ("a", "P3", ["111", "222", "333"]),
        ("b", "P2", ["22", "33"]),
        ("b", "P3", ["222", "333"]),
        ("c", "P1", ["1", "3"]),
        ("c", "P3", ["111", "333"]),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, paragraphs array<string>")
    occ = df.select(F.col("src").alias("node"), F.explode("paragraphs").alias("factor"))
    out = cooccurrence_edges(occ, statistics=["frequency", "ppmi", "npmi"])
    got = {(r.src, r.dst): r.frequency for r in out.collect()}
    assert got == {("a", "b"): 4, ("b", "c"): 1, ("a", "c"): 4}


def test_factor_aggregator_hook(spark):
    # applyInPandas hook replicating the reference's aggregate_paragraphs
    # (test_co_occurrence_generators.py:88-103): a node's factors = union of
    # its per-edge paragraph sets, via an arbitrary Python aggregator.
    edges = [
        ("a", "P1", ["1", "2", "3"]),
        ("a", "P2", ["11", "22", "33"]),
        ("a", "P3", ["111", "222", "333"]),
        ("b", "P2", ["22", "33"]),
        ("b", "P3", ["222", "333"]),
        ("c", "P1", ["1", "3"]),
        ("c", "P3", ["111", "333"]),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, paragraphs array<string>")

    def aggregate_paragraphs(data):
        return set(sum(data["paragraphs"].apply(list), []))

    occ = occurrences_from_aggregator(df, "src", aggregate_paragraphs)
    out = cooccurrence_edges(occ, statistics=["frequency", "ppmi", "npmi"])
    rows = {(r.src, r.dst): r for r in out.collect()}
    assert {k: v.frequency for k, v in rows.items()} == {
        ("a", "b"): 4,
        ("b", "c"): 1,
        ("a", "c"): 4,
    }
    # s_freq(a)=9, s_freq(b)=4, s_freq(c)=4; default total = |∪ factors| = 9
    assert rows[("a", "b")].ppmi == pytest.approx(mi_oracle(4, 9, 4, 9), abs=1e-12)
    assert rows[("a", "b")].npmi == pytest.approx(
        mi_oracle(4, 9, 4, 9, "normalized"), abs=1e-12
    )
    assert rows[("b", "c")].npmi == pytest.approx(
        mi_oracle(1, 4, 4, 9, "normalized"), abs=1e-12
    )


def test_keep_top_n_nodes_nlargest(spark):
    # reference semantics: graph._nodes.nlargest(n, freq).index
    # (cord19kg/utils.py:646-651) — keep the n nodes with most factors.
    import pandas as pd

    rows = []
    counts = {"a": 5, "b": 4, "c": 3, "d": 2, "e": 1}
    for node, c in counts.items():
        rows += [(node, f"f{i}") for i in range(c)]
    occ = spark.createDataFrame(rows, "node string, factor string")

    pdf = pd.DataFrame({"freq": counts}).rename_axis("id")
    want = set(pdf.nlargest(3, "freq").index)
    got = {r.node for r in keep_top_n_nodes(occ, 3).select("node").distinct().collect()}
    assert got == want == {"a", "b", "c"}

    # min_occurrences pre-filter (utils.py:618-621)
    got2 = {
        r.node
        for r in keep_top_n_nodes(occ, 10, min_occurrences=3)
        .select("node")
        .distinct()
        .collect()
    }
    assert got2 == {"a", "b", "c"}

    # deterministic tie-break: ties at the cutoff keep smallest node id
    tie_rows = [("x", "f1"), ("x", "f2"), ("y", "f1"), ("y", "f2"), ("z", "f1")]
    occ2 = spark.createDataFrame(tie_rows, "node string, factor string")
    got3 = {r.node for r in keep_top_n_nodes(occ2, 1).select("node").distinct().collect()}
    assert got3 == {"x"}


def test_common_factors_and_pruning(spark, node_occurrences):
    edges = cooccurrence_edges(
        node_occurrences,
        statistics=["frequency", "npmi"],
        total_factor_instances=6,
        keep_common_factors=True,
        min_frequency=2,
    )
    rows = {(r.src, r.dst): r for r in edges.collect()}
    assert rows[("a", "b")].common_factors == ["1", "2", "3"]
    assert rows[("a", "c")].common_factors == ["3", "4"]


def test_multiset_intersection(spark):
    # safe_intersection list branch (core/utils.py:59-74):
    # [1,1,2,3] ∩ [1,1,1,2] = [1,1,2] → frequency 3
    occ_counts = spark.createDataFrame(
        [("x", "1", 2), ("x", "2", 1), ("x", "3", 1), ("y", "1", 3), ("y", "2", 1)],
        "node string, factor string, cnt int",
    )
    out = cooccurrence_edges_multiset(occ_counts).collect()
    assert len(out) == 1
    assert out[0].src == "x" and out[0].dst == "y" and out[0].frequency == 3


def test_salting_result_identical(spark, monkeypatch):
    # hub factor: one factor shared by 40 nodes, plus background factors
    rows = [(f"n{i:03d}", "hub") for i in range(40)]
    rows += [(f"n{i:03d}", f"f{i % 7}") for i in range(40)]
    occ = spark.createDataFrame(rows, "node string, factor string")
    plain = cooccurrence_edges(occ, statistics=["frequency"]).collect()
    monkeypatch.setattr(cooccurrence, "SALT_THRESHOLD", 10)
    salted = cooccurrence_edges(occ, statistics=["frequency"], salt=4).collect()
    assert sorted((r.src, r.dst, r.frequency) for r in plain) == sorted(
        (r.src, r.dst, r.frequency) for r in salted
    )


def test_cooccurrence_random_oracle(spark):
    """Seeded random occurrence table vs a brute-force python oracle:
    completeness (every intersecting pair emitted, nothing else) and exact
    frequency/ppmi/npmi values."""
    import random
    from collections import defaultdict

    rnd = random.Random(7)
    rows = {(f"n{rnd.randrange(30)}", f"f{rnd.randrange(20)}") for _ in range(200)}
    occ = spark.createDataFrame(sorted(rows), "node string, factor string")
    edges = cooccurrence_edges(occ, statistics=["frequency", "ppmi", "npmi"]).collect()

    fac = defaultdict(set)
    for n, f in rows:
        fac[n].add(f)
    total = len({f for _, f in rows})
    expected_pairs = {
        (a, b) for a in fac for b in fac if a < b and fac[a] & fac[b]
    }
    assert {(r.src, r.dst) for r in edges} == expected_pairs
    for r in edges:
        co = len(fac[r.src] & fac[r.dst])
        assert r.frequency == co
        assert r.ppmi == pytest.approx(
            mi_oracle(co, len(fac[r.src]), len(fac[r.dst]), total), abs=1e-12
        )
        assert r.npmi == pytest.approx(
            mi_oracle(co, len(fac[r.src]), len(fac[r.dst]), total, "normalized"),
            abs=1e-12,
        )


def test_factor_freq_cap(spark):
    rows = [(f"n{i}", "stopword") for i in range(10)] + [
        ("n0", "rare"),
        ("n1", "rare"),
    ]
    occ = spark.createDataFrame(rows, "node string, factor string")
    edges = cooccurrence_edges(occ, statistics=["frequency"], factor_freq_cap=5)
    got = {(r.src, r.dst): r.frequency for r in edges.collect()}
    assert got == {("n0", "n1"): 1}


def test_limit_subset_and_count(spark):
    """``limit`` early-exit: the CHOICE of edges is non-deterministic by
    design (reference generators.py:238-243), but two invariants must hold
    on every run — the result is a subset of the full edge multiset
    (per-pair frequencies included) and the row count is exactly
    ``min(limit, |full|)``. Round-4/5 VERDICT leftover."""
    rows = [
        (f"n{i}", f"f{j}")
        for i in range(8)
        for j in range(4)
        if (i + j) % 3  # irregular overlap pattern, 18 full pairs
    ]
    occ = spark.createDataFrame(rows, "node string, factor string")
    full = {
        (r.src, r.dst): r.frequency
        for r in cooccurrence_edges(occ, statistics=["frequency"]).collect()
    }
    assert len(full) > 5
    for n in (3, len(full), len(full) + 10):
        got = cooccurrence_edges(
            occ, statistics=["frequency"], limit=n
        ).collect()
        assert len(got) == min(n, len(full))
        for r in got:
            assert full[(r.src, r.dst)] == r.frequency


@pytest.mark.parametrize(
    "kwargs, match",
    [
        ({"statistics": ["frequency", "pmi"]}, "unknown statistic 'pmi'"),
        (
            {"statistics": ["frequency", "npmi"], "prune_zero_mi": "ppmi"},
            "prune_zero_mi='ppmi' is not one of",
        ),
        ({"limit": -1}, "limit must be >= 0"),
        ({"salt": 0}, "salt must be >= 1"),
        ({"salt": -2}, "salt must be >= 1"),
    ],
)
def test_argument_errors_name_the_operator(spark, node_occurrences, kwargs, match):
    """Bad arguments fail before planning with a ValueError naming the
    operator, not late with an AnalysisException (or, for salt, not at all)."""
    with pytest.raises(ValueError, match=f"^cooccurrence_edges: {match}"):
        cooccurrence_edges(node_occurrences, **kwargs)
