"""Link-prediction operators: negative sampling + edge features.

Oracle strategy (SURVEY §5): pure-Python/numpy recomputation on collected
small fixtures; the sampler's cross-engine determinism is separately
hash-gated by the driver via the negative_edges_li DuckDB oracle.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bluegraph_spark.operators.linkpred import (
    edge_feature_scores,
    edge_features,
    generate_negative_edges,
    node_index,
)


@pytest.fixture(scope="module")
def small_edges(spark):
    rows = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "a")]
    return spark.createDataFrame(rows, "src string, dst string")


def test_node_index_is_global_rank(spark):
    ids = ["m", "a", "z", "k", "b"]
    # three range partitions for five ids
    s3 = spark.newSession()
    s3.conf.set("spark.sql.shuffle.partitions", "3")
    df = s3.createDataFrame([(i,) for i in ids], "id string")
    got = {r["id"]: r["idx"] for r in node_index(df).collect()}
    want = {v: i for i, v in enumerate(sorted(ids))}
    assert got == want


def test_node_index_stable_across_executions_at_sampling_scale(spark):
    """The round-4 advice bug: repartitionByRange re-samples its range
    boundaries per execution, so collecting partition counts in one job
    and ranking in another could disagree. With 21k ids over 8 partitions
    (~2.6k rows each — far past the ~300 where reservoir sampling
    engages), the frozen index must equal the global rank on EVERY
    re-execution of the returned frame."""
    n = 21_000
    ids = [f"id_{i:06d}" for i in range(n)]
    df = spark.createDataFrame([(i,) for i in ids], "id string").repartition(16)
    out = node_index(df)
    want = {v: i for i, v in enumerate(sorted(ids))}
    for _ in range(3):  # re-execute: the frozen frame may not drift
        got = {r["id"]: r["idx"] for r in out.collect()}
        assert got == want
    # idx values must be a permutation of 0..n-1 (no dups/gaps) — the
    # exact failure mode of mismatched offsets.
    idxs = sorted(r["idx"] for r in out.collect())
    assert idxs == list(range(n))


def test_negative_edges_top_up_reaches_target_on_dense_graph(spark):
    """A near-complete graph loses most candidates to existing-edge hits:
    with oversample=1.0 the fixed stream prefix cannot cover the target,
    so the deterministic doubling retry must extend the stream and still
    return exactly n rows (advice r04: no silent shortfall)."""
    nodes = [str(i) for i in range(12)]
    non_edges = {("0", "5"), ("3", "9"), ("7", "2"), ("10", "4"), ("8", "11")}
    all_pairs = [(s, t) for s in nodes for t in nodes if s != t]
    edges = [p for p in all_pairs if p not in non_edges]
    e = spark.createDataFrame(edges, "src string, dst string")
    neg = generate_negative_edges(e, n=5, seed=13, oversample=1.0)
    got = {(r["src"], r["dst"]) for r in neg.collect()}
    assert got == non_edges  # all 5 found despite the dense graph
    # and the retry kept the first-n-survivors semantic: a run that
    # starts with a huge prefix gives the identical rows
    big = generate_negative_edges(e, n=5, seed=13, oversample=500.0)
    assert sorted(map(tuple, neg.collect())) == sorted(map(tuple, big.collect()))


def test_negative_edges_warns_when_target_unreachable(spark):
    """More negatives requested than non-edges exist: return what exists
    and warn instead of silently under-delivering."""
    nodes = ["a", "b", "c"]
    pairs = [(s, t) for s in nodes for t in nodes if s != t]
    edges = [p for p in pairs if p != ("a", "b")]
    e = spark.createDataFrame(edges, "src string, dst string")
    with pytest.warns(UserWarning, match="negative edges exist"):
        neg = generate_negative_edges(e, n=4, seed=1).collect()
    assert {(r["src"], r["dst"]) for r in neg} == {("a", "b")}


def test_negative_edges_are_non_edges(spark, small_edges):
    neg = generate_negative_edges(small_edges, p=1.0, seed=7).collect()
    existing = {(r["src"], r["dst"]) for r in small_edges.collect()}
    got = {(r["src"], r["dst"]) for r in neg}
    assert got, "sampler returned nothing"
    assert not (got & existing)
    assert all(s != t for s, t in got)
    # default n = |E| * p = 6
    assert len(got) <= 6


def test_negative_edges_undirected_excludes_reversed(spark, small_edges):
    neg = generate_negative_edges(
        small_edges, p=1.0, seed=7, directed=False, oversample=10.0
    ).collect()
    existing = {(r["src"], r["dst"]) for r in small_edges.collect()}
    existing |= {(d, s) for s, d in existing}
    got = {(r["src"], r["dst"]) for r in neg}
    assert got and not (got & existing)


def test_negative_edges_deterministic(spark, small_edges):
    a = sorted(map(tuple, generate_negative_edges(small_edges, seed=3).collect()))
    b = sorted(map(tuple, generate_negative_edges(small_edges, seed=3).collect()))
    assert a == b
    c = sorted(map(tuple, generate_negative_edges(small_edges, seed=4).collect()))
    assert a != c  # different seed, different stream (w.h.p. on 5 nodes)


def test_negative_edges_exclusion_set(spark, small_edges):
    full = generate_negative_edges(small_edges, p=1.0, seed=7, oversample=10.0)
    excl = full.limit(2).select("src", "dst")
    excl_rows = {(r["src"], r["dst"]) for r in excl.collect()}
    neg = generate_negative_edges(
        small_edges, p=1.0, seed=7, oversample=10.0,
        edges_to_exclude=spark.createDataFrame(
            sorted(excl_rows), "src string, dst string"
        ),
    ).collect()
    got = {(r["src"], r["dst"]) for r in neg}
    assert not (got & excl_rows)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(6, 8)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(6)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        vecs.astype(np.float64),
    )


def test_edge_features_match_numpy(spark, emb):
    df, vecs = emb
    pairs = spark.createDataFrame([(0, 1), (2, 5)], "src long, dst long")
    out = {
        (r["src"], r["dst"]): r
        for r in edge_features(pairs, df).collect()
    }
    for s, d in [(0, 1), (2, 5)]:
        u, v = vecs[s], vecs[d]
        r = out[(s, d)]
        np.testing.assert_allclose(r["hadamard"], u * v, rtol=1e-12)
        np.testing.assert_allclose(r["l1"], np.abs(u - v), rtol=1e-12)
        np.testing.assert_allclose(r["l2"], (u - v) ** 2, rtol=1e-12)
        np.testing.assert_allclose(r["average"], (u + v) / 2.0, rtol=1e-12)


def test_edge_feature_scores_match_numpy(spark, emb):
    df, vecs = emb
    pairs = spark.createDataFrame([(1, 4)], "src long, dst long")
    r = edge_feature_scores(pairs, df, round_to=None).collect()[0]
    u, v = vecs[1], vecs[4]
    assert r["dot"] == pytest.approx(float(np.dot(u, v)), rel=1e-12)
    assert r["l1_dist"] == pytest.approx(float(np.abs(u - v).sum()), rel=1e-12)
    assert r["l2_sq"] == pytest.approx(float(((u - v) ** 2).sum()), rel=1e-12)
    assert r["avg_sum"] == pytest.approx(float(((u + v) / 2).sum()), rel=1e-12)


def test_edge_features_unknown_operator_raises(spark, emb):
    df, _ = emb
    pairs = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="unknown binary operators"):
        edge_features(pairs, df, operators=("hadamard", "nope"))


class TestEdgePredictor:
    """In-engine quantized-GD logistic regression (the reference
    EdgePredictor's fit/predict halves, downstream/link_prediction.py:107)."""

    @staticmethod
    def _data(n=400, seed=5):
        import random

        rng = random.Random(seed)
        rows = []
        for _ in range(n):
            x1, x2 = rng.gauss(0, 1), rng.gauss(0, 1)
            y = 1 if (1.5 * x1 - x2 + rng.gauss(0, 0.3)) > 0 else 0
            rows.append((float(x1), float(x2), y))
        return rows

    @staticmethod
    def _py_fit(rows, lr, iters, q=12):
        import math

        n, p = len(rows), 2
        means = [round(sum(r[i] for r in rows) / n, q) for i in range(p)]
        qs = [round(sum(r[i] * r[i] for r in rows) / n, q) for i in range(p)]
        stds = [round(math.sqrt(qs[i] - means[i] ** 2), q) for i in range(p)]
        X = [
            [round((r[i] - means[i]) / stds[i], q) for i in range(p)]
            for r in rows
        ]
        Y = [r[2] for r in rows]
        b, w = 0.0, [0.0] * p
        for _ in range(iters):
            sig = [
                1.0 / (1.0 + math.exp(-(b + sum(w[i] * x[i] for i in range(p)))))
                for x in X
            ]
            gb = round(sum(s - y for s, y in zip(sig, Y)) / n, q)
            gw = [
                round(sum((s - y) * x[i] for s, y, x in zip(sig, Y, X)) / n, q)
                for i in range(p)
            ]
            b = round(b - lr * gb, q)
            w = [round(w[i] - lr * gw[i], q) for i in range(p)]
        return b, w

    def test_fit_matches_pure_python_bit_exact(self, spark):
        from bluegraph_spark.operators.linkpred import fit_edge_predictor

        rows = self._data()
        df = spark.createDataFrame(rows, "f1 double, f2 double, y int")
        m = fit_edge_predictor(df, "y", ["f1", "f2"], lr=0.8, iterations=20)
        pb, pw = self._py_fit(rows, 0.8, 20)
        # the 12-decimal quantization contract makes the distributed GD
        # trajectory BIT-EQUAL to the serial replica, not merely close
        assert m.intercept == pb
        assert m.weights == pw
        assert m.history[-1]["loss"] < m.history[0]["loss"]

    def test_fit_deterministic_across_partitionings(self, spark):
        from bluegraph_spark.operators.linkpred import fit_edge_predictor

        rows = self._data(n=300, seed=9)
        df = spark.createDataFrame(rows, "f1 double, f2 double, y int")
        m1 = fit_edge_predictor(df, "y", ["f1", "f2"], lr=0.5, iterations=10)
        m2 = fit_edge_predictor(
            df.repartition(13), "y", ["f1", "f2"], lr=0.5, iterations=10
        )
        assert (m1.intercept, m1.weights) == (m2.intercept, m2.weights)

    def test_predict_separable_accuracy_and_shape(self, spark):
        from bluegraph_spark.operators.linkpred import (
            fit_edge_predictor,
            predict_edges,
        )

        rows = self._data()
        df = spark.createDataFrame(rows, "f1 double, f2 double, y int")
        m = fit_edge_predictor(df, "y", ["f1", "f2"], lr=0.8, iterations=20)
        pred = predict_edges(df, m)
        assert {"score", "pred"} <= set(pred.columns)
        n = len(rows)
        acc = pred.filter("pred = y").count() / n
        assert acc >= 0.9
        # scores are valid probabilities rounded to 4
        bad = pred.filter("score < 0 OR score > 1").count()
        assert bad == 0

    def test_constant_feature_passthrough(self, spark):
        """A zero-variance feature must not divide by zero; its weight
        stays finite and the fit still uses the informative column."""
        from bluegraph_spark.operators.linkpred import fit_edge_predictor

        rows = [(float(i % 2), 3.0, i % 2) for i in range(100)]
        df = spark.createDataFrame(rows, "f1 double, f2 double, y int")
        m = fit_edge_predictor(df, "y", ["f1", "f2"], lr=0.5, iterations=10)
        assert all(abs(w) < 1e6 for w in m.weights)
        assert m.stds[1] == 1.0 or m.stds[1] > 0

    def test_empty_feature_table_raises_value_error(self, spark):
        """No rows means no standardization statistics: a clear ValueError
        naming the operator, not ``float(None)``."""
        from bluegraph_spark.operators.linkpred import fit_edge_predictor

        df = spark.createDataFrame([], "f1 double, f2 double, y int")
        with pytest.raises(ValueError, match="fit_edge_predictor: empty feature table"):
            fit_edge_predictor(df, "y", ["f1", "f2"])
