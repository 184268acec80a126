"""FastRP embedding tests: pure-Python differential oracle, determinism
across partitionings, zero-degree handling, and shape contracts."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from bluegraph_spark.operators.embeddings import (
    fastrp_embeddings,
    fastrp_embeddings_long,
)

DIM, SEED, WEIGHTS = 5, 11, (1.0, 0.5)


def _hash_sign(seed, node, j):
    h = int(hashlib.md5(f"{seed}:{node}:{j}".encode()).hexdigest()[:15], 16)
    b = h % 6
    return 1.0 if b == 0 else (-1.0 if b == 1 else 0.0)


def _fastrp_py(edges, dim, weights, seed):
    """Reference FastRP in pure Python, same quantization contract."""
    sym = {}
    for s, t, w in edges:
        if s == t:
            sym.setdefault(t, []).append((s, w))
        else:
            sym.setdefault(t, []).append((s, w))
            sym.setdefault(s, []).append((t, w))
    nodes = sorted({n for e in edges for n in e[:2]})

    def normalize(vec):
        nrm = math.sqrt(sum(x * x for x in vec))
        if nrm > 0:
            return [round(x / nrm, 12) for x in vec]
        return vec

    emb = {n: normalize([_hash_sign(seed, n, j) for j in range(dim)]) for n in nodes}
    out = {n: [0.0] * dim for n in nodes}
    for w_k in weights:
        nxt = {}
        for n in nodes:
            neigh = sym.get(n, [])
            if not neigh:
                nxt[n] = [0.0] * dim
                continue
            wsum = sum(w for _, w in neigh)
            vec = [
                sum(emb[u][j] * w for u, w in neigh) / wsum for j in range(dim)
            ]
            nxt[n] = normalize(vec)
        emb = nxt
        for n in nodes:
            out[n] = [a + w_k * b for a, b in zip(out[n], emb[n])]
    return out


@pytest.fixture(scope="module")
def small_edges(spark):
    # deterministic pseudo-random graph with weights, incl. a self-loop
    # and an isolated-ish pendant
    rows = []
    for i in range(40):
        s, t = f"n{(i * 7) % 13}", f"n{(i * 11 + 3) % 13}"
        rows.append((s, t, float(1 + (i % 5))))
    rows.append(("lonely", "lonely", 2.0))
    return spark.createDataFrame(rows, "src string, dst string, w double"), rows


def test_fastrp_matches_pure_python(small_edges):
    df, rows = small_edges
    res = fastrp_embeddings(
        df, dim=DIM, iteration_weights=WEIGHTS, weight_col="w", seed=SEED
    )
    got = {r.id: list(r.emb) for r in res.collect()}
    want = _fastrp_py(rows, DIM, WEIGHTS, SEED)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-9), n


def test_fastrp_deterministic_across_partitionings(small_edges):
    df, _ = small_edges
    a = fastrp_embeddings(
        df, dim=4, iteration_weights=WEIGHTS, weight_col="w", seed=SEED
    )
    b = fastrp_embeddings(
        df.repartition(7),
        dim=4,
        iteration_weights=WEIGHTS,
        weight_col="w",
        seed=SEED,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


@pytest.mark.parametrize(
    "rows", [[], [("a", "a", 1.0), ("b", "b", 2.0)]], ids=["empty", "self-loops"]
)
def test_fastrp_degenerate_input(spark, rows):
    """No edges: no rows. Self-loops only: one row per vertex, each the
    mean over its own loop."""
    df = spark.createDataFrame(rows, "src string, dst string, w double")
    res = fastrp_embeddings(
        df, dim=DIM, iteration_weights=WEIGHTS, weight_col="w", seed=SEED
    )
    got = {r.id: list(r.emb) for r in res.collect()}
    want = _fastrp_py(rows, DIM, WEIGHTS, SEED)
    assert set(got) == set(want) == {s for s, _, _ in rows}
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-9), n


def test_fastrp_zero_degree_stays_zero(spark):
    # 'c' has no in- or out-edges after symmetrization beyond itself? —
    # use a directed graph where 'z' only ever appears as src, so with
    # directed=True it receives no messages and must hold a zero vector.
    df = spark.createDataFrame(
        [("z", "a", 1.0), ("a", "b", 1.0)], "src string, dst string, w double"
    )
    res = fastrp_embeddings(
        df, dim=3, iteration_weights=(1.0,), weight_col="w",
        seed=1, directed=True,
    )
    got = {r.id: list(r.emb) for r in res.collect()}
    assert got["z"] == [0.0, 0.0, 0.0]
    # 'a' receives z's initial embedding; must be a unit vector (or zero)
    nrm = math.sqrt(sum(x * x for x in got["a"]))
    assert nrm == pytest.approx(1.0, abs=1e-9) or nrm == 0.0


def test_fastrp_long_shape_and_validation(small_edges):
    df, _ = small_edges
    lg = fastrp_embeddings_long(
        df, dim=3, iteration_weights=(1.0,), weight_col="w", seed=2
    )
    assert lg.columns == ["id", "dim", "value"]
    n_nodes = df.select("src").union(df.select("dst")).distinct().count()
    assert lg.count() == 3 * n_nodes
    assert lg.groupBy("dim").count().count() == 3
    with pytest.raises(ValueError):
        fastrp_embeddings(df, dim=0)
    with pytest.raises(ValueError):
        fastrp_embeddings(df, iteration_weights=())


def test_fastrp_unweighted_defaults(spark):
    """weight_col=None means uniform weights: mean of neighbor vectors."""
    df = spark.createDataFrame(
        [("a", "b", 99.0), ("b", "c", 1.0)], "src string, dst string, w double"
    )
    uni = fastrp_embeddings(df, dim=4, iteration_weights=(1.0,), seed=3)
    man = fastrp_embeddings(
        df.withColumn("w", F.lit(1.0)),
        dim=4,
        iteration_weights=(1.0,),
        weight_col="w",
        seed=3,
    )
    assert sorted(map(tuple, uni.collect())) == sorted(map(tuple, man.collect()))
