"""Similarity search over embedding columns (array<float>).

Two paths, per the engine policy for 100 TB pipelines:
- ``cosine_topk``: brute-force exact top-k — the correctness baseline. The
  dot product is a pure Catalyst ``zip_with``/``aggregate`` fold (JVM
  codegen, no Python); the pair space is a join on a constant key, which
  AQE re-splits. Use only when |queries| × |corpus| is small or as the
  in-bucket verifier.
- ``lsh_cosine_topk``: random-hyperplane LSH — signatures from
  deterministic, seeded pseudo-random planes (xxhash64-derived weights, no
  RNG state, identical across runs/partitionings), bucket equi-join, exact
  cosine within bucket, top-k per query with multiprobe via several
  independent tables. Recall < 1 by construction; the scale path.

(The reference's similarity layer is Faiss/sklearn on the driver,
/root/reference/bluegraph/downstream/similarity.py:41-66 — inventoried
out-of-scope in SURVEY.md §2.13; these operators are its distributed
replacement.)
"""

from __future__ import annotations

import warnings
from itertools import combinations
from math import comb

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _norm(vec):
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best ``(query_id, neighbor_id, cosine)`` rows per query,
    ranked 1..k by cosine, ties broken on neighbor id."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _prep(df: DataFrame, id_col: str, vec_col: str, name: str) -> DataFrame:
    """Project (id, double-vector), excluding zero-norm vectors: cosine is
    undefined there, and the exclusion keeps the division ANSI-safe (the
    engine session runs with ANSI SQL enabled, where x/0 throws)."""
    out = df.select(
        F.col(id_col).alias(f"{name}_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(f"{name}_vec"),
    )
    return out.filter(_norm(F.col(f"{name}_vec")) > 0)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): exact brute-force top-k.

    Self-matches (same id) are excluded. Deterministic tie-break on
    neighbor id.
    """
    q = _prep(queries, id_col, vec_col, "q")
    c = _prep(corpus, id_col, vec_col, "c")
    pairs = q.crossJoin(c).filter(F.col("q_id") != F.col("c_id"))
    scored = pairs.select(
        F.col("q_id").alias("query_id"),
        F.col("c_id").alias("neighbor_id"),
        _cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
    )
    return _top_k(scored, k)


# -- deterministic hyperplanes ------------------------------------------------
#
# Plane weight (p, d) = (|xxhash64(seed, p, d)| % 2^52) / 2^51 - 1, exactly as
# the engine originally computed Spark-side. The hash is now replicated on the
# driver (XXH64 over an int + two longs, the same algorithm Spark's
# ``F.xxhash64`` runs; verified value-identical) so the planes become LITERAL
# arrays in the plan: the signature is a pure projection — no posexplode, no
# plane join, no groupBy, no plan-build-time action. planes × dim doubles is
# a few KB of literals for any sane configuration.

_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _xxh_long(value: int, seed: int) -> int:
    h = (seed + _P5 + 8) & _M64
    k1 = (_rotl((value * _P2) & _M64, 31) * _P1) & _M64
    h = (_rotl(h ^ k1, 27) * _P1 + _P4) & _M64
    return _fmix(h)


def _xxh_int(value: int, seed: int) -> int:
    h = (seed + _P5 + 4) & _M64
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M64
    h = (_rotl(h, 23) * _P2 + _P3) & _M64
    return _fmix(h)


def _plane_weight(seed: int, plane: int, pos: int) -> float:
    h = _xxh_long(pos, _xxh_long(plane, _xxh_int(seed, 42)))
    if h >= 1 << 63:
        h -= 1 << 64
    return (abs(h) % (1 << 52)) / float(1 << 51) - 1.0


def _plane_weights(dim: int, planes: int, seed: int) -> list[list[float]]:
    return [
        [_plane_weight(seed, p, d) for d in range(dim)] for p in range(planes)
    ]


def spark_xxhash64_long(value: int, seed: int = 42) -> int:
    """Signed value of Spark's ``F.xxhash64`` over a single LongType column
    (default seed 42). Lets off-Spark code (the DuckDB oracle generator)
    replay sample selections that order by ``xxhash64(id)``."""
    h = _xxh_long(value & _M64, seed)
    return h - (1 << 64) if h >= 1 << 63 else h


def lsh_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 12,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """(id, bucket): sign-bit bucket of each vector under ``planes``
    deterministic hyperplanes — a pure column projection, zero shuffles.

    Pass ``dim`` (the embedding width) to keep plan construction action-free;
    if omitted, a one-row peek reads it from the data (convenience for ad-hoc
    use only).
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    weights = _plane_weights(dim, planes, seed)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    bits = [
        F.when(
            _dot(v, F.array(*[F.lit(w) for w in row])) >= 0, "1"
        ).otherwise("0")
        for row in weights
    ]
    return df.select(F.col(id_col).alias("id"), F.concat(*bits).alias("bucket"))


def _probe_buckets(sig: DataFrame, planes: int, multiprobe: int) -> DataFrame:
    """Expand each (id, bucket) row to the probe set: the bucket itself plus
    every bucket within Hamming distance ``multiprobe`` (all combinations of
    up to that many sign bits flipped). Multi-probe LSH (Lv et al., VLDB'07):
    querying adjacent buckets recovers neighbors that fell just across a few
    hyperplanes — the dominant failure mode — for a sum-of-C(planes, d) probe
    cost on the query side instead of extra tables over the whole corpus.
    Probe count grows binomially: planes=12 gives 13 probes at multiprobe=1,
    79 at multiprobe=2 — keep multiprobe small relative to planes."""
    if multiprobe <= 0:
        return sig

    def bit(i: int):
        return F.substring("bucket", i + 1, 1)

    def flipped(i: int):
        return F.when(bit(i) == "1", "0").otherwise("1")

    probes = [F.col("bucket")]
    for d in range(1, min(multiprobe, planes) + 1):
        for flips in combinations(range(planes), d):
            fl = set(flips)
            probes.append(
                F.concat(*[flipped(i) if i in fl else bit(i) for i in range(planes)])
            )
    return sig.select(
        "id", F.explode(F.array(*probes)).alias("bucket")
    )


# -- IVF (inverted-file) ANN --------------------------------------------------


def _centroid_dots(vec, centroids: list[list[float]]):
    """Array column: dot(vec, ĉ_i) for every L2-normalized centroid —
    argmax of this IS the cosine-nearest centroid (|v| is constant per row)."""
    return F.array(
        *[_dot(vec, F.array(*[F.lit(w) for w in c])) for c in centroids]
    )


def lloyd_codebook(
    mat, n_centroids: int, lloyd_iters: int
) -> list[list[float]]:
    """Deterministic Lloyd refinement over a fixed-order sample matrix
    (numpy float64, rows already in the canonical sample order): seeds are
    the first ``n_centroids`` rows, assignment is first-index argmax of the
    dot with each L2-normalized centroid, update is the row-order mean of
    each cluster, empty clusters keep their previous centroid.

    Pure and driver-side on purpose: the engine fit and the DuckDB oracle
    generator call this SAME function on the SAME sample, so the codebook
    literals embedded in both plans are bit-identical."""
    import numpy as np

    mat = np.asarray(mat, dtype=np.float64)

    def normalize(m):
        n = np.sqrt((m * m).sum(axis=1, keepdims=True))
        n[n == 0] = 1.0
        return m / n

    cents = normalize(mat[:n_centroids].copy())
    for _ in range(lloyd_iters):
        assign = np.argmax(mat @ cents.T, axis=1)
        new = cents.copy()
        for ci in range(len(cents)):
            rows = mat[assign == ci]
            if len(rows):
                new[ci] = rows.mean(axis=0)
        cents = normalize(new)
    return [[float(x) for x in c] for c in cents]


def ivf_fit_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 64,
    lloyd_iters: int = 2,
    dim: int | None = None,
    sample_size: int = 65_536,
) -> list[list[float]]:
    """Deterministic IVF codebook, trained on a bounded sample: the
    ``sample_size`` corpus vectors of smallest ``(xxhash64(id), id)`` (a
    reproducible uniform sample with a stable total order) are collected to
    the driver and refined with :func:`lloyd_codebook`.

    Training on a bounded sample is the standard IVF practice (Faiss trains
    codebooks on ~50-256 points per centroid): at 100 TB the alternative —
    Lloyd passes over the full corpus — costs 2 full scans per iteration for
    no recall benefit, while the sample collect is one top-k job of
    ``sample_size × dim`` doubles (~32 MB at the default and dim=64).
    Determinism also buys verifiability: the DuckDB differential oracle
    replays the same sample selection (the xxhash64 is replicated in pure
    Python) and the same numpy refinement, so the centroid literals in both
    plans are bit-identical. Returns L2-normalized centroids as plain
    Python lists, embedded as literals into the plans that use them.

    ``dim`` is accepted for API compatibility and ignored (the fit no
    longer needs a plan-time peek)."""
    rows = (
        _prep(corpus, id_col, vec_col, "c")
        .orderBy(F.xxhash64("c_id"), "c_id")
        .limit(sample_size)
        .select("c_vec")
        .collect()
    )
    return lloyd_codebook([r["c_vec"] for r in rows], n_centroids, lloyd_iters)


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 64,
    nprobe: int = 8,
    lloyd_iters: int = 2,
    centroids: list[list[float]] | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF index: corpus vectors are bucketed by
    nearest codebook centroid; each query probes its ``nprobe`` nearest
    cells and ranks exact cosine inside them.

    The scale path for flat-similarity-spectrum corpora where sign-LSH needs
    near-brute-force candidate volumes: expected candidate fraction is
    ~nprobe/n_centroids regardless of the similarity distribution, and
    recall degrades gracefully with nprobe (bench.py measures both).
    Assignment and probing are pure codegen column expressions over literal
    centroids — the only shuffle is the candidate equi-join on the cell id.

    Pass ``centroids`` (from :func:`ivf_fit_centroids`) to reuse a codebook
    across calls; otherwise one is fit from the corpus.
    """
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    if centroids is None:
        centroids = ivf_fit_centroids(
            corpus, id_col, vec_col, n_centroids, lloyd_iters, dim=dim
        )
    nprobe = min(nprobe, len(centroids))
    c = _prep(corpus, id_col, vec_col, "c")
    q = _prep(queries, id_col, vec_col, "q")

    cdots = _centroid_dots(F.col("c_vec"), centroids)
    c_assigned = c.select(
        "c_id",
        "c_vec",
        (F.array_position(cdots, F.array_max(cdots)) - 1).alias("_cell"),
    )
    qdots = _centroid_dots(F.col("q_vec"), centroids)
    ranked = F.reverse(
        F.array_sort(
            F.zip_with(
                qdots,
                F.array(*[F.lit(i) for i in range(len(centroids))]),
                lambda d, i: F.struct(d.alias("d"), i.alias("i")),
            )
        )
    )
    q_probes = q.select(
        "q_id",
        "q_vec",
        F.explode(
            F.transform(F.slice(ranked, 1, nprobe), lambda s: s["i"])
        ).alias("_cell"),
    )
    scored = (
        q_probes.join(c_assigned, "_cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            _cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    return _top_k(scored, k)


def lsh_candidate_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 12,
    tables: int = 3,
    seed: int = 42,
    dim: int | None = None,
    multiprobe: int = 1,
) -> DataFrame:
    """Distinct (query_id, neighbor_id) candidate pairs sharing a bucket in
    ≥1 of ``tables`` LSH tables (query side optionally multi-probed). The
    candidate count / (|queries|·|corpus|) ratio is the honest cost metric
    of an LSH configuration — bench.py reports it next to recall@k."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    cand = None
    for t in range(tables):
        qs = _probe_buckets(
            lsh_signatures(queries, id_col, vec_col, planes, seed + 1000 * t, dim=dim),
            planes,
            multiprobe,
        )
        cs = lsh_signatures(corpus, id_col, vec_col, planes, seed + 1000 * t, dim=dim)
        pairs = qs.withColumnRenamed("id", "query_id").join(
            cs.withColumnRenamed("id", "neighbor_id"), "bucket"
        ).select("query_id", "neighbor_id")
        cand = pairs if cand is None else cand.unionByName(pairs)
    return cand.filter(F.col("query_id") != F.col("neighbor_id")).distinct()


def lsh_expected_candidate_fraction(
    planes: int, tables: int, multiprobe: int = 1
) -> float:
    """Uniform-bucket estimate of |candidates| / (|queries|·|corpus|) for a
    sign-LSH configuration: each query probes ``1 + Σ C(planes, d)`` buckets
    per table out of ``2^planes``. An upper-bound sanity check (clustered
    corpora concentrate mass in shared buckets, raising the true fraction;
    that is the regime where LSH recall is good)."""
    probes = 1 + sum(
        comb(planes, d) for d in range(1, min(max(multiprobe, 0), planes) + 1)
    )
    return min(1.0, tables * probes / 2.0**planes)


def lsh_candidate_report(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 12,
    tables: int = 3,
    seed: int = 42,
    dim: int | None = None,
    multiprobe: int = 1,
) -> dict:
    """Measured candidate-volume diagnostic for an LSH configuration.

    Counts the actual candidate pairs and compares the fraction against the
    ``5·k/|corpus|`` floor below which top-k recall collapses (fewer than
    ~5k candidates per query to rank). Emits a ``UserWarning`` pointing at
    the knobs (and at :func:`ivf_cosine_topk`) when starved. Run this on a
    sample before committing to a configuration at scale — recall is
    data-dependent and the BENCH recall table shows defaults that are fine
    on clustered corpora are near-useless on flat-spectrum ones."""
    n_q = queries.count()
    n_c = corpus.count()
    n_cand = lsh_candidate_pairs(
        queries, corpus, id_col, vec_col, planes, tables, seed, dim, multiprobe
    ).count()
    fraction = n_cand / max(n_q * n_c, 1)
    floor = 5.0 * k / max(n_c, 1)
    ok = fraction >= floor
    rep = {
        "n_queries": n_q,
        "n_corpus": n_c,
        "n_candidates": n_cand,
        "candidate_fraction": fraction,
        "candidates_per_query": n_cand / max(n_q, 1),
        "floor_fraction": floor,
        "expected_fraction_uniform": lsh_expected_candidate_fraction(
            planes, tables, multiprobe
        ),
        "ok": ok,
    }
    if not ok:
        warnings.warn(
            f"LSH configuration is candidate-starved: measured candidate "
            f"fraction {fraction:.2e} < floor {floor:.2e} (~5*k/|corpus|); "
            f"top-{k} recall will be poor. Lower planes, raise tables/"
            f"multiprobe, or use ivf_cosine_topk (candidate volume "
            f"independent of the similarity distribution).",
            stacklevel=2,
        )
    return rep


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 12,
    tables: int = 3,
    seed: int = 42,
    dim: int | None = None,
    multiprobe: int = 1,
    corpus_size: int | None = None,
) -> DataFrame:
    """Approximate top-k: union of ``tables`` independent LSH tables, exact
    cosine inside shared buckets, top-k per query.

    ``multiprobe=1`` (default) also probes every bucket at Hamming distance 1
    from each query's bucket — substantially higher recall at a (planes+1)×
    query-side (not corpus-side) bucket fan-out. Set 0 for exact-bucket-only.

    Recall is data-dependent: with sign LSH the per-table collision
    probability of a neighbor at angle θ is (1-θ/π)^planes, so corpora whose
    true neighbors are low-cosine (flat similarity spectrum) need more
    tables/probes or fewer planes — the measured BENCH table shows the
    defaults scoring recall@5 < 0.1 on such data while
    :func:`ivf_cosine_topk` (whose candidate volume is
    similarity-distribution-independent) dominates. Measure before trusting:
    :func:`lsh_candidate_report` counts actual candidates and warns when the
    configuration is starved; passing ``corpus_size`` here performs the
    cheap analytic version of that check (no extra Spark job) and warns if
    the expected candidate volume cannot support top-k recall.
    """
    if corpus_size:
        expected = lsh_expected_candidate_fraction(planes, tables, multiprobe)
        if expected * corpus_size < 5 * k:
            warnings.warn(
                f"LSH configuration likely candidate-starved: expected "
                f"~{expected * corpus_size:.1f} candidates/query (uniform-"
                f"bucket estimate) < 5*k={5 * k}. Lower planes, raise "
                f"tables/multiprobe, or use ivf_cosine_topk; "
                f"lsh_candidate_report measures the real volume.",
                stacklevel=2,
            )
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    q = _prep(queries, id_col, vec_col, "q")
    c = _prep(corpus, id_col, vec_col, "c")
    cand = lsh_candidate_pairs(
        queries, corpus, id_col, vec_col, planes, tables, seed, dim, multiprobe
    )
    scored = (
        cand.join(q.withColumnRenamed("q_id", "query_id"), "query_id")
        .join(c.withColumnRenamed("c_id", "neighbor_id"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    return _top_k(scored, k)
