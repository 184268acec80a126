"""Link-prediction data operators: negative-edge sampling + edge features.

Reference surface (re-expressed Spark-first, not ported):

- ``generate_negative_edges``
  (/root/reference/bluegraph/downstream/link_prediction.py:26-80): sample
  ``int(|E| * p)`` ordered node pairs that are NOT edges of the graph
  (nor reversed edges when undirected, nor in an explicit exclusion set).
  The reference shuffles driver-side node lists with ``np.random`` — a
  non-reproducible O(V)-memory loop. This engine replaces it with a
  deterministic, fully distributed construction (seeded hash → node-index
  pairs → anti-joins), so the same (seed, graph) always yields the same
  negatives on any cluster size, and the sampler is expressible in ANSI
  SQL for the differential oracle.

- ``BINARY_OPERATORS`` hadamard / l1 / l2 / average
  (/root/reference/bluegraph/downstream/link_prediction.py:83-101): the
  per-edge feature vectors an ``EdgePredictor`` consumes, computed from
  the two endpoint embeddings. Pure ``zip_with`` codegen — no Python UDF.

Scale design:

- The node→dense-index map is a global rank computed as range-partition +
  within-partition ``row_number`` + driver-side partition offsets (the
  standard distributed zipWithIndex shape): two O(V) exchanges total, no
  single-partition window. The mapping is the rank of the id in global
  order, so it is invariant to partition-boundary placement.
- Candidate generation is ``spark.range(m)`` + two portable seeded hashes
  (md5 hex → 60-bit int, reproducible in DuckDB as
  ``('0x'||substr(md5(s),1,15))::bigint``) — embarrassingly parallel.
- Membership tests are ``left_anti`` equi-joins (shuffle or broadcast as
  the optimizer sizes them); dedup + trim is one aggregation and a
  ``TakeOrdered`` (no global sort materialization).
- Oversampling replaces the reference's retry loop: for a graph with edge
  density d, a factor of ``oversample/(1-d)`` candidate pairs leaves the
  target count after collisions/self-loops/hits with overwhelming
  probability at any realistic scale; the function returns fewer only
  when the graph is nearly complete (documented, matching the reference's
  own bounded-iteration behavior).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from bluegraph_spark.plans.loop import CacheScope, SuperstepLoop

#: Decimals every GD step (here) and every FastRP iteration
#: (``embeddings.py``) rounds to: part of the cross-engine contract, and the
#: DuckDB oracles round to the same 12.
QUANTUM = 12


def portable_hash(seed: int | str, col: Column) -> Column:
    """Deterministic 60-bit non-negative hash, identical in Spark and DuckDB.

    Spark: ``conv(substr(md5(seed || ':' || x), 1, 15), 16, 10)``;
    DuckDB: ``(('0x' || substr(md5(seed || ':' || x), 1, 15))::bigint)``.
    15 hex digits < 2^60, so the bigint cast never overflows (ANSI-safe).
    """
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(str(seed)), col.cast("string"))), 1, 15
            ),
            16,
            10,
        )
        .cast("bigint")
    )


def _global_rank(
    df: DataFrame,
    cols: list[str],
    out: str,
    base: int = 0,
    dtype: str = "long",
) -> DataFrame:
    """``df`` plus ``out``: each row's ``base``-based position in the
    ``cols`` total order, cast to ``dtype``.

    Distributed zipWithIndex: range-partition on the key, rank within each
    partition, add driver-computed partition offsets (one tiny collect of
    ``n_partitions`` counts). The position is partition-layout-invariant,
    so it hash-compares against a plain ``row_number() OVER (ORDER BY
    cols)`` oracle.

    The ranged layout is frozen with an eager ``localCheckpoint`` BEFORE
    the counts are collected: ``repartitionByRange`` reservoir-samples its
    range boundaries with a fresh seed on every execution, so without the
    freeze the counts job and the later window job can see DIFFERENT
    partitionings (empirically: three executions of the same ranged plan
    gave three partition-size vectors on 21k ids), which would make the
    driver offsets wrong — duplicate/missing positions. After the freeze
    both jobs read the same materialized blocks; the returned frame is
    itself checkpointed so the intermediate blocks are released here.
    """
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with CacheScope() as scope:
        ranged = scope.checkpoint(
            df.repartitionByRange(n_parts, *cols).withColumn(
                "_pid", F.spark_partition_id()
            )
        )
        counts = ranged.groupBy("_pid").count().collect()
        offsets, acc = {}, 0
        for row in sorted(counts, key=lambda r: r["_pid"]):
            offsets[row["_pid"]] = acc
            acc += row["count"]
        off_df = spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _off long"
        )
        w = Window.partitionBy("_pid").orderBy(*cols)
        pos = F.row_number().over(w) + F.col("_off") + (base - 1)
        return scope.result(
            scope.checkpoint(
                ranged.join(F.broadcast(off_df), "_pid")
                .withColumn(out, pos.cast(dtype))
                .drop("_pid", "_off")
            )
        )


def node_index(nodes: DataFrame, id_col: str = "id") -> DataFrame:
    """(id, idx) with idx = dense 0-based rank of ``id`` in global order,
    a long; materialized (see :func:`_global_rank`)."""
    ids = nodes.select(F.col(id_col).alias("id")).distinct()
    return _global_rank(ids, ["id"], "idx")


def generate_negative_edges(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    p: float = 0.5,
    n: int | None = None,
    seed: int = 42,
    directed: bool = True,
    edges_to_exclude: DataFrame | None = None,
    oversample: float = 3.0,
) -> DataFrame:
    """Deterministic distributed negative-edge sampler.

    Returns ``(src, dst, gen_i)`` — up to ``n`` (default
    ``int(|E| * p)``, the reference's count) ordered non-edges, chosen as
    the first survivors by generation index ``gen_i`` of a seeded-hash
    candidate stream. ``nodes`` defaults to the edge endpoint set.
    ``directed=False`` additionally excludes reversed existing edges
    (reference: ``existing_edges.update(reversed)``,
    link_prediction.py:63-65).
    """
    with CacheScope() as scope:
        # One execution of the (possibly expensive — e.g. a distinct over a
        # wide fact table) edge expression: the vertex set, the |E| count, and
        # the anti-join probe(s) in every retry round all read this cache.
        e = scope.persist(edges.select(F.col("src"), F.col("dst")))
        if nodes is None:
            nodes = e.select(F.col("src").alias("id")).unionByName(
                e.select(F.col("dst").alias("id"))
            )
        idx = scope.adopt(node_index(nodes, id_col=nodes.columns[0]))
        V = idx.count()
        if n is None:
            n_excl = edges_to_exclude.count() if edges_to_exclude is not None else 0
            n = int((e.count() - n_excl) * p)
        if V < 2 or n <= 0:
            return scope.result(
                scope.checkpoint(
                    e.select("src", "dst").limit(0)
                    .withColumn("gen_i", F.lit(0).cast("long"))
                )
            )

        spark = edges.sparkSession
        existing = e
        if not directed:
            existing = existing.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )

        def _first_n_survivors(m: int) -> DataFrame:
            """First ``n`` non-edges by gen_i among candidates 0..m-1.

            Because the candidate at index i depends only on (seed, i), a
            larger m strictly EXTENDS the stream: the first-n-by-gen_i result
            under m' > m agrees with the m result whenever the m result
            already held n rows. So the retry loop below preserves the
            deterministic semantic "first n survivors of the infinite seeded
            stream" regardless of where it stops.
            """
            cand = (
                spark.range(m)
                .select(
                    F.col("id").alias("gen_i"),
                    F.pmod(portable_hash(seed, F.col("id")), F.lit(V)).alias("_sidx"),
                    F.pmod(portable_hash(seed + 1, F.col("id")), F.lit(V)).alias("_didx"),
                )
                .filter(F.col("_sidx") != F.col("_didx"))
            )
            paired = (
                cand.join(idx.select(F.col("idx").alias("_sidx"), F.col("id").alias("src")), "_sidx")
                .join(idx.select(F.col("idx").alias("_didx"), F.col("id").alias("dst")), "_didx")
                .select("src", "dst", "gen_i")
            )
            out = paired.join(existing.select("src", "dst"), ["src", "dst"], "left_anti")
            if edges_to_exclude is not None:
                out = out.join(
                    edges_to_exclude.select("src", "dst"), ["src", "dst"], "left_anti"
                )
            return (
                out.groupBy("src", "dst")
                .agg(F.min("gen_i").alias("gen_i"))
                .orderBy("gen_i")
                .limit(n)
            )

        # Retry toward the target count like the reference's while-loop
        # (link_prediction.py:51-77), but deterministically: double the stream
        # prefix until n survivors exist or the stream is clearly exhausted
        # relative to the pair space (dense/small graphs may have < n
        # non-edges at all — then we return what exists and warn).
        m = max(1, int(n * oversample))
        max_m = 16 * max(m, V * V)  # collisions make hashed coverage sublinear
        while True:
            # TakeOrdered output is tiny (≤ n rows) and fully determined;
            # materialize once, with the survivor count riding the
            # checkpoint job as an observed metric (a separate count() ran a
            # second job per retry round).
            obs = Observation(f"negedge_round_{m}_{time.time_ns()}")
            result = scope.checkpoint(
                _first_n_survivors(m).observe(obs, F.count(F.lit(1)).alias("got"))
            )
            got = int(obs.get["got"] or 0)
            if got >= n or m >= max_m:
                break
            scope.release(result)
            m *= 2
        if got < n:
            import warnings

            warnings.warn(
                f"generate_negative_edges: only {got} of the requested {n} "
                f"negative edges exist/were reachable (candidate stream "
                f"exhausted at m={m}, |V|={V}); the graph is too small or too "
                "dense for the target count",
                stacklevel=2,
            )
        return scope.result(result)


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def edge_features(
    pairs: DataFrame,
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    operators: tuple[str, ...] = ("hadamard", "l1", "l2", "average"),
) -> DataFrame:
    """Per-edge feature vectors from endpoint embeddings (reference
    BINARY_OPERATORS, link_prediction.py:83-101), as array<double> columns.

    Pure codegen: two equi-joins bring in the endpoint vectors, then
    ``zip_with`` lambdas — no Python UDF, no shuffle beyond the joins.
    """
    u = embeddings.select(
        F.col(id_col).alias("src"), _as_double(F.col(vec_col)).alias("_u")
    )
    v = embeddings.select(
        F.col(id_col).alias("dst"), _as_double(F.col(vec_col)).alias("_v")
    )
    out = pairs.join(u, "src").join(v, "dst")
    exprs = {
        "hadamard": F.zip_with("_u", "_v", lambda a, b: a * b),
        "l1": F.zip_with("_u", "_v", lambda a, b: F.abs(a - b)),
        "l2": F.zip_with("_u", "_v", lambda a, b: (a - b) * (a - b)),
        "average": F.zip_with("_u", "_v", lambda a, b: (a + b) / F.lit(2.0)),
    }
    unknown = set(operators) - set(exprs)
    if unknown:
        raise ValueError(f"unknown binary operators: {sorted(unknown)}")
    return out.select(
        "src", "dst", *[exprs[op].alias(op) for op in operators]
    )


def edge_feature_scores(
    pairs: DataFrame,
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Scalar reductions of the four reference binary operators per edge:
    dot (Σ hadamard), l1_dist (Σ l1), l2_sq (Σ l2), avg_sum (Σ average).

    The sums are left folds from 0.0 — the same association order DuckDB's
    ``list_reduce`` produces (0.0 + x₁ ≡ x₁ in IEEE754) — so with
    ``round_to`` the outputs hash-compare across engines.
    """
    feats = edge_features(pairs, embeddings, id_col=id_col, vec_col=vec_col)
    zero = F.lit(0.0)

    def _sum(c: str) -> Column:
        s = F.aggregate(F.col(c), zero, lambda acc, x: acc + x)
        return F.round(s, round_to) if round_to is not None else s

    return feats.select(
        "src",
        "dst",
        _sum("hadamard").alias("dot"),
        _sum("l1").alias("l1_dist"),
        _sum("l2").alias("l2_sq"),
        _sum("average").alias("avg_sum"),
    )


@dataclass
class EdgePredictorModel:
    """Fitted in-engine logistic edge predictor.

    The reference's ``EdgePredictor`` (downstream/link_prediction.py:107-151
    over ElementClassifier.fit/predict, data_structures.py:21-81) wraps an
    arbitrary sklearn estimator around driver-resident feature matrices.
    This engine's model is logistic regression fit by full-batch gradient
    descent computed as DataFrame aggregations — distributed, deterministic
    (every gradient and weight is quantized to ``QUANTUM`` (12) decimals, so
    the trajectory is independent of partitioning and reproducible in
    ANSI SQL), and free of driver-side data collection: the driver only
    ever sees the (p+1)-element gradient vector per iteration.
    """

    feature_cols: list[str]
    intercept: float
    weights: list[float]
    means: list[float]
    stds: list[float]
    iterations: int
    history: list[dict]


def fit_edge_predictor(
    features: DataFrame,
    label_col: str,
    feature_cols: Sequence[str],
    lr: float = 0.5,
    iterations: int = 20,
) -> EdgePredictorModel:
    """Fit logistic regression on an edge-feature table, distributed.

    Features are standardized with the explicit population formula
    ``(x - mean) / sqrt(avg(x²) - avg(x)²)`` (constant columns pass
    through unscaled), then full-batch GD runs ``iterations`` steps of
    ``w ← round(w - lr · round(avg((σ(z) - y) · x), q), q)``. One
    aggregation job per iteration; state on the driver is p+1 floats, so
    each iteration is a ``SuperstepLoop`` superstep with no state frame:
    ``SuperstepLoop.log`` records its ``loss`` in ``history``.

    The per-step rounding to ``QUANTUM`` decimals is the cross-engine /
    cross-partitioning contract (same role as FastRP's): it absorbs both
    summation-order differences in the distributed average and the ≤1-ulp
    disagreement between ``java.lang.Math.exp`` and libm ``exp``.

    An empty feature table raises ``ValueError``. There is no
    ``checkpointer``/``resume``: the whole iteration state is the p+1
    weights held in Python, and a rerun costs one aggregation job per
    iteration.
    """
    fcols = list(feature_cols)
    # Conf-isolated loop scope (same discipline as the superstep loops):
    # every GD iteration is one fixed-shape full-reduction over the
    # standardized cache, so AQE's per-stage re-planning just splits each
    # iteration into two driver jobs (measured: 2 jobs/iteration with AQE
    # on, 1 without — the iteration count is the job count floor). The
    # materialization pass below still plans under the caller's conf copy
    # (AQE on) so the upstream feature expression keeps its adaptive join
    # plan; the pin lands after it, before the loop.
    with SuperstepLoop(features.sparkSession) as loop:
        features = loop.bind(features)
        y = F.col(label_col).cast("double")
        base = features.select(
            y.alias("_y"), *[F.col(c).cast("double").alias(c) for c in fcols]
        )

        # ONE pass over the (possibly expensive) upstream feature
        # expression: the standardization statistics and the row count ride
        # the cache materialization as observed metrics (same avg/round
        # expressions the former separate stats job ran — the QUANTUM
        # rounding absorbs the summation-tree difference exactly as it does
        # across partitionings).
        obs = Observation(f"lp_fit_stats_{time.time_ns()}")
        cached = loop.checkpoint(
            base.observe(
                obs,
                F.count(F.lit(1)).alias("_n"),
                *[F.round(F.avg(c), QUANTUM).alias(f"_m_{c}") for c in fcols],
                *[
                    F.round(F.avg(F.col(c) * F.col(c)), QUANTUM).alias(f"_q_{c}")
                    for c in fcols
                ],
            )
        )
        stats = obs.get
        n_rows = int(stats["_n"] or 0)
        if n_rows == 0:
            raise ValueError("fit_edge_predictor: empty feature table")
        means, stds = [], []
        for c in fcols:
            m = float(stats[f"_m_{c}"])
            var = float(stats[f"_q_{c}"]) - m * m
            s = round(math.sqrt(var), QUANTUM) if var > 0 else 1.0
            means.append(m)
            stds.append(s if s > 0 else 1.0)

        # Every GD iteration is one full-reduction job over this cache; at
        # small row counts a session-wide partition fan-out just multiplies
        # task-scheduling cost by the iteration count. Re-layout the cache
        # at the loop width (same rows-per-partition budget as the superstep
        # loops). The per-step round(QUANTUM) already makes the trajectory
        # independent of partitioning, so the values are unaffected. The
        # standardization itself stays a lazy projection over the cache — 5
        # codegen'd column ops per row per iteration, far below one extra
        # materialization job. The checkpoint under the packed cache lives
        # until the loop's exit: an eviction-triggered recompute of the pack
        # reads it.
        n_parts = loop.width(n_rows)
        loop.freeze(n_parts)
        if n_parts < cached.rdd.getNumPartitions():
            cached = loop.persist(cached.coalesce(n_parts))
            cached.count()
        std = cached.select(
            "_y",
            *[
                F.round((F.col(c) - F.lit(means[i])) / F.lit(stds[i]), QUANTUM)
                .alias(c)
                for i, c in enumerate(fcols)
            ],
        )

        b = 0.0
        w = [0.0] * len(fcols)
        for _ in loop.supersteps(iterations):
            z = F.lit(b)
            for i, c in enumerate(fcols):
                z = z + F.lit(w[i]) * F.col(c)
            sig = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            err = sig - F.col("_y")
            row = std.agg(
                F.round(F.avg(err), QUANTUM).alias("_gb"),
                *[
                    F.round(F.avg(err * F.col(c)), QUANTUM).alias(f"_g_{c}")
                    for c in fcols
                ],
                F.round(
                    F.avg(
                        -(
                            F.col("_y") * F.log(F.greatest(sig, F.lit(1e-15)))
                            + (F.lit(1.0) - F.col("_y"))
                            * F.log(
                                F.greatest(F.lit(1.0) - sig, F.lit(1e-15))
                            )
                        )
                    ),
                    QUANTUM,
                ).alias("_loss"),
            ).first()
            b = round(b - lr * float(row["_gb"]), QUANTUM)
            w = [
                round(w[i] - lr * float(row[f"_g_{c}"]), QUANTUM)
                for i, c in enumerate(fcols)
            ]
            loop.log({"loss": float(row["_loss"])})

    return EdgePredictorModel(
        feature_cols=fcols,
        intercept=b,
        weights=w,
        means=means,
        stds=stds,
        iterations=iterations,
        history=loop.history,
    )


def predict_edges(
    features: DataFrame,
    model: EdgePredictorModel,
    threshold: float = 0.5,
    score_round: int | None = 4,
) -> DataFrame:
    """Score edges with a fitted :class:`EdgePredictorModel`.

    Appends ``score`` (σ of the standardized linear term, rounded to
    ``score_round`` — coarse enough that the ≤1e-10 cross-engine GD
    divergence can never flip a hash compare) and ``pred`` (score ≥
    threshold as int, the reference's ``predict`` labels).
    """
    z = F.lit(model.intercept)
    for i, c in enumerate(model.feature_cols):
        z = z + F.lit(model.weights[i]) * (
            (F.col(c).cast("double") - F.lit(model.means[i]))
            / F.lit(model.stds[i])
        )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    out = features.withColumn(
        "score", F.round(score, score_round) if score_round else score
    )
    return out.withColumn(
        "pred", (F.col("score") >= F.lit(threshold)).cast("int")
    )


# The reference's NodeClassifier (downstream/node_classification.py:19-44)
# differs from EdgePredictor only in where the feature table comes from —
# node properties / embedding vectors instead of edge binary-operator
# features (ElementClassifier.fit/predict are shared, data_structures.py:
# 21-81). The in-engine model is the same quantized-GD logistic regression
# over an arbitrary feature DataFrame, so the node-classification halves
# are the same callables under their reference-facing names.
fit_node_classifier = fit_edge_predictor
predict_nodes = predict_edges
