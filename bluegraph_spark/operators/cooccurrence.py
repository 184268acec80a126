"""Co-occurrence edge-table builder — the engine's core ingest operator.

Reference semantics: ``CooccurrenceGenerator``
(/root/reference/bluegraph/preprocess/generators.py:155-431): two nodes
co-occur when their *factor sets* intersect (factors = values of a set-valued
node property, or shared edge targets of a given edge type). For every
unordered co-occurring pair the reference emits one edge with the common
factors and statistics frequency / PPMI / NPMI
(generators.py:76-138), where

- ``frequency(s,t)`` = |factors(s) ∩ factors(t)|
- ``s_freq`` = |factors(s)|
- ``total_factor_instances`` defaults to |∪ factors| (generators.py:363-376).

The reference scans all n(n-1)/2 pairs with a multiprocessing pool
(generators.py:272-328). Spark-first replacement: represent occurrences as a
long table ``(node, factor)`` and compute co-occurrence as a **self-equi-join
on factor** followed by a pair aggregation — the shuffle and AQE replace the
worker pool, and only genuinely co-occurring pairs are ever materialized.
Every pair comes from that one self-join (``_join_pairs``); there is no
second pair formulation to choose between.

Scale notes (100 TB design):
- A factor occurring in f files yields f(f-1)/2 join rows: the classic skew
  site. Mitigations, all explicit: ``factor_freq_cap`` (drop factors
  above a document-frequency cap — semantically the reference's
  min-occurrence / top-n vocabulary pruning, cord19kg/utils.py:618-651),
  AQE skew-join (on by default in the session), and ``salt`` (the caller's
  hub knob: factors with more than ``SALT_THRESHOLD`` occurrences run the
  same self-join with a salt as a second key, split across S tasks;
  result-identical, tested).
- The build is lazy unless the occurrence plan has a Python stage, where it
  shares one persisted occurrence pass (see ``cooccurrence_edges``).
- ``common_factors`` materializes the intersection sets and is opt-in only:
  shuffling per-pair factor arrays at 10^12-file scale is prohibitive
  (SURVEY.md §7.5).
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bluegraph_spark.functions.mi import mutual_information_col
from bluegraph_spark.plans.loop import CacheScope
from bluegraph_spark.plans.planinfo import plan_has_python_stage

STATISTICS = ("frequency", "ppmi", "npmi", "expected", "pmi2", "pmi3")

# Above this per-factor occurrence count, the salted path (when salt is set)
# takes over; below it, the plain self-join is strictly cheaper.
SALT_THRESHOLD = 10_000


def occurrences_from_node_property(
    nodes: DataFrame, id_col: str = "id", prop_col: str = "factors"
) -> DataFrame:
    """(node, factor) long table from a set-valued node property.

    Mirrors ``generate_from_nodes(node_property=...)``
    (generators.py:352-383); the array column is exploded and de-duplicated
    (reference cells are Python sets).
    """
    return (
        nodes.select(
            F.col(id_col).cast("string").alias("node"),
            F.explode(prop_col).alias("factor"),
        )
        .select("node", F.col("factor").cast("string").alias("factor"))
        .distinct()
    )


def occurrences_from_edges(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    type_col: str | None = None,
    edge_type: str | None = None,
    reverse: bool = False,
) -> DataFrame:
    """(node, factor) table from typed edges: factor = shared edge target.

    Mirrors ``generate_from_edges`` (generators.py:385-431); ``reverse``
    swaps the roles of source and target (generators.py:185-195).
    """
    if type_col is not None and edge_type is not None:
        edges = edges.filter(F.col(type_col) == edge_type)
    node, factor = (dst_col, src_col) if reverse else (src_col, dst_col)
    return edges.select(
        F.col(node).cast("string").alias("node"),
        F.col(factor).cast("string").alias("factor"),
    ).distinct()


def occurrences_from_aggregator(
    df: DataFrame,
    node_col: str,
    factor_aggregator,
) -> DataFrame:
    """(node, factor) table from a custom per-node factor aggregator.

    The reference's ``factor_aggregator`` / ``aggregation_function`` hook
    (generators.py:88-104, 176-195; exercised by cord19kg's
    ``aggregate_paragraphs``, tests/preprocess/test_co_occurrence_generators.py:88-97):
    an arbitrary Python function applied to all of a node's rows that returns
    the node's factor collection. Spark-side this is an ``applyInPandas``
    group map — the aggregator sees the node's full group as a pandas
    DataFrame and returns any iterable of factors; Arrow moves the batches,
    and the shuffle is one hash partitioning on the node key.

    Use the pure-Catalyst builders (:func:`occurrences_from_node_property`,
    :func:`occurrences_from_edges`) whenever the aggregation is expressible
    as explode/union — this hook is the escape hatch for genuinely custom
    Python aggregation logic, per the engine's UDF policy (SURVEY §2.12).
    """
    import pandas as pd

    def emit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        factors = factor_aggregator(pdf)
        uniq = sorted({str(f) for f in factors})
        return pd.DataFrame({"node": [str(key[0])] * len(uniq), "factor": uniq})

    return df.groupBy(F.col(node_col)).applyInPandas(
        emit, schema="node string, factor string"
    )


def keep_top_n_nodes(
    occ: DataFrame,
    n: int,
    min_occurrences: int | None = None,
) -> DataFrame:
    """Top-n frequent-vocabulary pruning of a (node, factor) table.

    The reference's primary scale knob: keep only the ``n`` nodes with the
    largest factor-set size before edge generation
    (``nlargest(n_most_frequent, freq)``, cord19kg/utils.py:646-651 — "10,000
    most frequent entities", README.rst:177-179), optionally dropping nodes
    with fewer than ``min_occurrences`` factors first (utils.py:618-621).

    Ties at the cutoff break deterministically by node id ascending (pandas
    ``nlargest`` keeps first-encountered, which depends on frame order; a
    distributed engine must pick a stable total order instead).

    The surviving vocabulary is at most n rows — broadcast into the semi-join
    for any n a co-occurrence analysis would use, so pruning costs one
    aggregation and no extra shuffle of the occurrence table.
    """
    nf = occ.groupBy("node").agg(F.count("*").alias("_nf"))
    if min_occurrences is not None:
        nf = nf.filter(F.col("_nf") >= min_occurrences)
    top = nf.orderBy(F.desc("_nf"), F.asc("node")).limit(n).select("node")
    # Broadcast hint only while the vocabulary is safely executor-resident:
    # 1M string ids is tens of MB serialized; beyond that the hint would
    # bypass autoBroadcastJoinThreshold and risk driver/executor OOM, so let
    # AQE pick the strategy from the measured size instead (the semi-join is
    # correct either way).
    if n <= 1_000_000:
        top = F.broadcast(top)
    return occ.join(top, "node", "left_semi")


def _join_pairs(
    a: DataFrame, b: DataFrame | None = None, keys: Sequence[str] = ("factor",)
) -> DataFrame:
    """(s, t, factor) with s < t via the equi-join of ``a`` and ``b`` on ``keys``.

    ``b`` defaults to ``a`` (the factor self-join); the salted heavy-factor
    join passes its replicated side and ``("factor", "_salt")``.
    """
    a, b = a.alias("a"), (a if b is None else b).alias("b")
    on = reduce(operator.and_, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys])
    return a.join(b, on & (F.col("a.node") < F.col("b.node"))).select(
        F.col("a.node").alias("s"),
        F.col("b.node").alias("t"),
        F.col("a.factor").alias("factor"),
    )


def _salted_pairs(counted: DataFrame, salt: int) -> DataFrame:
    """One row per (s, t, factor) with s < t from a (factor, node, _fc) table.

    Factors whose occurrence count ``_fc`` exceeds ``SALT_THRESHOLD`` are
    joined with ``_salt`` as a second key: the left side gets a
    deterministic salt from the node id, the right side is replicated to
    every salt value, so every qualifying pair is still produced exactly
    once while the heaviest factor group is split across ``salt`` tasks.
    """
    light = counted.filter(F.col("_fc") <= SALT_THRESHOLD).drop("_fc")
    heavy = counted.filter(F.col("_fc") > SALT_THRESHOLD).drop("_fc")
    ha = heavy.withColumn("_salt", F.pmod(F.xxhash64("node"), F.lit(salt)))
    hb = heavy.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<long>"))
    )
    return _join_pairs(light).unionByName(_join_pairs(ha, hb, ("factor", "_salt")))


def cooccurrence_edges(
    occ: DataFrame,
    statistics: Sequence[str] = ("frequency",),
    total_factor_instances: int | None = None,
    keep_common_factors: bool = False,
    factor_freq_cap: int | None = None,
    min_frequency: int | None = None,
    prune_zero_mi: str | None = None,
    salt: int | None = None,
    limit: int | None = None,
) -> DataFrame:
    """Build the co-occurrence edge table from a (node, factor) table.

    Returns ``(src, dst, <statistics...>[, common_factors])`` with
    ``src < dst`` (canonical undirected form; the reference's
    source-index < target-index ordering, generators.py:204, reduces to the
    same unordered pair set). Every pair comes from one factor self-join.

    ``prune_zero_mi``: name of a column in ``statistics``; rows with value
    <= 0 are dropped (reference cord19kg/utils.py:661-662).
    ``salt``: the hub knob (>= 1). Factors with more than
    ``SALT_THRESHOLD`` occurrences are joined through ``salt`` salted
    sub-joins; the result is identical.
    ``limit``: keep at most n edges (>= 0) — like the reference's early-exit
    limit (generators.py:238-243) the *choice* of edges is not deterministic.

    The build is eager exactly when the occurrence plan has a Python stage
    (:func:`~bluegraph_spark.plans.planinfo.plan_has_python_stage`, which
    only plans): then the deduplicated occurrence table is persisted, the
    edge table is materialized with ``localCheckpoint``, and the cache is
    released before returning. The reason: the lazy plan re-executes the
    occurrence expression on up to 5 branches (both join sides, the two
    marginal joins, the total-factor count), and re-running an
    Arrow-shuffled Python aggregator 5 times is pure loss (measured on the
    driver bench: the lazy build regressed the aggregator query ~25% while
    speeding up every pure-Catalyst one). Pure-Catalyst plans stay lazy.
    """
    for s in statistics:
        if s not in STATISTICS:
            raise ValueError(
                f"cooccurrence_edges: unknown statistic {s!r}; supported: {STATISTICS}"
            )
    if prune_zero_mi is not None and prune_zero_mi not in statistics:
        raise ValueError(
            f"cooccurrence_edges: prune_zero_mi={prune_zero_mi!r} is not one of "
            f"the computed statistics {list(statistics)}"
        )
    if limit is not None and limit < 0:
        raise ValueError(f"cooccurrence_edges: limit must be >= 0, got {limit}")
    if salt is not None and salt < 1:
        raise ValueError(f"cooccurrence_edges: salt must be >= 1, got {salt}")

    occ = occ.select(
        F.col("node").cast("string").alias("node"),
        F.col("factor").cast("string").alias("factor"),
    ).distinct()
    eager = plan_has_python_stage(occ)
    with CacheScope() as scope:
        if eager:
            occ = scope.persist(occ)
        # (factor, node, _fc): each occurrence with its factor's count, for
        # the cap and the salted split (the cap drops whole factors, so the
        # capped table's counts are the same).
        counted = None
        if factor_freq_cap is not None or salt is not None:
            fc = occ.groupBy("factor").agg(F.count("*").alias("_fc"))
            if factor_freq_cap is not None:
                fc = fc.filter(F.col("_fc") <= factor_freq_cap)
            counted = occ.join(fc, "factor")
            if factor_freq_cap is not None:
                occ = counted.drop("_fc")
        pairs = _join_pairs(occ) if salt is None else _salted_pairs(counted, salt)

        aggs = [F.count("*").alias("frequency")]
        if keep_common_factors:
            aggs.append(F.sort_array(F.collect_set("factor")).alias("common_factors"))
        edges = pairs.groupBy(F.col("s").alias("src"), F.col("t").alias("dst")).agg(*aggs)

        if any(s != "frequency" for s in statistics):
            node_freq = occ.groupBy("node").agg(F.count("*").alias("_nf"))
            edges = (
                edges.join(node_freq.withColumnRenamed("node", "src"), "src")
                .withColumnRenamed("_nf", "_s_freq")
                .join(node_freq.withColumnRenamed("node", "dst"), "dst")
                .withColumnRenamed("_nf", "_t_freq")
            )
            if total_factor_instances is not None:
                total = F.lit(total_factor_instances)
            else:
                # Reference default: |union of all factor sets|
                # (generators.py:363-376) — folded into the plan as a broadcast
                # 1-row scalar instead of a plan-build-time count() action, so
                # building the edge table stays a single job.
                totals = occ.agg(
                    F.countDistinct("factor").alias("_total_factors")
                )
                edges = edges.crossJoin(F.broadcast(totals))
                total = F.col("_total_factors")
            for stat in statistics:
                if stat == "frequency":
                    continue
                mitype = None if stat == "ppmi" else ("normalized" if stat == "npmi" else stat)
                edges = edges.withColumn(
                    stat,
                    mutual_information_col(
                        F.col("frequency"), F.col("_s_freq"), F.col("_t_freq"), total, mitype
                    ),
                )
            edges = edges.drop("_s_freq", "_t_freq", "_total_factors")

        out_cols = ["src", "dst"] + [s for s in statistics]
        if keep_common_factors:
            out_cols.append("common_factors")
        edges = edges.select(*out_cols)

        if min_frequency is not None:
            edges = edges.filter(F.col("frequency") >= min_frequency)
        if prune_zero_mi is not None:
            edges = edges.filter(F.col(prune_zero_mi) > 0)
        if limit is not None:
            edges = edges.limit(limit)
        return scope.result(scope.checkpoint(edges)) if eager else edges


def cooccurrence_edges_multiset(
    occ_counts: DataFrame,
    min_frequency: int | None = None,
) -> DataFrame:
    """Multiset co-occurrence: frequency = Σ_f min(count_s(f), count_t(f)).

    Reference ``safe_intersection`` list branch
    (/root/reference/bluegraph/core/utils.py:59-74): when factor collections
    are lists, the intersection is a multiset with per-key min counts.
    ``occ_counts`` has columns (node, factor, cnt).
    """
    a, b = occ_counts.alias("a"), occ_counts.alias("b")
    pairs = a.join(
        b,
        (F.col("a.factor") == F.col("b.factor")) & (F.col("a.node") < F.col("b.node")),
    ).select(
        F.col("a.node").alias("src"),
        F.col("b.node").alias("dst"),
        F.least(F.col("a.cnt"), F.col("b.cnt")).alias("_m"),
    )
    edges = pairs.groupBy("src", "dst").agg(F.sum("_m").alias("frequency"))
    if min_frequency is not None:
        edges = edges.filter(F.col("frequency") >= min_frequency)
    return edges
