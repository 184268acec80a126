"""Adaptive statistics barrier for iterative localCheckpoint loops.

The bug this prevents (found in round 4, reproducible on every iterative
operator in this engine): ``Dataset.localCheckpoint`` snapshots the
optimized plan's *estimated* statistics into the resulting ``LogicalRDD``
as ``originStats``. Catalyst's ``SizeInBytesOnlyStatsPlanVisitor``
estimates a join's size as the PRODUCT of its children's sizes, so a
superstep plan that references the previous checkpoint k times (louvain's
round plan: k≈5; pagerank's: k≈2) snapshots an estimate of
``(prev_estimate)^k`` — the estimated sizeInBytes is a BigInt whose DIGIT
COUNT multiplies by k every iteration. Planning each subsequent superstep
then spends its time in ``java.math.BigInteger`` Toom-Cook multiplication
on numbers with millions of digits: measured on a 7-node level-2 louvain
graph, round walls of 5.8s → 8.4s → 22.3s → 140s with a bit-identical
constant-size plan. PageRank/LPA/CC compound at k≈2-3 and stay invisible
for the 5-superstep bench runs, but a 20+-superstep production run hits
the same wall — this is a driver-side scale cliff, not an executor one.

``stats_safe_local_checkpoint`` is the fix: a plain ``localCheckpoint``
while the estimate is small, and when the estimate's digit count crosses
``DEFAULT_DIGIT_LIMIT``, a persist → count → localCheckpoint sandwich.
Counting the materialized cache first means the checkpoint call snapshots the
cache's REAL byte size (InMemoryRelation reports measured batch sizes once
materialized) instead of the compounded estimate — resetting the base, so
the guard fires only every few iterations and the amortized cost is one
extra cached-scan job per O(log) supersteps. Partitioning capture (the
exchange-free superstep joins depend on it) survives both paths: the
cached plan reports the child's hash partitioning through
``InMemoryTableScan``, and the checkpoint captures it as before.

Every superstep passes this guard, with or without a storage checkpointer
(plans/checkpoint.py writes the guarded checkpoint's blocks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# A 200-digit size estimate is ~10^180 "bytes" — already pure fiction, but
# BigInt ops on 200-1000 digits are microseconds. The guard exists to stop
# the geometric compounding long before digit counts reach the millions.
DEFAULT_DIGIT_LIMIT = 200


def estimate_digits(df: DataFrame) -> int:
    """Digit count of Catalyst's sizeInBytes estimate for ``df``'s plan.

    Computed from ``bit_length`` — CPython ≥3.11 refuses int↔str
    conversions beyond 4300 digits, which is exactly the regime this guard
    exists to detect, so ``len(str(sz))`` would crash on the pathological
    case instead of flagging it.
    """
    try:
        sz = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    except ValueError:
        # py4j materializes the JVM BigInt through int(str); CPython ≥3.11
        # refuses past 4300 digits — which IS the answer: the estimate is
        # astronomically past any sane digit limit.
        return 1 << 30
    if not isinstance(sz, int):
        return len(sz.toString().lstrip("-"))  # py4j BigInt passthrough
    if sz <= 0:
        return 1
    # digits = floor(bits * log10(2)) + 1, exact enough for a threshold
    return sz.bit_length() * 30103 // 100000 + 1


def stats_safe_local_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` that never snapshots a runaway size estimate."""
    if estimate_digits(df) <= DEFAULT_DIGIT_LIMIT:
        return df.localCheckpoint()
    cached = df.persist()
    try:
        # Materialize the cache, THEN build a fresh Dataset over it: a
        # Dataset's QueryExecution is fixed at creation, so checkpointing
        # ``df``/``cached`` itself (same object) would snapshot the
        # original cache-free plan's compounded estimate. The fresh
        # ``select("*")`` resolves through the cache manager against the
        # now-materialized InMemoryRelation, whose stats are its measured
        # byte size — that is what the checkpoint snapshots as originStats.
        # Observation metrics attached to ``df`` fire on this count job.
        cached.count()
        return cached.select("*").localCheckpoint()
    finally:
        cached.unpersist()
