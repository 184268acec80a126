"""One cache scope for every operator, one superstep loop for the iterative ones.

``CacheScope`` owns the caches and local checkpoints of one operator
call and frees them on every exit path, except the checkpoints the
operator's result still reads. One-shot operators use it directly on the
caller's session; ``SuperstepLoop`` is a scope plus the loop parts below.

Every iterative operator follows the same discipline (north rule):

- it runs on its own conf-isolated ``loop_session`` of the caller's
  SparkContext, so its plan-time pins never leak into the caller;
- it sizes its shuffle width from a measured row count with the one
  rule ``width`` and freezes AQE for its fixed-shape plans as soon as the
  width is known; ``edge_cache`` does both and then builds a CSR-blocked
  edge cache (hash-partitioned and sorted on the join key, persisted once);
- each superstep's vertex state is materialized once, through a
  stats-guarded ``localCheckpoint`` (the lineage cut), with the
  superstep's progress metrics riding that one job as observed metrics;
  a ``SuperstepCheckpointer`` then writes those blocks to storage with
  the metrics and lineage (resume), on a background thread while the
  next superstep computes;
- the superseded state's blocks are freed as soon as its successor exists,
  and the rest on the scope's exit.

``SuperstepLoop`` owns all of that; an operator keeps only its round plan,
its observed columns and its convergence test::

    with SuperstepLoop(edges.sparkSession, checkpointer, resume) as loop:
        edges = loop.bind(edges)
        if loop.converged:                      # converged resume: no cache
            return loop.result(loop.state)
        csr = loop.edge_cache(raw_edges, "src")
        if loop.state is None:
            loop.start(initial_state)           # iteration 0
        for it in loop.supersteps(max_iter):
            loop.step(round_plan(loop.state), *observed, fields=record)
        return loop.result(loop.state)

Every iterative operator runs its supersteps this way: PageRank,
connected components, LPA, SSSP, k-shortest distances, Louvain's rounds,
MST's Borůvka rounds (state: the cross-edge set) and FastRP's
propagation iterations (state: the current embedding and the weighted
sum so far). The GD fit of ``fit_edge_predictor`` keeps its p+1 weights
on the driver, so it has no state frame to materialize: it iterates
``loop.supersteps`` and records each superstep with ``loop.log`` alone.

A superstep's record (``iteration``, ``superstep_sec``, the operator's
``fields`` and ``converged``) is built by ``log`` as soon as its
materialization job has run and is appended to ``loop.history``; the
iteration-0 record of ``start`` is not, but its ``converged`` counts.
``superstep_sec`` covers the superstep's compute and local checkpoint,
not its storage write (the metrics JSON keeps that as ``write_sec``).
With a checkpointer the record then goes to ``checkpointer.save`` on one
background ``InheritableThread`` (it keeps the caller's job group, job
tags and scheduler pool), so superstep k's write overlaps superstep k+1. At most one write is in flight: the next
commit joins it before it frees the state that write reads and starts the
next one, so writes land in order and each metrics JSON follows its data
commit; a checkpoint with a metrics file is a finished superstep.
``result`` joins the last write, so every superstep is durable when the
operator returns; a write's error is raised at the next commit or at
``result``, and the scope then frees everything as on any failure. A
resumed loop starts from the latest finished superstep's files; only its
first superstep re-clusters the scan, later ones read local checkpoints.
"""

from __future__ import annotations

import time
from typing import Any, Callable, Iterator

from py4j.java_gateway import JavaObject
from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from bluegraph_spark.plans.checkpoint import SuperstepCheckpointer
from bluegraph_spark.plans.isolation import loop_session, rebind
from bluegraph_spark.plans.planinfo import executed_exchange_count
from bluegraph_spark.plans.stats_guard import stats_safe_local_checkpoint

#: Rows-per-partition budget of every loop's shuffle width
#: (``SuperstepLoop.width``, the one width rule; no operator overrides it).
#: Round plans are join/aggregation-heavy — several chained operators per
#: row — so the budget is smaller than a scan-style 100 MB+ partition: ~32k
#: rows keeps round tasks in the 100-500 ms band (measured at sf0.1: a
#: 135k-edge CC round at 1 partition ran 2-3 s serial, at 5 partitions
#: 0.7-1.6 s). The budget is scale-neutral (not a function of local core
#: count); production runs raise parallelism by raising
#: ``spark.sql.shuffle.partitions``, which caps the width from above.
LOOP_ROWS_PER_PARTITION = 32_000


def _checkpoint_rdds(df: DataFrame) -> dict[int, JavaObject]:
    """The RDDs under ``df``'s ``LogicalRDD`` leaves, by RDD id: the local
    checkpoints its plan reads (and any RDD-built input frame)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    out = {}
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            rdd = leaf.rdd()
            out[rdd.id()] = rdd
    return out


class CacheScope:
    """Owner of the caches and local checkpoints one operator call makes.

    Every operator, one-shot or iterative, persists and checkpoints through
    a scope and never frees a block by hand::

        with CacheScope() as scope:
            sh = scope.persist(shingles)
            out = scope.checkpoint(plan_over(sh))
            return scope.result(out)

    On exit, normal or by an exception, the scope unpersists every cache
    it made and frees every checkpoint it holds, except the checkpoints
    the ``result`` plan reads: those live as long as the result does.
    Checkpoints are held by RDD id, so ``adopt`` hands a composite
    operator the checkpoints an inner operator's result reads, and
    ``release`` frees whatever a derived plan reads. The scope opens no
    session: one-shot operators plan on the caller's session.

    Freeing blocks here, at the moment they are known dead, beats leaving
    them to the ContextCleaner, which frees an RDD only after a full GC
    proves it unreachable (multi-second pauses on a large heap).
    """

    def __init__(self):
        # id(df) -> df for caches; RDD id -> JVM RDD for checkpoints
        self._caches: dict[int, DataFrame] = {}
        self._checkpoints: dict[int, JavaObject] = {}
        self._result: DataFrame | None = None

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        keep = {}
        if exc_type is None and self._result is not None:
            keep = _checkpoint_rdds(self._result)
        for df in self._caches.values():
            df.unpersist()
        for rdd_id, rdd in self._checkpoints.items():
            if rdd_id not in keep:
                rdd.unpersist(False)
        self._caches.clear()
        self._checkpoints.clear()

    def result(self, df: DataFrame) -> DataFrame:
        """Mark ``df`` as the operator's result: the checkpoints it reads
        survive the scope's exit."""
        self._result = df
        return df

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._caches[id(df)] = df
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Stats-guarded ``localCheckpoint`` held by this scope."""
        return self.adopt(stats_safe_local_checkpoint(df))

    def adopt(self, df: DataFrame) -> DataFrame:
        """Hold the checkpoints ``df`` reads, e.g. an inner operator's
        result, so this scope frees them. ``df`` must not read a caller's
        checkpoint."""
        self._checkpoints.update(_checkpoint_rdds(df))
        return df

    def release(self, df: DataFrame | None) -> None:
        """Free now a cache this scope made, or else every checkpoint it
        holds that ``df``'s plan reads. The caller guarantees ``df`` is
        never computed again. Anything else (a resumed state's file scan,
        a caller frame) is left alone."""
        if df is None:
            return
        cached = self._caches.pop(id(df), None)
        if cached is not None:
            cached.unpersist()
            return
        for rdd_id in _checkpoint_rdds(df):
            rdd = self._checkpoints.pop(rdd_id, None)
            if rdd is not None:
                rdd.unpersist(False)


class SuperstepLoop(CacheScope):
    """Context manager for one run of an iterative operator (see module doc).

    A ``CacheScope`` plus the loop's own session, width/freeze, resume and
    superstep parts. ``resume=True`` with a checkpointer loads
    the latest complete superstep into ``state``, ``record`` and
    ``iteration`` at construction, before any cache exists; ``converged``
    then says whether that run had already finished (its ``history`` is
    then the checkpointer's metrics log). Without ``resume`` a checkpointer
    first deletes its run's earlier supersteps: a fresh run owns its run
    directory, so a later resume never reads another run's state.
    """

    def __init__(
        self,
        caller: SparkSession,
        checkpointer: SuperstepCheckpointer | None = None,
        resume: bool = False,
    ):
        super().__init__()
        self.caller = caller
        self.spark = loop_session(caller)
        self.conf_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        self.n_parts: int | None = None
        self.checkpointer = checkpointer
        self.iteration = 0
        self.state: DataFrame | None = None
        self.record: dict[str, Any] = {}
        self.converged = False
        self.history: list[dict[str, Any]] = []
        # physical plan + executed shuffle count of the first superstep's
        # state (pre-materialization), for the plan-guard tests
        self.plan: str | None = None
        self.exchanges: int | None = None
        self._t0 = time.time()
        self._write: _Write | None = None  # the storage write in flight
        if checkpointer is not None and not resume:
            checkpointer.clear()
        latest = checkpointer.latest() if resume and checkpointer is not None else None
        if latest is not None:
            self.iteration = latest
            self.state = checkpointer.load(self.spark, latest)
            self.record = checkpointer.load_metrics(latest)
            self.converged = bool(self.record.get("converged"))
            if self.converged:
                self.history = checkpointer.metrics_log()

    # -- session -----------------------------------------------------------

    def bind(self, df: DataFrame | None) -> DataFrame | None:
        """Re-plan a caller DataFrame onto the loop's session."""
        return None if df is None else rebind(df, self.spark)

    def __exit__(self, exc_type, exc, tb) -> None:
        # the in-flight write reads blocks the scope is about to free; if
        # the loop is already failing, its own exception wins
        try:
            self._await_write()
        except Exception as e:
            if exc_type is None:
                super().__exit__(type(e), e, e.__traceback__)
                raise
        super().__exit__(exc_type, exc, tb)

    def result(self, df: DataFrame) -> DataFrame:
        """Hand ``df`` back on the caller's session once the last storage
        write is durable; the checkpoints ``df`` reads survive the loop's
        exit."""
        self._await_write()
        return rebind(super().result(df), self.caller)

    # -- width, freeze, edge cache -----------------------------------------

    def width(self, n_rows: int) -> int:
        """Shuffle width for ``n_rows`` rows, capped by the caller's
        ``spark.sql.shuffle.partitions``: the one width rule of every loop."""
        return max(1, min(self.conf_parts, int(n_rows) // LOOP_ROWS_PER_PARTITION + 1))

    def freeze(self, n_parts: int) -> None:
        """Pin AQE off and the shuffle width for the fixed-shape rounds.

        Inside the loop every superstep re-runs the same plan over
        explicitly partitioned inputs, so AQE's per-stage re-planning is
        pure serial overhead (and splits each checkpoint job into several
        stage jobs). Freeze BEFORE the initial state materializes: a
        localCheckpoint taken under AQE captures UnknownPartitioning, which
        costs two extra O(V) state shuffles on superstep 1. The pins land
        on the loop's own session only.
        """
        self.n_parts = n_parts
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))

    def edge_cache(self, raw: DataFrame, key: str) -> DataFrame:
        """CSR-blocked edge cache: hash-partitioned by ``key`` and sorted
        within partitions, so every superstep's join on ``key`` reuses the
        layout (InMemoryTableScan reports both) without moving the big side.

        One pass over the (possibly expensive) raw expression: cache it,
        size the width off its count and freeze right there (the build is
        an explicit ``repartition``, so AQE has nothing left to decide),
        build the clustered cache from it, then drop it.
        """
        raw = self.persist(raw)
        self.freeze(self.width(raw.count()))
        csr = self.persist(
            raw.repartition(self.n_parts, key).sortWithinPartitions(key)
        )
        csr.count()
        self.release(raw)
        return csr

    # -- supersteps --------------------------------------------------------

    def start(
        self,
        state: DataFrame,
        *observed: Column,
        fields: Callable[[dict], dict] = lambda m: {},
    ) -> None:
        """Materialize the iteration-0 state into ``state``. Its record is
        not a superstep and stays out of ``history``, but its ``converged``
        counts: a start state that is already final (say, MST on an empty
        edge set) runs no superstep."""
        self._t0 = time.time()
        self._commit(state, observed, fields)

    def supersteps(self, max_iter: int) -> Iterator[int]:
        """Superstep numbers after the last committed one, up to
        ``max_iter``; stops early once a step's record (or a resumed run's
        last record) says converged."""
        while self.iteration < max_iter and not self.converged:
            self.iteration += 1
            self._t0 = time.time()
            yield self.iteration

    def step(
        self,
        state: DataFrame,
        *observed: Column,
        fields: Callable[[dict], dict] = lambda m: {},
    ) -> dict[str, Any]:
        """Materialize one superstep's state and record it.

        ``observed`` aggregate columns ride the materialization job;
        ``fields(metrics)`` turns their values into the record, whose
        ``converged`` key ends the loop. The predecessor state is freed.
        """
        return self._commit(state, observed, fields, snapshot=self.plan is None)

    def log(self, fields: dict[str, Any]) -> dict[str, Any]:
        """The current superstep's record: ``iteration``, ``superstep_sec``
        and the operator's ``fields``, with ``converged`` always present.

        It becomes ``record`` and sets ``converged``; a superstep's record
        (iteration 1 on) is appended to ``history``. ``start`` and ``step``
        log through here; a loop whose state lives on the driver (the GD
        fit's p+1 weights) calls it directly, once per superstep.
        """
        rec = dict(
            iteration=self.iteration,
            superstep_sec=round(time.time() - self._t0, 3),
            **fields,
        )
        rec["converged"] = self.converged = bool(rec.get("converged"))
        self.record = rec
        if self.iteration:
            self.history.append(rec)
        return rec

    def _commit(self, df, observed, fields, snapshot=False) -> dict[str, Any]:
        obs = None
        if observed:
            obs = Observation(f"loop_{self.iteration}_{time.time_ns()}")
            df = df.observe(obs, *observed)
        if snapshot:
            # the static plan this superstep executes (AQE is off in-loop)
            self.plan = df._jdf.queryExecution().executedPlan().toString()
            self.exchanges = executed_exchange_count(df)
        new = self.checkpoint(df)
        # the materialization job has run, so the metrics are in
        rec = self.log(fields(obs.get if obs else {}))
        # the previous superstep's write reads the state released here
        self._await_write()
        self.release(self.state)
        self.state = new
        if self.checkpointer is not None:
            self._write = _Write(self.checkpointer.save, self.iteration, new, rec)
        return rec

    def _await_write(self) -> None:
        """Join the in-flight storage write, if any; raise its error."""
        write, self._write = self._write, None
        if write is not None:
            write.join()
            if write.error is not None:
                raise write.error


class _Write:
    """One ``save(*args)`` on a background ``InheritableThread``, which
    inherits the caller's job group, job tags and scheduler pool, so the
    write's jobs count where the caller's do. ``error`` holds what it
    raised once ``join`` returns."""

    def __init__(self, save: Callable[..., None], *args: Any):
        self.error: Exception | None = None

        def run() -> None:
            try:
                save(*args)
            except Exception as e:  # re-raised on the loop's thread
                self.error = e

        self._thread = InheritableThread(target=run)
        self._thread.start()

    def join(self) -> None:
        self._thread.join()
