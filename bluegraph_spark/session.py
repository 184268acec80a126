"""SparkSession factory with the engine's standard configuration.

Design notes (scale-first):
- AQE is on, with skew-join splitting: the co-occurrence self-join on
  occurrence factors is the canonical skew site (a token/factor occurring in
  f files produces f(f-1)/2 join pairs).
- Arrow is on: every Python-side UDF in this engine is a pandas/Arrow UDF
  (input_hint: "no per-row Python").
- shuffle.partitions defaults small for local[] testing; production
  spark-submit overrides via --conf (AQE coalescing makes the initial number
  mostly a ceiling).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS = {
    # local-mode driver hosts all executor threads: size the heap for the
    # machine (only effective at first JVM launch; harmless afterwards).
    # Measured on this box: 16-24g beats 64g (G1 pause blowup past ~48g);
    # the default 1g OOMs on >10M-edge graphs.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "20g"),
    # Iterative loops localCheckpoint vertex state each superstep; the blocks
    # are only reclaimed by the ContextCleaner after a full GC, which a
    # large-heap JVM may not run for hours — supersteps then slow down 3-4x
    # as dead state evicts the live edge cache (measured). Force a periodic
    # GC so checkpoint storage is bounded by a few supersteps.
    "spark.cleaner.periodicGC.interval": "45s",
    # Columnar cache/shuffle buffers allocate 16MB+ arrays; with G1's default
    # region sizing those are humongous allocations and GCLocker stalls all
    # executor threads (measured: 2x superstep variance). 32m regions keep
    # them in normal regions.
    "spark.driver.extraJavaOptions": "-XX:G1HeapRegionSize=32m",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI SQL on, explicitly (also Spark 4's default, and what the driver's
    # correctness gate runs): overflow/invalid-cast bugs surface as errors
    # instead of silent wraparound — round 1 shipped a sum(xxhash64) overflow
    # that only an ANSI session could catch. Every operator is ANSI-safe
    # (bit_xor signatures, guarded divisions, bounded conv() casts).
    "spark.sql.ansi.enabled": "true",
    # UI off: this engine is driven headless (tests/bench/spark-submit).
    "spark.ui.enabled": "false",
}


def get_session(
    app_name: str = "bluegraph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    ``master`` defaults to the one ``spark-submit`` passed, when this
    process runs under it (its JVM is already up and holds
    ``spark.master``), else to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    all cores), so the same code path serves tests, bench, and
    spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if master is not None:
        builder = builder.master(master)
    confs = dict(DEFAULT_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
