import os

import pytest

from bluegraph_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    # ANSI ON in tests, deliberately stricter than the engine default: the
    # driver's correctness gate runs an ANSI session, and round 1 shipped an
    # overflow (sum of xxhash64) that only an ANSI session could surface.
    s = get_session(
        app_name="bluegraph-spark-tests",
        # SPARK_GRAFT_CPUS, when set, is the machine's core count: more task
        # threads than cores only adds contention.
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS') or 8}]",
        shuffle_partitions=8,
        # A test-sized heap, not the engine's 20g default: on a 15 GB,
        # 4-core box a 20g JVM grew until the kernel OOM-killed it mid-suite.
        extra_confs={
            "spark.sql.ansi.enabled": "true",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
        },
    )
    yield s
