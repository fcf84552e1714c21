from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_TEST = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from s2_spark.session import get_spark

    # a loaded runner can stall the local executor's heartbeat thread
    # for longer than Spark's 10 s interval x 60 misses; the suite
    # asserts results, not liveness, so give both timeouts headroom
    s = get_spark(
        "s2_spark_tests",
        cpus=8,
        shuffle_partitions=8,
        extra_conf={
            "spark.executor.heartbeatInterval": "60s",
            "spark.network.timeout": "600s",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_TEST
