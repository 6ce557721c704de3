from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osmesa_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("OSMESA_TEST_SF_DIR", "/root/testdata/sf0.01")

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    s = get_spark("osmesa-tests", shuffle_partitions=8)
    yield s


@contextlib.contextmanager
def jobs_launched(spark):
    """Yield a set that holds, once the block exits, the ids of the Spark
    jobs (outside any job group) that started inside it. The status
    tracker is fed by the asynchronous listener bus, so the bus is drained
    before each read: a job counts in the block that started it."""
    sc = spark.sparkContext._jsc.sc()
    tracker, bus = sc.statusTracker(), sc.listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    jobs: set = set()
    yield jobs
    bus.waitUntilEmpty()
    jobs.update(set(tracker.getJobIdsForGroup(None)) - before)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_CORRECT, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


@pytest.fixture(scope="session")
def bpe_fuzz_spark(spark):
    # alias so the hypothesis-driven test can take the session fixture
    # without hypothesis seeing a function-scoped fixture warning
    return spark
