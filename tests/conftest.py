from __future__ import annotations

import pytest

from alibaba_cppfeaturestore_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # Spark drops a local checkpoint's blocks only after a JVM GC hands
    # the dead RDD to its context cleaner. Under the 16g test heap a GC
    # can be minutes apart, so checkpoints that graph / assign_stable_ids
    # tests already dropped would still sit in getRDDStorageInfo() when a
    # later test checks that its own operators leave nothing cached.
    # A periodic GC lets the cleaner keep up (Spark's default is 30 min).
    s = get_spark(
        app_name="tests",
        shuffle_partitions=8,
        extra_conf={"spark.cleaner.periodicGC.interval": "10s"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle_dir():
    return SF_ORACLE
