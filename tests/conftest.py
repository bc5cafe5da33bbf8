from __future__ import annotations

import pytest

from alibaba_cppfeaturestore_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def from_collection(spark, data, schema=None):
    """Local-collection source (reference S8,
    ``batch_process_Bronze_to_Silver.py:178``): the golden tests' inputs."""
    return spark.createDataFrame(data, schema=schema)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle_dir():
    return SF_ORACLE
