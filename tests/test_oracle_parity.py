"""Driver-style differential testing: every catalog query vs its DuckDB oracle.

Mimics the driver's correctness gate (CORRECTNESS_r{N}.json): run the Spark
query and the oracle SQL at sf0.01, sort columns by name, sort rows, compare
values. Queries without an oracle get a rows-only sanity check. The
DuckDB views and the compared form are ``tools/driver_sim.py``'s.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES
from tools.driver_sim import canon, duckdb_views

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb_views(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, ddb, name):
    qd = QUERIES[name]
    sdf = qd.spark(spark, SF_DIR)
    spark_pd = sdf.toPandas()

    # an empty result that matches an empty oracle is a vacuous pass —
    # every catalog query must exercise real rows at sf0.01
    assert len(spark_pd) > 0, f"{name}: empty result — trivial parity"

    if qd.oracle is None:
        # Rows-only check: runs, has stable schema, deterministic re-run.
        again = qd.spark(spark, SF_DIR).toPandas()
        assert list(spark_pd.columns) == list(again.columns)
        assert len(spark_pd) == len(again)
        return

    oracle_pd = ddb.execute(qd.oracle).fetchdf()

    assert len(spark_pd) == len(oracle_pd), (
        f"{name}: row count {len(spark_pd)} (spark) != {len(oracle_pd)} (oracle)"
    )
    assert sorted(spark_pd.columns) == sorted(oracle_pd.columns), (
        f"{name}: columns {sorted(spark_pd.columns)} != {sorted(oracle_pd.columns)}"
    )

    a = canon(spark_pd)
    b = canon(oracle_pd)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-6)
