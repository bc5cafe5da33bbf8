"""NULL-injection differential: the null-sensitive catalog entries vs
their DuckDB oracles on a null-perturbed testdata copy.

``tools/driver_sim.py --perturb-nulls`` runs the full 211-entry gate on
NULL-seeded data; this module pins the property in the regular pytest
loop for the entries whose plans had (and fixed) genuine cross-engine
null divergences, so a regression is caught without a driver_sim run:

- Spark's ``asc()`` is NULLS FIRST, DuckDB's bare ``ASC`` is NULLS LAST
  — every ORDER BY over a nullable column must spell the null order
  (``dict_apply_lang``, ``anomaly_seasonal_residuals``).
- ``count(col)``/``count_distinct(col)`` ignore NULLs — the uniqueness
  probe counts ``count(1)`` (``_key_is_unique``, exercised by every
  ``_docs_unique`` consumer).
- Nullable booleans cross the result surfaces differently (None vs NaN)
  — verdict columns COALESCE (``text_repetition_rules``).
- DuckDB list functions raise on NULL-bearing lists where Spark ranks
  null results last — embed corpora exclude null payloads on both sides
  (``multimodal_embed_topk``).

The perturbation is the driver-sim one (same seeded crc32 site), applied
at sf0.001 so the module stays fast.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES
from tools.driver_sim import TABLES, perturb

# The entries whose plans carry explicit null-discipline decisions (see
# module docstring), plus the dictionary/text/statistics neighbours that
# read the same nullable columns.
NULL_SENSITIVE = [
    "agg_vocab_sizes",
    "anomaly_seasonal_residuals",
    "corpus_data_card",
    "dedup_exact",
    "dict_apply_lang",
    "dict_encode_event_type",
    "lang_id_heuristic",
    "multimodal_embed_topk",
    "text_pii_redact",
    "text_quality_filter",
    "text_repetition_rules",
    "text_stats",
    # events.event_type/props/value cohort (the fuzz's second sweep):
    # each had a genuine cross-engine null divergence, fixed with an
    # explicit pinned policy — see the entry docstrings/oracle comments
    "anomaly_mad_outliers",
    "ewma_user_value",
    "feature_hashing_trick",
    "feature_impute_missing",
    "feature_quantile_normalize",
    "grouped_mode_bucket",
    "json_codec_roundtrip",
    "stream_topk_trending",
    # NULL-key cohort (the mode also NULLs ~2% of doc_id/vec_id — the
    # advisor's degenerate-key regime): representative selection is
    # NULLS LAST (a NULL id never wins), id-based clustering and the
    # media-payload gate require an id, LIMIT-boundary tie-breaks spell
    # their null order
    "dedup_semantic_embedding",
    "multimodal_decode_metadata",
    "multimodal_frame_sample",
    "vocab_oov_rate",
]


@pytest.fixture(scope="module")
def null_sf(tmp_path_factory):
    return perturb(
        "/root/testdata/sf0.001", "--perturb-nulls", seed=11,
        root=str(tmp_path_factory.mktemp("driver_sim")),
    )


@pytest.fixture(scope="module")
def ddb(null_sf):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{null_sf}/{t}.parquet')"
        )
    yield con
    con.close()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: str(v) if v is not None else None)
    df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def test_perturbation_actually_injects_nulls(null_sf):
    con = duckdb.connect()
    n = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{null_sf}/documents.parquet') "
        "WHERE text IS NULL OR lang IS NULL OR source IS NULL"
    ).fetchone()[0]
    con.close()
    assert n > 0, "seed 11 injected no NULLs at sf0.001 — the fuzz is vacuous"


@pytest.mark.parametrize("name", NULL_SENSITIVE)
def test_null_fuzz_matches_oracle(spark, ddb, null_sf, name):
    qd = QUERIES[name]
    spark_pd = canonicalize(qd.spark(spark, null_sf).toPandas())
    oracle_pd = canonicalize(ddb.execute(qd.oracle).fetchdf())
    assert list(spark_pd.columns) == list(oracle_pd.columns), (
        f"{name}: column mismatch {list(spark_pd.columns)} vs "
        f"{list(oracle_pd.columns)}"
    )
    assert len(spark_pd) == len(oracle_pd), (
        f"{name}: row count {len(spark_pd)} vs {len(oracle_pd)}"
    )
    pd.testing.assert_frame_equal(
        spark_pd, oracle_pd, check_dtype=False, check_exact=False,
        rtol=1e-6, atol=1e-9,
    )
