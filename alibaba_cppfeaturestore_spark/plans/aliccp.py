"""Ali-CCP pipeline plans: Bronze→Silver and Silver→Gold, Spark-first.

Rebuilds the reference's two batch entry points as pure DataFrame plans:

- Bronze→Silver (``data_processing/batch_processing/batch_process_Bronze_to_Silver.py``):
  kv-parse both CSVs natively (no Python UDF, no driver collectAsMap — the
  reference's ``rdd.collectAsMap()`` at ``:98`` materialized the whole common
  dict in driver memory; here the common features stay a distributed table
  joined in), LEFT equi-join skeleton→common (``:182-184``), drop invalid
  click=0/conversion=1 rows (``:186-187``), merge maps last-win (``:80-82``),
  project the 25-column wide schema (``:206-300``).

- Silver→Gold (``batch_process_Silver_to_Gold.py``): select 17 cols +
  na.drop (``:83-87``), duplicate raw ids (``:95-96``), dictionary-encode 16
  categorical columns (StringIndexer ``:106-130`` — here the deterministic
  native categorify from ``operators.dictionary``), casts + timestamps
  (``:132-152``). As the reference fits its StringIndexer pipeline once and
  reuses the saved model, ``fit_dictionaries`` runs once, eagerly, and
  hands back driver-local dictionaries: the Gold plan broadcasts 16
  ``LocalRelation`` leaves and never re-runs the fit.

Scale notes: the skeleton↔common join shuffles on common_feature_index; at
100 TB the common-features side is orders of magnitude smaller than the
skeleton (one row per feature *block* vs one per impression) so we mark it
broadcastable below a threshold and otherwise let AQE pick SMJ/BHJ at
runtime. The wide projection prunes the merged map to one column — Catalyst
column-pruning keeps the scan minimal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.kv import kv_int, labels_map, merge_feature_maps, parse_kv_triplets

# field_id → silver column name (reference :206-300; FIXTURES.md §3).
# Quirk preserved: "127" = user_consumption_2 while "127_14" = user_brands
# (reference :229,250).
FIELD_TO_NAME: dict[str, str] = {
    "101": "user_id",
    "109_14": "user_categories",
    "110_14": "user_shops",
    "127_14": "user_brands",
    "150_14": "user_intentions",
    "121": "user_profile",
    "122": "user_group",
    "124": "user_gender",
    "125": "user_age",
    "126": "user_consumption_1",
    "127": "user_consumption_2",
    "128": "user_is_occupied",
    "129": "user_geography",
    "205": "item_id",
    "206": "item_category",
    "207": "item_shop",
    "210": "item_intention",
    "216": "item_brand",
    "508": "user_item_categories",
    "509": "user_item_shops",
    "702": "user_item_brands",
    "853": "user_item_intentions",
    "301": "position",
}

SILVER_COLUMNS: list[str] = [*FIELD_TO_NAME.values(), "click", "conversion"]

# The 16 categorical columns categorified in Silver→Gold (reference :109-117).
CATEGORIFY_COLUMNS: list[str] = [
    "user_id",
    "item_id",
    "item_category",
    "item_shop",
    "item_brand",
    "user_shops",
    "user_profile",
    "user_group",
    "user_gender",
    "user_age",
    "user_consumption_2",
    "user_is_occupied",
    "user_geography",
    "user_intentions",
    "user_brands",
    "user_categories",
]


def parse_common_features(raw: DataFrame) -> DataFrame:
    """raw_common_features CSV (_c0=block key, _c2=feat_list) → (str_key, common_map).

    Replaces the reference's UDF + collectAsMap + MinIO-pickle side channel
    (``batch_process_Bronze_to_Silver.py:89-110``) with a distributed table.
    """
    return raw.select(
        F.col("_c0").alias("str_key"),
        parse_kv_triplets(F.col("_c2")).alias("common_map"),
    )


def bronze_to_silver(
    skeleton: DataFrame,
    common: DataFrame,
    broadcast_common: bool | None = None,
) -> DataFrame:
    """Skeleton CSV + common-features CSV → 25-column Silver wide table.

    Mirrors ``prepare_aliccp`` (``batch_process_Bronze_to_Silver.py:320-373``)
    end to end, all-native. ``broadcast_common=None`` lets AQE decide;
    True forces a broadcast-hash join (the common side is one row per
    feature block — typically small relative to impressions).
    """
    common_kv = parse_common_features(common)
    if broadcast_common:
        common_kv = F.broadcast(common_kv)

    skel = skeleton.select(
        F.col("_c0").alias("sample_id"),
        F.col("_c1").alias("click"),
        F.col("_c2").alias("conversion"),
        F.col("_c3").alias("common_feature_index"),
        parse_kv_triplets(F.col("_c5")).alias("skeleton_map"),
    )

    # Invalid-conversion filter BEFORE the join/merge (reference places it
    # before its expensive UDF at :186-188; for us Catalyst would push it
    # anyway, but keeping it early documents intent).
    skel = skel.filter((F.col("click") != "0") | (F.col("conversion") != "1"))

    joined = skel.join(
        common_kv,
        skel["common_feature_index"] == common_kv["str_key"],
        "left",
    )

    # dict.update order: skeleton first, common second ⇒ common wins;
    # labels injected last (reference :80-84). LAST_WIN dedup policy.
    merged = joined.select(
        F.col("sample_id"),
        merge_feature_maps(
            F.col("skeleton_map"),
            F.col("common_map"),
            labels_map(F.col("click"), F.col("conversion")),
        ).alias("result"),
    )

    # 25-column wide projection (reference :206-300). cast(null)=null, so the
    # when/isNotNull/otherwise dance collapses to a plain getItem+cast.
    # kv_int, not a bare cast (r12 --perturb-kv): parsed values arrive
    # unvalidated from the kv string, and under ANSI a non-integral
    # value would crash the job while the reference's non-ANSI cast
    # NULLed it — kv_int pins malformed → NULL, engine-free.
    wide = merged.select(
        F.col("sample_id"),
        *[
            kv_int(F.col("result")[fid]).alias(name)
            for fid, name in FIELD_TO_NAME.items()
        ],
        kv_int(F.col("result")["click"]).alias("click"),
        kv_int(F.col("result")["conversion"]).alias("conversion"),
    )
    return wide


GOLD_SELECT_COLUMNS: list[str] = [
    "user_id",
    "item_id",
    "item_category",
    "item_shop",
    "item_brand",
    "user_shops",
    "user_profile",
    "user_group",
    "user_gender",
    "user_age",
    "user_consumption_2",
    "user_is_occupied",
    "user_geography",
    "user_intentions",
    "user_brands",
    "user_categories",
    "click",
]


def silver_to_gold(
    silver: DataFrame,
    dictionaries: dict[str, DataFrame],
    clock: F.Column | None = None,
) -> DataFrame:
    """Silver wide table → Gold encoded table (reference Silver→Gold).

    ``dictionaries`` maps column name → ``(value, index)`` dictionary
    DataFrame, normally the driver-local ones
    ``operators.dictionary.fit_dictionaries`` returns. ``clock`` is an injectable
    timestamp column replacing the reference's nondeterministic
    ``current_timestamp()`` (``batch_process_Silver_to_Gold.py:151-152``) so
    tests and oracles are reproducible.
    """
    from ..operators.dictionary import encode_with_dictionaries

    df = silver.select(*GOLD_SELECT_COLUMNS).na.drop()
    df = df.withColumn("user_id_raw", F.col("user_id")).withColumn(
        "item_id_raw", F.col("item_id")
    )
    df = encode_with_dictionaries(df, dictionaries)
    ts = clock if clock is not None else F.current_timestamp()
    return df.withColumn("created", ts).withColumn("datetime", ts)

