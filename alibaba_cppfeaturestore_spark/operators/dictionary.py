"""Deterministic frequency-dictionary encoding ("categorify").

The reference uses 16× MLlib ``StringIndexer(handleInvalid="keep")`` in a
Pipeline (``data_processing/batch_processing/batch_process_Silver_to_Gold.py:106-130``):
value → dense index ordered by descending frequency, unseen values get an
extra index. StringIndexer's tie order among equal-frequency values is
unspecified, which makes results oracle-unfriendly; this native version pins
the tie-break (count desc, value asc) so the mapping is a pure function of
the data — DuckDB-checkable and identical between batch and streaming.

A fitted dictionary is DATA, not a plan — the counterpart of the
reference's saved ``PipelineModel``, fit once and reused by every stream
micro-batch. ``fit_dictionaries`` runs eagerly: one grouping-sets scan of
the input counts every vocabulary, one Arrow collect brings the
``(value, count)`` pairs to the driver, and the driver sorts each
vocabulary — as StringIndexer orders its labels on the driver. The number
of Spark jobs does not grow with the number of columns. Each column comes
back as a driver-local ``(value, index)`` DataFrame (a ``LocalRelation``),
so every later encode — each Gold write, each micro-batch — broadcasts
those rows instead of re-running the fit, and reads |vocab| as a literal.

Driver memory: the fit holds Σ|vocab_i| ``(value, count)`` pairs on the
driver, about 2.8M at full Ali-CCP (the 16 vocabulary sizes in
BASELINE.md; item_id alone is 1.8M, reference ``:161-162``). The encode's
broadcast joins put every dictionary on the driver anyway; the collect
never carries a k-wide row, only one array of pairs per column.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _local_dictionary(spark: SparkSession, values, dtype: T.DataType) -> DataFrame:
    """``values`` in index order → driver-local ``(value <dtype>, index
    int)`` DataFrame, the output contract every fit shares."""
    table = pa.table({"value": values, "index": pa.array(range(len(values)), pa.int32())})
    schema = T.StructType([T.StructField("value", dtype), T.StructField("index", T.IntegerType())])
    return spark.createDataFrame(table, schema)


def _frequency_order(values: pa.ChunkedArray, counts: pa.ChunkedArray) -> pa.ChunkedArray:
    """``values`` sorted as Spark orders (count desc, value asc NULLS
    FIRST): NULL first and NaN above every number. Arrow's
    ``null_placement`` puts NaN with the NULLs, so floats sort on an
    ``is_nan`` key before the value."""
    keys = {"count": counts, "value": values}
    sort_keys = [("count", "descending")]
    if pa.types.is_floating(values.type):
        keys["nan"] = pc.is_nan(values)  # NULL for a NULL value: still first
        sort_keys.append(("nan", "ascending"))
    sort_keys.append(("value", "ascending"))
    order = pc.sort_indices(pa.table(keys), sort_keys=sort_keys, null_placement="at_start")
    return values.take(order)


def fit_dictionary(df: DataFrame, column: str) -> DataFrame:
    """Fit one frequency dictionary: ``(value, index)``, index 0-based,
    ordered by (count desc, value asc — NULLS FIRST) — deterministic
    StringIndexer. See ``fit_dictionaries``."""
    return fit_dictionaries(df, [column])[column]


def fit_dictionaries(df: DataFrame, columns: list[str]) -> dict[str, DataFrame]:
    """Fit dictionaries for many columns in ONE pass over ``df`` and
    return them as driver-local ``(value, index)`` DataFrames.

    A GROUPING SETS aggregation ((c1), (c2), …, (ck)) counts every
    column's vocabulary in a single scan (Spark expands grouping sets
    map-side) — at 100 TB one read of the fact table instead of k. The
    counts are collected once, through Arrow, as one row of k
    ``collect_list(struct(c_i, count))`` arrays — Σ|vocab_i| pairs on the
    driver (module docstring), never a k-wide row and never a collect per
    column — so the fit runs the same number of Spark jobs for any k.

    The driver then sorts each vocabulary by (count desc, value asc) with
    Spark's ordering of values: NULL first, NaN above every double, -0.0
    and 0.0 one value (grouping already merged them), strings by UTF-8
    bytes. Each dictionary's ``value`` keeps the input column's type (ints
    stay ints, NaN survives). Columns of nested type (array, map, struct)
    have no such order on the driver and raise ``TypeError`` before any
    job runs.
    """
    k, cols = len(columns), [F.col(c) for c in columns]
    agg = df.groupingSets([[c] for c in cols], *cols).agg(
        F.count("*").alias("cnt"), F.grouping_id().alias("__gid")
    )
    dtypes = [f.dataType for f in agg.schema.fields[:k]]
    for c, t in zip(columns, dtypes):
        if isinstance(t, (T.ArrayType, T.MapType, T.StructType)):
            raise TypeError(
                f"fit_dictionaries: column {c!r} has nested type {t.simpleString()}, which has no dictionary order"
            )
    # grouping_id bit j (MSB-first over the grouping columns) is set when
    # column j is aggregated away → the {c_i}-only set has every bit set
    # except bit i
    slices = [F.col("__gid") == (1 << k) - 1 - (1 << (k - 1 - i)) for i in range(k)]
    vocab = agg.agg(
        *[F.collect_list(F.when(s, F.struct(c, "cnt"))) for s, c in zip(slices, cols)]
    ).toArrow()
    out = {}
    for i, c in enumerate(columns):
        pairs = pc.list_flatten(vocab.column(i))
        values = _frequency_order(pc.struct_field(pairs, [0]), pc.struct_field(pairs, [1]))
        out[c] = _local_dictionary(df.sparkSession, values, dtypes[i])
    return out


def _local_size(d: DataFrame) -> int | None:
    """Row count of a DataFrame whose analyzed plan is a bare
    ``LocalRelation`` — the rows already sit on the driver — else None.
    A frame derived from it (a filter, a union) is not bare and counts on
    Spark."""
    plan = d._jdf.queryExecution().analyzed()
    return plan.data().size() if plan.nodeName() == "LocalRelation" else None


def encode_with_dictionaries(df: DataFrame, dictionaries: dict[str, DataFrame]) -> DataFrame:
    """Replace each column with its dictionary index via broadcast joins.

    As ``StringIndexer(handleInvalid="keep")``: values absent from the
    dictionary get index = |vocab| (one extra bucket).

    Each dictionary is broadcast — no shuffle of the fact table, the joins
    pipeline inside one stage. A dictionary from ``fit_dictionaries`` is
    a driver-local ``LocalRelation``: the join reads its rows, the fit
    never re-runs, and |vocab| is a literal (the driver holds the row
    count), so the encode plans no aggregate — at the cost of holding
    Σ|vocab_i| ``(value, index)`` pairs on the driver (module docstring).
    Any other ``(value, index)`` DataFrame works too (a lazy one is
    evaluated by each broadcast); its |vocab| is a one-row ``count(*)``
    aggregate, cross-joined (broadcast) onto the fact.

    The joins only add columns; one final ``select`` keeps the other
    columns in input order, then the encoded ones in dictionary order.
    """
    out, encoded = df, []
    for col, d in dictionaries.items():
        value, index, vocab = f"__{col}_value", f"__{col}_index", f"__{col}_vocab"
        out = out.join(
            F.broadcast(d.select(F.col("value").alias(value), F.col("index").alias(index))),
            out[col] == F.col(value),
            "left",
        )
        size = _local_size(d)
        if size is None:
            out = out.crossJoin(F.broadcast(d.agg(F.count("*").cast("int").alias(vocab))))
        encoded.append(
            F.coalesce(F.col(index), F.col(vocab) if size is None else F.lit(size)).cast("int").alias(col)
        )
    return out.select(*[c for c in df.columns if c not in dictionaries], *encoded)


def fit_dictionary_mllib(df: DataFrame, column: str) -> DataFrame:
    """MLlib-compat fit (SURVEY §7.3): the same ``(value, index)``
    dictionary shape, produced by an actual
    ``StringIndexer(handleInvalid="keep", stringOrderType="frequencyDesc")``
    fit — the estimator the reference pipelines 16× of
    (``batch_process_Silver_to_Gold.py:106-121``).

    Use this ONLY when an existing MLlib artifact must be matched
    bit-for-bit: StringIndexer's order among equal-frequency values is
    unspecified (JVM hash order), so its output is not a pure function of
    the data and cannot be oracle-checked. ``fit_dictionary`` (count desc,
    value asc — pinned) is the default path; where all frequencies are
    distinct the two agree exactly (asserted in tests).

    The fitted labels are |vocab|-sized driver metadata (same payload an
    MLlib PipelineModel persists), re-emitted as the same driver-local
    ``(value, index)`` DataFrame ``fit_dictionaries`` returns (``value``
    is a string: StringIndexer labels are strings), so
    ``encode_with_dictionaries`` works unchanged on either fit path.
    """
    from pyspark.ml.feature import StringIndexer

    model = StringIndexer(
        inputCol=column,
        outputCol="__idx",
        handleInvalid="keep",
        stringOrderType="frequencyDesc",
    ).fit(df.select(column).where(F.col(column).isNotNull()))
    labels = model.labelsArray[0]
    return _local_dictionary(df.sparkSession, pa.array(labels, pa.string()), T.StringType())
