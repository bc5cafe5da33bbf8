"""Feature-view registry: the reference's Feast surface as engine API.

Mirrors the abstractions in `feast-feature-store/feature-repo/`
(entities.py:3-4, user_features.py:8-28, item_features.py:8-20) and the
retrieval paths (`feature_retrieval/get_fv.py:32-47` historical,
`:25-28` online; `materialize.sh:3-4`): a FeatureView is a NAMED
PROJECTION of a source table keyed by entity columns with a TTL — not a
model object, just metadata + a DataFrame — so everything stays
inspectable and oracle-checkable.

- ``get_historical_features`` = chained point-in-time joins
  (training-set assembly, leakage-free: each view contributes the latest
  feature row at-or-before the entity row's event time, within TTL).
- ``materialize_online`` = latest-per-key projection (the
  materialize-incremental job).
- ``get_online_features`` = point lookups against the view's online
  table held on the driver (below), the local analogue of the
  reference's Redis.

**Driver-held online table.** The first ``get_online_features`` after a
``register`` runs ``latest_per_key`` once and keeps the result in the
store, one slot per view: the non-key columns as one Arrow table plus a
key → row index, stamped with the source's ``inputFiles()`` and their
``st_mtime_ns``. A re-``register`` empties the view's slot and a parquet
source rewritten in place fails the stamp, so either re-materializes and
REPLACES the held table: a view never holds more than one. The table is
data computed through the source's own session, so a request from any
session (a sibling ``newSession()`` too) reads the same rows, and it is
freed with the store. Every later request collects its rows, answers
them with one index probe and one ``take``, and returns a
``LocalRelation`` with the schema of ``online_lookup(request,
materialize_online(view), entities)``: one job per request (the
request's own collect) instead of re-aggregating the table. Driver
memory per looked-up view is |keys| × (row width + one index entry: a
key tuple and a row number, ~160 bytes for one bigint key), plus
the request rows: the bytes the reference's Redis keeps in RAM. Bulk
scoring stays in Spark: ``online_lookup`` and
``get_historical_features``.

Scale notes are those of the underlying operators (``asof_join``,
``latest_per_key``, ``online_lookup``): entity-key shuffles only,
top-1-per-key pushdown (WindowGroupLimit), and a lookup join that
broadcasts the online table while it is under the broadcast threshold.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..operators.aggregates import latest_per_key
from ..operators.joins import asof_join, online_lookup
from ..resources import _local

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_EXACT = (T.BooleanType, T.DateType, T.TimestampType, T.TimestampNTZType, T.DecimalType)


def _equal_on_driver(request: T.DataType, table: T.DataType) -> bool:
    """Whether Python equality of the collected key values is the join's
    key equality: integral keys of any widths, or one exact type (not
    floating point, whose NaN the join matches, nor a collated string)."""
    if isinstance(request, _INTEGRAL) and isinstance(table, _INTEGRAL):
        return True
    return request == table and (request == T.StringType() or isinstance(request, _EXACT))


@dataclass(frozen=True)
class FeatureView:
    """Named, TTL'd projection of a feature source keyed by entities."""

    name: str
    entities: list[str]
    ts_col: str
    features: list[str]
    ttl: str | None = None  # e.g. "365 days"; None = unbounded


@dataclass
class FeatureStore:
    """In-engine registry binding FeatureViews to their source frames."""

    views: dict[str, FeatureView] = field(default_factory=dict)
    sources: dict[str, DataFrame] = field(default_factory=dict)
    # view name -> (input-file stamp, table, key index, non-key fields):
    # its driver-held online table, emptied by ``register``
    _online: dict[str, tuple] = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    def register(self, view: FeatureView, source: DataFrame) -> None:
        missing = [
            c
            for c in [*view.entities, view.ts_col, *view.features]
            if c not in source.columns
        ]
        if missing:
            raise ValueError(f"view {view.name}: source lacks columns {missing}")
        self.views[view.name] = view
        self.sources[view.name] = source.select(
            *view.entities, view.ts_col, *view.features
        )
        self._online.pop(view.name, None)

    def get_historical_features(
        self,
        entity_df: DataFrame,
        view_names: list[str],
        event_ts: str = "event_timestamp",
    ) -> DataFrame:
        """Leakage-free training-set assembly: one as-of join per view,
        chained — each feature column reflects the view's state at the
        entity row's own event time (within the view's TTL)."""
        out = entity_df
        for name in view_names:
            v = self.views[name]
            out = asof_join(
                out,
                self.sources[name],
                keys=v.entities,
                event_ts=event_ts,
                feature_ts=v.ts_col,
                ttl=v.ttl,
                features=v.features,
            )
        return out

    def materialize_online(self, view_name: str) -> DataFrame:
        """Latest feature row per entity key — the online-store content
        (push via ``streaming.pipeline.OnlineStore`` / foreachBatch)."""
        v = self.views[view_name]
        return latest_per_key(self.sources[view_name], v.entities, v.ts_col)

    def _online_table(self, view_name: str):
        """The view's online table on the driver: its non-key columns as
        one Arrow table, the key tuple → row index, and the non-key
        fields (nullable, as ``latest_per_key`` outputs them). Held in
        the view's slot while the source's input files are unchanged;
        inputs that cannot be stat-ed are re-materialized per call."""
        v = self.views[view_name]
        try:
            stamp = tuple(
                (p, os.stat(_local(p)).st_mtime_ns)
                for p in self.sources[view_name].inputFiles()
            )
        except OSError:
            stamp = None
        held = self._online.get(view_name)
        if held is not None and held[0] == stamp:
            return held[1:]
        latest = self.materialize_online(view_name)
        table = latest.toArrow()
        keys = zip(*(table.column(k).to_pylist() for k in v.entities))
        fields = [f for f in latest.schema if f.name not in v.entities]
        held = (stamp, table.drop_columns(v.entities), {k: i for i, k in enumerate(keys)}, fields)
        if stamp is not None:
            self._online[view_name] = held
        return held[1:]

    def get_online_features(
        self, request_keys: DataFrame, view_name: str
    ) -> DataFrame:
        """Point lookups against the view's driver-held online table
        (module docstring): one output row per request row, request
        columns carried through, unknown and NULL keys → NULL features
        (Feast semantics). Keys whose Python equality is not the join's
        (``_equal_on_driver``) take ``online_lookup`` in Spark instead."""
        v = self.views[view_name]
        source = self.sources[view_name]
        if not all(
            _equal_on_driver(request_keys.schema[k].dataType, source.schema[k].dataType)
            for k in v.entities
        ):
            return online_lookup(request_keys, self.materialize_online(view_name), v.entities)
        table, index, fields = self._online_table(view_name)
        request = request_keys.toArrow()
        keys = zip(*(request.column(k).to_pylist() for k in v.entities))
        rows = pa.array([None if None in k else index.get(k) for k in keys], pa.int64())
        carried = [*v.entities, *(c for c in request.column_names if c not in v.entities)]
        out = pa.Table.from_arrays(
            [*request.select(carried).columns, *table.take(rows).columns],
            [*carried, *table.column_names],
        )
        schema = T.StructType([*(request_keys.schema[c] for c in carried), *fields])
        return request_keys.sparkSession.createDataFrame(out, schema)
