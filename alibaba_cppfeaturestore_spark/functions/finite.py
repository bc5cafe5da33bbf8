"""The finite-domain guard, spelled once per engine.

A double that enters an exact domain (a DECIMAL sum, a percentile, a
histogram bin, a rendered string, a fit) has no representation for NaN,
±Inf or a magnitude beyond the target precision. The policy: such a
value becomes NULL (missing), so the caller's pinned NULL policy absorbs
it; a finite in-domain value casts bit-identically to a plain CAST.
``driver_sim --perturb-extremes`` seeds these values into every double
column to hold both engines to it.

- ``finite_decimal(col, typ)`` — the value as ``typ``, else NULL.
- ``finite_double(col)`` — the double itself when it is inside the
  finite DECIMAL(18,6) domain, else NULL: the sanitizer for operators
  that consume the raw double (fits, moments, bins) but must treat
  out-of-domain measurements as missing.
- ``finite_decimal_sql`` / ``finite_double_sql`` — the DuckDB oracle
  spellings of the same two expressions, as SQL text.

Why the SQL is spelled this way:

- The ``isnan`` guard: DuckDB 1.0's ``TRY_CAST`` of a NaN double to
  DECIMAL raises ("out of range for the destination type") instead of
  returning NULL, while ±Inf and overflow do return NULL.
- ``finite_double_sql`` nests two ``CASE``s rather than one ``AND``:
  DuckDB evaluates ``AND`` eagerly, so ``NOT isnan(v) AND TRY_CAST(v …)
  IS NOT NULL`` still casts the NaN and raises.

Spark's ``try_cast`` alone already returns NULL for NaN; the Spark
helpers carry the same ``isnan`` guard so both engines evaluate one
expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_DEFAULT = "decimal(18,6)"


def finite_decimal(col: Column | str, typ: str = _DEFAULT) -> Column:
    """``col`` cast to ``typ``; NaN, ±Inf and out-of-domain magnitudes
    become NULL. ``typ`` may also be an integral type (the cast
    truncates toward zero)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(~F.isnan(c), c.try_cast(typ))


def finite_double(col: Column | str) -> Column:
    """``col`` itself when inside the finite DECIMAL(18,6) domain, else
    NULL."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(finite_decimal(c).isNotNull(), c)


def finite_decimal_sql(col: str, typ: str = _DEFAULT) -> str:
    """DuckDB twin of ``finite_decimal``; ``col`` is a SQL expression."""
    return f"CASE WHEN NOT isnan({col}) THEN TRY_CAST({col} AS {typ.upper()}) END"


def finite_double_sql(col: str) -> str:
    """DuckDB twin of ``finite_double``; ``col`` is a SQL expression."""
    return (
        f"CASE WHEN NOT isnan({col}) THEN "
        f"CASE WHEN TRY_CAST({col} AS {_DEFAULT.upper()}) IS NOT NULL "
        f"THEN {col} END END"
    )
