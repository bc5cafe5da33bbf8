"""Data-layout optimization: Z-order (Morton) clustering for
multi-dimensional data skipping.

Engine extra modeled on Delta Lake ``OPTIMIZE ZORDER BY`` / Databricks
liquid clustering (the reference's Delta write at
``batch_process_Bronze_to_Silver.py:317`` has no clustering story): a
parquet lake pruned by min/max footer stats can skip files for ONE
sort dimension only; interleaving the bits of two dimensions into a
single Z-value and range-partition-sorting by it gives every file a
small bounding BOX in both dimensions, so predicates on EITHER column
prune.

The Z-value is pure integer arithmetic — bit i of x lands at bit 2i,
bit i of y at bit 2i+1 — so it is exactly reproducible on any engine
(``zorder_sql`` emits the equivalent DuckDB expression from the same
bit plan; the catalog oracle replays it).

Scale shape: computing the Z-value is a narrow map; the layout itself is
``repartitionByRange(z)`` + ``sortWithinPartitions(z)`` — ONE range
shuffle, exactly what any global sort costs, after which a 100 TB scan
with a two-sided predicate reads only the files whose (x, y) boxes
intersect it. File assignment for inspection is the top ``file_bits``
bits of z (data-independent, no NTILE global sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..resources import own


def zorder_col(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton-interleave the low ``bits`` bits of two non-negative
    integer columns into a single BIGINT Z-value (x → even bits,
    y → odd bits). Delegates to the canonical n-column interleave in
    ``sources/writers.py::morton_code`` (same bit plan: column i of n at
    bit b·n+i) — this module adds the ORACLE side (``zorder_sql`` emits
    the identical plan as portable SQL) and the inspectable
    ``zval``/``file_bucket`` projection; ``zorder_write`` over there is
    the auto-min-max-scaled end-to-end writer."""
    from ..sources.writers import morton_code

    mask = F.lit((1 << bits) - 1)
    return morton_code(
        [x.cast("bigint").bitwiseAND(mask), y.cast("bigint").bitwiseAND(mask)], bits
    )


def zorder_sql(x_expr: str, y_expr: str, bits: int = 16) -> str:
    """The SAME bit plan as ``zorder_col`` as a portable SQL expression
    (DuckDB dialect: ``&``, ``>>``, ``<<`` integer operators) for oracle
    replay."""
    mask = (1 << bits) - 1
    xm = f"(CAST({x_expr} AS BIGINT) & {mask})"
    ym = f"(CAST({y_expr} AS BIGINT) & {mask})"
    terms = []
    for i in range(bits):
        terms.append(f"((({xm} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ym} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def zorder_layout(
    df: DataFrame,
    x: Column,
    y: Column,
    bits: int = 16,
    file_bits: int = 6,
) -> DataFrame:
    """Annotate ``df`` with ``zval`` and a data-independent ``file_bucket``
    (top ``file_bits`` of the Z-space → 2^file_bits buckets). Writing is
    the caller's choice of ``write_zordered`` or a plain
    ``partitionBy``-free parquet write after ``cluster_by_z``."""
    z = zorder_col(x, y, bits)
    return df.withColumn("zval", z).withColumn(
        "file_bucket", F.shiftright(F.col("zval"), 2 * bits - file_bits)
    )


def cluster_by_z(df: DataFrame, num_files: int = 64) -> DataFrame:
    """Physically cluster: one range shuffle on ``zval`` + in-partition
    sort, so each output file covers a compact Z-range (⇒ a compact
    (x, y) box). Call after ``zorder_layout``."""
    return df.repartitionByRange(num_files, "zval").sortWithinPartitions("zval")


def assign_stable_ids(
    df: DataFrame,
    order_by: list[str],
    id_col: str = "stable_id",
    num_partitions: int = 32,
) -> DataFrame:
    """Dense global row numbers (1-based, ordered by ``order_by``) WITHOUT
    a single-partition sort. ``row_number() OVER (ORDER BY …)`` plans an
    ``Exchange SinglePartition`` — every row funnels through ONE task,
    the canonical scale-killer for id assignment over a 100 TB table.

    Scalable composition with identical output:
      1. ``repartitionByRange(order_by)`` — ranges are disjoint and
         partition index ascends with the sort key, so global rank =
         (rows in earlier ranges) + (rank within my range);
      2. per-partition row counts (``num_partitions`` rows) → cumulative
         offsets, a driver-side fold over a bounded fetch;
      3. per-partition ``row_number()`` windows keyed by the partition
         id — ``num_partitions`` independent window groups in parallel,
         never one.

    Rows per window group ≈ |df|/num_partitions — size num_partitions so
    a group fits an executor. Ties in ``order_by`` are broken by the
    range placement, so pass a key set that is unique (the usual id-
    assignment contract) for a deterministic result."""
    cols = [F.col(c) for c in order_by]
    # localCheckpoint freezes the sampled range boundaries: the offsets
    # job and the final plan must see the SAME partition ids, and
    # RangePartitioner re-samples per execution. (Production id
    # assignment materializes the ranged table anyway — ids are an
    # artifact you write once, not a view you recompute.)
    ranged = own(
        df.repartitionByRange(num_partitions, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = sorted(
        (r["__pid"], r["n"])
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off_df = ranged.sparkSession.createDataFrame(offsets, "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn(id_col, F.row_number().over(w).cast("long") + F.col("__off"))
        .drop("__pid", "__off")
    )
