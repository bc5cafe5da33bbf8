"""Source/sink adapter tests (SURVEY.md §2.1): csv round-trip, idempotent
and partitioned table writes, the observed write, the JDBC sink."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import from_collection

from alibaba_cppfeaturestore_spark.sources.readers import read_csv, read_parquet
from alibaba_cppfeaturestore_spark.sources.writers import write_table


def test_csv_roundtrip_with_schema(spark, tmp_path):
    path = str(tmp_path / "csv_rt")
    df = from_collection(
        spark, [(1, "a"), (2, "b"), (3, None)], schema="id INT, name STRING"
    )
    df.write.option("header", True).csv(path)
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("name", T.StringType())]
    )
    back = read_csv(spark, path, schema=schema, header=True)
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b"), (3, None)}


def test_write_table_mode_ignore_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df1 = from_collection(spark, [(1,)], schema="v INT")
    df2 = from_collection(spark, [(2,)], schema="v INT")
    write_table(df1, path, mode="ignore")
    write_table(df2, path, mode="ignore")  # second write skipped
    assert [r["v"] for r in read_parquet(spark, path).collect()] == [1]


def test_write_table_partition_by_prunes(spark, tmp_path):
    path = str(tmp_path / "part")
    df = from_collection(spark, [(1, "x"), (2, "y")], schema="v INT, grp STRING")
    write_table(df, path, mode="overwrite", partition_by=["grp"])
    assert os.path.isdir(os.path.join(path, "grp=x"))
    back = read_parquet(spark, path).filter(F.col("grp") == "x")
    # partition filter must prune to one directory
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == 1


def test_write_with_metrics_single_job_audit(spark, tmp_path):
    from alibaba_cppfeaturestore_spark.sources.writers import write_with_metrics

    path = str(tmp_path / "audited")
    df = from_collection(
        spark,
        [(i, None if i % 5 == 0 else float(i)) for i in range(100)],
        schema="id INT, v DOUBLE",
    )
    got = write_with_metrics(
        df,
        path,
        metrics={
            "n_rows": F.count(F.lit(1)),
            "n_null_v": F.count(F.lit(1)) - F.count("v"),
            "sum_id": F.sum("id"),
        },
    )
    assert got == {"n_rows": 100, "n_null_v": 20, "sum_id": sum(range(100))}
    assert spark.read.parquet(path).count() == 100


def test_write_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """S4 (reference batch_process_Silver_to_Gold.py:166-172): the REAL
    JDBC write path, exercised against embedded Derby (ships in Spark's
    jars — no external server needed). Overwrite replaces, append adds;
    read-back goes through the same JDBC relation."""
    from alibaba_cppfeaturestore_spark.sources.writers import write_jdbc

    url = f"jdbc:derby:{tmp_path}/featdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    df = from_collection(
        spark, [(1, "click"), (2, "view")], schema="user_id INT, event STRING"
    )
    write_jdbc(df, url, "features", properties=props)
    back = spark.read.jdbc(url, "features", properties=props)
    assert sorted((r[0], r[1]) for r in back.collect()) == [(1, "click"), (2, "view")]

    write_jdbc(
        from_collection(spark, [(3, "purchase")], schema="user_id INT, event STRING"),
        url, "features", mode="append", properties=props,
    )
    assert spark.read.jdbc(url, "features", properties=props).count() == 3

    write_jdbc(
        from_collection(spark, [(9, "reset")], schema="user_id INT, event STRING"),
        url, "features", mode="overwrite", properties=props,
    )
    back = spark.read.jdbc(url, "features", properties=props)
    assert [(r[0], r[1]) for r in back.collect()] == [(9, "reset")]
