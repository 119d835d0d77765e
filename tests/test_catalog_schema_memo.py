"""``catalog.load_table`` memoizes parquet schemas, not DataFrames.

A memo hit must skip the footer-inference job, yet still see a rewritten
table, honour the schema-inference confs, and hand out a fresh relation
per call so self-joins stay unambiguous.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lithops_dataframe_spark.catalog import load_table, table_path


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _write(sf_dir, name: str, table: pa.Table) -> None:
    pq.write_table(table, table_path(str(sf_dir), name))


def test_second_load_fires_no_job(spark, sf_dir):
    load_table(spark, sf_dir, "orders")
    before = _next_job_id(spark)
    df = load_table(spark, sf_dir, "orders")
    assert _next_job_id(spark) - before == 0
    assert "o_orderkey" in df.columns


def test_rewritten_table_is_reinferred(spark, tmp_path):
    _write(tmp_path, "t", pa.table({"a": pa.array([1, 2], pa.int64())}))
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    _write(tmp_path, "t", pa.table({"b": ["x"], "c": pa.array([1.5], pa.float64())}))
    df = load_table(spark, str(tmp_path), "t")
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        ("b", T.StringType()),
        ("c", T.DoubleType()),
    ]
    assert df.collect()[0]["b"] == "x"


def test_binary_as_string_conf_is_part_of_the_key(spark, tmp_path):
    _write(tmp_path, "bin", pa.table({"blob": pa.array([b"hi"], pa.binary())}))
    conf = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert load_table(spark, str(tmp_path), "bin").schema["blob"].dataType == T.BinaryType()
        spark.conf.set(conf, "true")
        df = load_table(spark, str(tmp_path), "bin")
        assert df.schema["blob"].dataType == T.StringType()
        assert df.collect()[0]["blob"] == "hi"
    finally:
        spark.conf.set(conf, old)
    assert load_table(spark, str(tmp_path), "bin").schema["blob"].dataType == (
        T.StringType() if old == "true" else T.BinaryType()
    )


def test_two_loads_self_join_unambiguous(spark, sf_dir):
    n1 = load_table(spark, sf_dir, "nation")
    n2 = load_table(spark, sf_dir, "nation")
    joined = n1.join(n2, n1["n_regionkey"] == n2["n_regionkey"]).select(
        n1["n_nationkey"].alias("a"), n2["n_nationkey"].alias("b")
    )
    pairs = joined.groupBy().agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
    per_region = n1.groupBy("n_regionkey").count().collect()
    assert pairs == sum(r["count"] ** 2 for r in per_region)
