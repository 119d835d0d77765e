"""SQL-literal frames (``operators/util.py``): doubles round-trip exactly,
non-finite doubles render as valid SQL, aliases are quoted, and ints
outside BIGINT are refused instead of emitting invalid SQL."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import types as T

from lithops_dataframe_spark.operators.util import doubles_sql, one_row_frame, sql_scalar_literal, values_frame

DOUBLES = [
    0.1,
    -0.0,
    1.0 / 3.0,
    5e-324,
    2.2250738585072014e-308,
    1.7976931348623157e308,
    -123456.789e-12,
    float("nan"),
    float("inf"),
    float("-inf"),
]


def _same(a: float, b: float) -> bool:
    if math.isnan(a):
        return math.isnan(b)
    return struct.pack(">d", a) == struct.pack(">d", b)


def test_values_frame_doubles_round_trip(spark):
    rows = values_frame(spark, [(i, v) for i, v in enumerate(DOUBLES)], "i long, x double").collect()
    got = {r["i"]: r["x"] for r in rows}
    for i, v in enumerate(DOUBLES):
        assert _same(v, got[i]), (v, got[i])


def test_one_row_frame_doubles_round_trip(spark):
    row = one_row_frame(
        spark,
        arr=doubles_sql(DOUBLES),
        **{f"x{i}": sql_scalar_literal(v) for i, v in enumerate(DOUBLES)},
    ).collect()[0]
    for i, v in enumerate(DOUBLES):
        assert _same(v, row[f"x{i}"]), (v, row[f"x{i}"])
        assert _same(v, row["arr"][i]), (v, row["arr"][i])


def test_values_frame_quotes_aliases(spark):
    schema = T.StructType([T.StructField("select", T.LongType()), T.StructField("a`b", T.StringType())])
    df = values_frame(spark, [(1, "p")], schema)
    assert df.columns == ["select", "a`b"]
    row = df.collect()[0]
    assert (row["select"], row["a`b"]) == (1, "p")


def test_values_frame_bigint_range(spark):
    lo, hi = -(2**63), 2**63 - 1
    rows = values_frame(spark, [(lo,), (hi,)], "v long").collect()
    assert sorted(r["v"] for r in rows) == [lo, hi]
    with pytest.raises(ValueError, match="BIGINT"):
        values_frame(spark, [(2**63,)], "v long")
    with pytest.raises(ValueError, match="BIGINT"):
        sql_scalar_literal(-(2**63) - 1)
