"""Fixture/table loaders for the driver's star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet each under an
``sf_dir`` such as ``/root/testdata/sf0.01``.

Schema contract: ``load_table`` memoizes each table's parquet SCHEMA,
keyed on the absolute path, a stat stamp of the file (or of every file
under a directory table) and the session's schema-inference confs
(``PARQUET_INFERENCE_CONFS``). A memo hit reads with that schema, so the
footer-inference job Spark otherwise fires per read does not run.
DataFrames and file listings are NOT memoized: every call builds a fresh
relation with fresh attribute ids (self-joins stay unambiguous) and Spark
lists the files again, so pruning, pushdown and size statistics are those
of an uncached read. A path ``os.stat`` cannot see (s3a://, gs://, ...)
is read with inference every time.

Scale notes: parquet scans get column pruning + predicate pushdown from
Catalyst for free; loaders never collect or cache data. At 100 TB the
same loaders point at partitioned parquet/object-store layouts — Spark's
Hadoop FS connectors (s3a://, gs://, abfss://) replace the local paths
transparently (reference analog: the IBM-COS object URL in
``/root/reference/dataframe/io.py:80-85``).
"""

from __future__ import annotations

import copy
import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions whose row count is CONSTANT in SF — the only tables the query
# library ever broadcast-hints. supplier/customer/part scale linearly with
# SF and are deliberately excluded: their joins are AQE-sized (broadcast
# while they fit the threshold, shuffle at 100 TB).
BROADCAST_DIMS = ("region", "nation")


# Session confs that change the schema Spark infers from parquet footers.
PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# abs path -> (stat stamp, inference confs, schema); one entry per path, so
# a rewritten or re-configured table replaces its own entry.
_SCHEMAS: dict[str, tuple[object, tuple, StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _stat_stamp(path: str):
    """``(inode, mtime_ns, size)`` of a file; for a directory, the sorted
    ``(relative name, inode, mtime_ns, size)`` of every file beneath it.
    None when ``os.stat`` cannot see the path (remote URIs, missing)."""

    def stamp(st):
        return (st.st_ino, st.st_mtime_ns, st.st_size)

    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return stamp(st)
        return tuple(
            sorted(
                (os.path.relpath(full, path), *stamp(os.stat(full)))
                for root, _dirs, files in os.walk(path)
                for full in (os.path.join(root, f) for f in files)
            )
        )
    except (OSError, ValueError):
        return None


def _read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that skips footer inference when the
    path's stat stamp and the inference confs match a previous read."""
    stamp = _stat_stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    confs = tuple(spark.conf.get(k) for k in PARQUET_INFERENCE_CONFS)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp and hit[1] == confs:
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    # a copy: df.schema is the caller's own (mutable) StructType
    _SCHEMAS[key] = (stamp, confs, copy.deepcopy(df.schema))
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """The events-table contract normalizer (batch AND streaming inputs):

    - ts: parquet TIMESTAMP(NANOS) → read as long nanos
      (spark.sql.legacy.parquet.nanosAsLong) and truncate to micros,
      matching DuckDB's ns→µs truncation in the oracle.
    - value: non-finite measurement policy (r12 edge class) — NaN/±Inf
      map to NULL (missing measurement) at first touch. Real streams
      carry them (sensor glitches, upstream division artifacts) and the
      engines disagree structurally: ANSI cents-exact casts crash on
      BOTH engines, and where nothing crashes the comparison/ordering
      semantics fork (Spark NaN > x is TRUE and NaN sorts largest;
      DuckDB follows IEEE in comparisons). NULL routes every downstream
      statistic through the NULL-skip machinery both engines agree on.
      The oracle twin is the shadowing CTE every events oracle gets in
      plans/registry.py::register.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from lithops_dataframe_spark.operators.util import finite_or_null

    if isinstance(df.schema["ts"].dataType, T.LongType):
        # integer `div`, not floor(x/1000): double division loses ulps at
        # ~1.7e18 ns and shifts some timestamps by 1 µs vs the oracle.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("value", finite_or_null("value"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS); Spark refuses it unless the
        # legacy nanos-as-long conf is on. Set it here (runtime-settable SQL
        # conf) so ANY SparkSession — including the driver's, which doesn't use
        # our session builder — can read the table.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet_memo(spark, table_path(sf_dir, name))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Register each table as a temp view so ``spark.sql`` works on them."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
