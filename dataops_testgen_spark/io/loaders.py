"""Parquet loaders tolerant of nanosecond timestamps.

Spark's vectorized parquet reader rejects INT64 TIMESTAMP(NANOS) columns
(PARQUET_TYPE_ILLEGAL). We read them as raw longs
(``spark.sql.legacy.parquet.nanosAsLong``) and convert to microsecond
timestamps — sub-microsecond precision is not used by any operator here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]

# Columns stored as TIMESTAMP(NANOS) in the driver-generated parquet.
_NANO_TS_COLUMNS = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _NANO_TS_COLUMNS.get(name, []):
        if col in df.columns and isinstance(df.schema[col].dataType, T.LongType):
            df = df.withColumn(col, F.timestamp_micros((F.col(col) / 1000).cast("long")))
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def file_listing(df: DataFrame) -> list[tuple[str, int, int]] | None:
    """``(path, length, modification time ms)`` of every file ``df`` reads,
    sorted, from the listing its file relations took when they were
    resolved: no Spark job and no file-system call. None when a leaf of
    the plan is not a file relation (rows built on the driver, a JDBC
    source) or the relations hold no file."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    files = []
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = leaf.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        listed = rel.location().allFiles().iterator()
        while listed.hasNext():
            st = listed.next()
            files.append((st.getPath().toString(), st.getLen(),
                          st.getModificationTime()))
    return sorted(files) or None
