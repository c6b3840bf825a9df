"""Parquet table loaders for the driver-generated TPC-H-ish testdata.

One parquet file per table under ``{sf_dir}/{name}.parquet`` (TESTDATA.md).
Loading stays fully declarative (``spark.read.parquet``) so Catalyst performs
column pruning and predicate pushdown into the scan — the two optimizations
the reference engine conspicuously lacks (it HGETALLs every field of every
row per client; ``/root/reference/sse.py:148-152``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make the loader self-contained under ANY SparkSession.

    Historical testdata generations carried ``TIMESTAMP(NANOS)`` events,
    which vanilla Spark rejects with PARQUET_TYPE_ILLEGAL unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set; current generations
    carry ``timestamp[us]`` without a timezone, which Spark 4 would read as
    TIMESTAMP_NTZ — a type that forbids the epoch casts the catalog uses
    and diverges from DuckDB's naive-timestamp semantics.  Disabling NTZ
    inference reads them as plain TIMESTAMP under the UTC session, the same
    values either way.  All three are runtime-settable SQL confs, so set
    them here rather than relying on the builder in ``session.py`` —
    callers (e.g. an external harness) may inject their own plain session.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # TIMESTAMP(NANOS) parquet read as long via
        # spark.sql.legacy.parquet.nanosAsLong; truncate to micros (same as
        # DuckDB's nanos->micros coercion) and restore the timestamp type.
        # integer div: a double `/ 1000` loses ulp-level precision at e18 ns
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df

