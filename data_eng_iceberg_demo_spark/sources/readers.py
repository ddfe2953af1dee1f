"""File sources: Parquet (primary fixture format), CSV and JSON-lines.

Reference parallels: the tutorial's CSV external-source pattern
(``header='true'``, ``delimiter=';'``, gzip file — README.md:186-193) and its
typed ``INSERT INTO ... SELECT CAST(...)`` ingest (README.md:199-208) are
covered by :func:`read_csv` plus caller-side casts.

Scale notes: ``spark.read.parquet`` gives the vectorized Parquet reader with
predicate pushdown and column pruning; a filter declared on the returned
DataFrame reaches the scan as ``PushedFilters``.  Never collect here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# The committed fixtures (pedidos CSV, events_sample JSON-lines), found
# from the package's own location so a copy of the repo reads its own.
FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
        __file__)))), "tests", "fixtures")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (columnar, pushdown-capable scan); events.ts
    comes out as a plain TimestampType (:func:`normalize_events_ts`)."""
    # Without the nanosAsLong conf a caller-provided session (not built by
    # session.get_spark) fails a NANOS scan outright with
    # PARQUET_TYPE_ILLEGAL before the int64 fallback can run.  load() is
    # also a public entry point outside the registry wrapper, so it
    # applies the defaults itself.
    from ..session import ensure_session_defaults
    ensure_session_defaults(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_events_ts(df) if name == "events" else df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """The one events.ts rule, for batch reads and streams alike: the
    column has shipped as TIMESTAMP(NANOS), which Spark reads only as
    int64 nanos (spark.sql.legacy.parquet.nanosAsLong), and as naive
    TIMESTAMP(MICROS), read as TIMESTAMP_NTZ; both become TimestampType.
    The session timezone is UTC (ensure_session_defaults), so the NTZ
    cast keeps wall-clock time and matches the naive DuckDB oracle."""
    import pyspark.sql.functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def read_csv(spark: SparkSession, path: str, sep: str = ";",
             header: bool = True, schema=None) -> DataFrame:
    """CSV scan with the reference's options (README.md:186-193).

    gzip decompression is transparent.  Without ``schema`` all columns are
    strings (the reference then casts explicitly, README.md:199-208).
    """
    reader = spark.read.option("header", str(header).lower()).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json_lines(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
