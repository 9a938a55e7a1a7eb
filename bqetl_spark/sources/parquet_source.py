"""Parquet table loading for the driver's TPC-H-ish star schema.

Columnar scans give column pruning + predicate pushdown for free — the plan
should show ``PushedFilters``/``ReadSchema`` restricted to what the query
touches. At 100 TB the same code path reads a partitioned lake directory;
nothing here assumes local files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from bqetl_spark.sources.inferred import inferred_schema
from bqetl_spark.sources.json_source import namespace_columns

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def ensure_ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to TIMESTAMP (LTZ).

    Spark 4's parquet reader infers tz-less parquet timestamps as
    TIMESTAMP_NTZ (``spark.sql.parquet.inferTimestampNTZ.enabled`` defaults
    to true), but watermarks, ``unix_micros`` and the window/time functions
    require the LTZ type. The engine pins the session to UTC semantics, so
    the cast is value-preserving and matches DuckDB's naive timestamps."""
    ntz = [f.name for f in df.schema.fields
           if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _ltz_scan_conf(spark: SparkSession) -> None:
    # scan-level fix: read tz-less parquet timestamps as LTZ directly so no
    # extra Project node lands between the scan and downstream pushdown
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    # schema from the session memo: no footer job when the files are
    # unchanged since this session last inferred them
    return spark.read.schema(inferred_schema(spark, "parquet", path)).parquet(path)


def load_parquet_table(spark: SparkSession, sf_dir: str, name: str,
                       namespace: bool = False) -> DataFrame:
    _ltz_scan_conf(spark)
    df = ensure_ltz(_read_parquet(spark, f"{sf_dir.rstrip('/')}/{name}.parquet"))
    return namespace_columns(df, name) if namespace else df


def load_star(spark: SparkSession, sf_dir: str,
              tables: tuple[str, ...] = STAR_TABLES) -> dict[str, DataFrame]:
    return {t: (load_events(spark, sf_dir) if t == "events"
                else load_parquet_table(spark, sf_dir, t)) for t in tables}


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table stores TIMESTAMP(NANOS), which Spark's parquet reader
    rejects by default. Read nanos as long (runtime conf) and convert to a
    microsecond timestamp — DuckDB's CAST(ts AS TIMESTAMP) truncates the same
    way, so the two engines agree."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _ltz_scan_conf(spark)
    df = _read_parquet(spark, f"{sf_dir.rstrip('/')}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        # integer division: `/` is double division, and a nanosecond epoch
        # (~1.7e18) exceeds double's 2^53 integer range → off-by-1µs rows
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return ensure_ltz(df)


def load_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory written by multiple pipeline versions — the
    schema-evolution path (columns added over time). ``mergeSchema``
    unions all footer schemas (one footer read per file, driver-side);
    rows from files that predate a column surface SQL NULL for it, which
    is exactly the reference's missing-JSON-field behavior
    (JSONReader.java:86-94) carried to the lake.

    Cost note for 100 TB: schema merging reads every footer at planning
    time — on tables with millions of files, prefer a declared schema
    (``spark.read.schema(...)``), which this loader family already
    supports; mergeSchema is for the version-skew window during a rolling
    pipeline upgrade."""
    _ltz_scan_conf(spark)
    return ensure_ltz(
        spark.read.option("mergeSchema", "true").parquet(path))
