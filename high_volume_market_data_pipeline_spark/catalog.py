"""Table loading for the driver's TPC-H-ish testdata (TESTDATA.md).

Thin, declarative parquet-scan wrappers — filters/column pruning are
left to Catalyst so pushdown reaches the scan (``PushedFilters`` /
``ReadSchema`` in .explain). Mirrors the reference's layer scans S6/S7
(bronze_to_silver_crypto.py:55-58, check_bronze_data.py:21-22) generalized to
any named table in a scale-factor directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from high_volume_market_data_pipeline_spark.sources.readers import read_parquet

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """``events.ts`` as a session-TZ (UTC) TimestampType, so operators and
    DuckDB oracles agree. Parquet TIMESTAMP(NANOS) arrives as ``bigint``
    nanos (``build_session`` sets ``nanosAsLong``) and is truncated to
    micros; TIMESTAMP(MICROS) without isAdjustedToUTC arrives as
    TIMESTAMP_NTZ, which disallows long casts and breaks every
    downstream operator's LTZ assumption."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one testdata table (S7: ``readers.read_parquet``,
    which reuses Spark's inferred schema while the file is unchanged), with
    ``events.ts`` normalized by ``normalize_event_ts``.

    The testdata ships ``ts`` as TIMESTAMP(MICROS). A TIMESTAMP(NANOS)
    file reads on a session from ``build_session``; any other session
    reads it only if it sets ``spark.sql.legacy.parquet.nanosAsLong``
    itself (the vectorized reader rejects NANOS otherwise).
    """
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_event_ts(df) if name == "events" else df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works too."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def register_catalog_tables(
    spark: SparkSession, sf_dir: str, database: str = "hvmdp"
) -> list[str]:
    """K6: persistent catalog registration (main_pipeline.py:189-218
    analogue): CREATE DATABASE IF NOT EXISTS → external tables over the
    parquet locations → verified SHOW TABLES. Works against the default
    in-memory catalog or a configured Hive metastore alike
    (session.build_metastore_session for the persistent Derby-backed one)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        spark.sql(f"DROP TABLE IF EXISTS {database}.{name}")
        spark.sql(
            f"CREATE TABLE {database}.{name} USING PARQUET "
            f"LOCATION '{path}'"
        )
    registered = [
        r.tableName for r in spark.sql(f"SHOW TABLES IN {database}").collect()
    ]
    missing = set(TABLES) - set(registered)
    if missing:
        raise RuntimeError(f"catalog registration incomplete: missing {missing}")
    return registered
