"""Scan/ingestion sources (S2/S3/S6/S7).

The reference's HTTP source (S1, extract_crypto_data.py:79-107) is a
driver-side fetch feeding ``createDataFrame`` — reproduced here as
``rows_to_df`` over any iterable of dicts (the transport is the caller's
concern; at scale an HTTP poll belongs in a foreachBatch loop or an external
ingestion tier, never inside executors).
"""

from __future__ import annotations

import os
import stat
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def rows_to_df(
    spark: SparkSession,
    rows: Iterable[dict],
    schema: StructType,
    drop_if_null: list[str] | None = None,
) -> DataFrame:
    """S2: typed in-memory rows → DataFrame. Null-key filtering is done
    engine-side (na.drop) instead of the reference's driver-side loop
    (extract_crypto_data.py:165-168 → SURVEY P6). Ingestion uses a
    nullable-relaxed copy of the schema so dirty rows reach the engine and
    are dropped there (createDataFrame enforces nullability at the gate)."""
    relaxed = StructType(
        [StructField(f.name, f.dataType, True) for f in schema.fields]
    )
    df = spark.createDataFrame(list(rows), relaxed)
    if drop_if_null:
        df = df.na.drop(subset=drop_if_null)
    return df


def json_strings_to_df(
    spark: SparkSession,
    json_strings: list[str],
    schema: StructType | None = None,
    corrupt_col: str | None = None,
) -> DataFrame:
    """S3: JSON strings → DataFrame. With a schema, parse via from_json
    (no inference job — the scale path); without, fall back to inference
    like the reference's quick path (fast_pipeline.py:24-26).

    ``corrupt_col``: when set, malformed rows are NOT silently nulled —
    they surface with their raw text in this column (and nulls elsewhere)
    so a dead-letter sink can keep them. A dropped bad record at 100 TB is
    an invisible data-loss bug; a captured one is a queue to reprocess.
    """
    if schema is None:
        return spark.read.json(spark.sparkContext.parallelize(json_strings))
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    raw = spark.createDataFrame([(s,) for s in json_strings], ["_raw"])
    if not corrupt_col:
        return raw.select(F.from_json("_raw", schema).alias("j")).select("j.*")
    # PERMISSIVE from_json yields an all-null struct for malformed input —
    # indistinguishable from valid all-null JSON. The corrupt-record field
    # (columnNameOfCorruptRecord) disambiguates: set only on parse failure.
    widened = StructType(
        [*schema.fields, StructField(corrupt_col, StringType(), True)]
    )
    parsed = raw.select(
        F.from_json(
            "_raw", widened, {"columnNameOfCorruptRecord": corrupt_col}
        ).alias("j")
    )
    return parsed.select("j.*")


# Session confs that change the schema Spark infers from a parquet footer.
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)
# absolute path -> (file stat + inference confs, schema Spark inferred)
_inferred_schemas: dict[str, tuple[tuple, StructType]] = {}


def _inference_key(spark: SparkSession, path: str) -> tuple | None:
    """What Spark's inferred schema for ``path`` depends on: the file's
    identity and contents (inode, size, mtime, ctime) and the inference
    confs. None when ``path`` is not one plain local file (a directory,
    a glob, or nothing there: a URI fails ``stat``), which is never
    cached."""
    if any(c in path for c in "*?[]{}\\"):
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    confs = tuple(spark.conf.get(k, None) for k in _PARQUET_INFERENCE_CONFS)
    return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns, confs)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S6/S7: parquet table scan (pruning/pushdown to Catalyst).

    Without a schema Spark runs a one-task job per read to infer one from
    a file footer. For a single local file the schema Spark inferred is
    kept and passed back to ``spark.read.schema`` while the file's stat
    and the inference confs are unchanged, so a repeated scan of the same
    file plans without a job. Spark stays the only inference rule; any
    change to the key re-infers."""
    # the key is taken before the read: a file that changes while Spark
    # infers leaves an entry under its old stat, which no later read matches
    key = _inference_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    abspath = os.path.abspath(path)
    hit = _inferred_schemas.get(abspath)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _inferred_schemas[abspath] = (key, df.schema)
    return df


def read_json(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    corrupt_col: str | None = None,
) -> DataFrame:
    """CSV scan with an explicit schema (inference would add a full extra
    pass over the files — never at scale). With ``corrupt_col``, malformed
    lines surface with their raw text in that column (PERMISSIVE +
    columnNameOfCorruptRecord, same dead-letter contract as
    json_strings_to_df) instead of silently nulling."""
    from pyspark.sql.types import StringType

    reader = spark.read.option("header", str(header).lower())
    if corrupt_col:
        widened = StructType(
            [*schema.fields, StructField(corrupt_col, StringType(), True)]
        )
        return (
            reader.schema(widened)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt_col)
            .csv(path)
        )
    return reader.schema(schema).csv(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: StructType | None = None,
) -> DataFrame:
    """XML scan via Spark 4's built-in ``xml`` source (one row per
    ``row_tag`` element; attributes surface as ``_attr`` columns). Pass a
    schema in production — like CSV/JSON, inference costs a full extra
    pass over the files. Feeds like any other frame; vendor feeds that
    still ship XML (many market-data providers do) land without a
    preprocessing hop."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC table scan — same pruning/pushdown contract as parquet (both
    are columnar; Catalyst pushes filters and prunes columns either way)."""
    return spark.read.orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-asset ingestion via Spark's built-in ``binaryFile`` source:
    one row per file with (path, modificationTime, length, content binary) —
    the scan that feeds the multimodal pipeline (multimodal/binary_ops
    expects exactly this opaque-binary + metadata shape).

    Scale notes: ``length``/``path``/``modificationTime`` come from file
    STATUS, so metadata-only queries (count, size histograms, partitioning
    decisions) never read payload bytes — project without ``content`` and
    the scan skips the data entirely. ``max_bytes`` pushes a length filter
    into the source (pathGlobFilter/maxFileSize-style pruning) so oversized
    assets are excluded before any byte is fetched; each file must still fit
    in one row (~2 GB JVM array ceiling) — chunk bigger objects upstream."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df
