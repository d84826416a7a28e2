"""Tests: HTTP source (fake transport), typed row ingestion, JSON parsing,
catalog registration (K6)."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from high_volume_market_data_pipeline_spark.catalog import (
    TABLES,
    load_table,
    normalize_event_ts,
    register_catalog_tables,
)
from high_volume_market_data_pipeline_spark.session import job_mark, scoped_conf
from high_volume_market_data_pipeline_spark.sources import readers
from high_volume_market_data_pipeline_spark.sources.http_source import (
    fetch_paged_json,
)
from high_volume_market_data_pipeline_spark.sources.readers import (
    json_strings_to_df,
    read_parquet,
    rows_to_df,
)

from .conftest import SF_DIR

SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("price", DoubleType(), True),
    ]
)


def _fake_fetch(url: str) -> bytes:
    page = int(url.rsplit("=", 1)[1])
    return json.dumps(
        [{"id": f"coin-{page}-{i}", "price": float(i)} for i in range(3)]
    ).encode()


def test_fetch_paged_json_pages_and_validates():
    rows = fetch_paged_json(
        "http://api.test/coins?page={page}",
        pages=2,
        fetch=_fake_fetch,
        required_keys=("id", "price"),
    )
    assert len(rows) == 6
    assert rows[0]["id"] == "coin-1-0"

    with pytest.raises(ValueError, match="missing keys"):
        fetch_paged_json(
            "http://api.test/coins?page={page}",
            pages=1,
            fetch=_fake_fetch,
            required_keys=("id", "nope"),
        )

    with pytest.raises(ValueError, match="expected JSON list"):
        fetch_paged_json(
            "x?page={page}", pages=1, fetch=lambda u: b'{"not": "a list"}'
        )


def test_rows_to_df_drops_null_keys(spark):
    rows = [
        {"id": "a", "price": 1.0},
        {"id": None, "price": 2.0},
    ]
    df = rows_to_df(spark, rows, SCHEMA, drop_if_null=["id"])
    assert [r.id for r in df.collect()] == ["a"]


def test_json_strings_parse_with_schema(spark):
    df = json_strings_to_df(
        spark, ['{"id": "x", "price": 9.5}', '{"id": "y"}'], SCHEMA
    )
    got = {(r.id, r.price) for r in df.collect()}
    assert got == {("x", 9.5), ("y", None)}


def test_register_catalog_tables(spark):
    registered = register_catalog_tables(spark, SF_DIR, database="hvmdp_test")
    assert set(TABLES) <= set(registered)
    n = spark.sql("SELECT count(*) AS n FROM hvmdp_test.region").collect()[0].n
    assert n == 5


def test_json_strings_corrupt_capture(spark):
    """Malformed JSON must surface in the corrupt column (dead-letter
    path), not vanish silently."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from high_volume_market_data_pipeline_spark.sources.readers import (
        json_strings_to_df,
    )

    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    rows = ['{"id": 1, "name": "ok"}', "{not json at all", '{"id": 2}']
    df = json_strings_to_df(spark, rows, schema, corrupt_col="_corrupt")
    got = {r["id"]: (r["name"], r["_corrupt"]) for r in df.collect()}
    assert got[1] == ("ok", None)
    assert got[2] == (None, None)  # valid JSON, missing field → null field
    assert got[None][1] == "{not json at all"  # malformed → captured raw


def test_read_csv_schema_and_dead_letter(spark, tmp_path):
    """CSV scan: explicit schema (no inference pass), malformed lines
    captured raw in the corrupt column instead of silently nulled."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from high_volume_market_data_pipeline_spark.sources.readers import read_csv

    p = tmp_path / "in.csv"
    p.write_text("id,name\n1,ok\nnot_a_number,bad\n2,fine\n")
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    df = read_csv(spark, str(p), schema, corrupt_col="_corrupt")
    rows = df.collect()
    good = {r["id"]: r["name"] for r in rows if r["_corrupt"] is None}
    bad = [r["_corrupt"] for r in rows if r["_corrupt"] is not None]
    assert good == {1: "ok", 2: "fine"}
    assert bad == ["not_a_number,bad"]


def test_orc_roundtrip_partitioned(spark, tmp_path):
    """ORC write (K1 with fmt='orc') → read_orc roundtrip preserves rows
    and hive-partition layout."""
    from high_volume_market_data_pipeline_spark.sinks.writers import (
        write_partitioned_overwrite,
    )
    from high_volume_market_data_pipeline_spark.sources.readers import read_orc

    df = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")], "id long, v string, day string"
    )
    out = str(tmp_path / "orc_tbl")
    write_partitioned_overwrite(df, out, "day", fmt="orc")
    import os

    assert sorted(
        d for d in os.listdir(out) if d.startswith("day=")
    ) == ["day=d1", "day=d2"]
    back = read_orc(spark, out)
    assert {(r["id"], r["v"], r["day"]) for r in back.collect()} == {
        (1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2"),
    }


def test_schema_diff_and_align(spark):
    """Drift detection + explicit evolution policy: added columns null-fill
    backward, removed columns drop (or survive with keep_extra), retyped
    columns flag the append as incompatible."""
    from pyspark.sql import functions as F

    from high_volume_market_data_pipeline_spark.operators import (
        align_to_schema,
        schema_diff,
    )

    table = spark.createDataFrame(
        [(1, "a", 1.5)], "id long, sym string, price double"
    )
    batch = spark.createDataFrame(
        [(2, "b", 7, "x")], "id long, sym string, vol long, extra string"
    )
    d = schema_diff(table.schema, batch.schema)
    assert d.added == ["extra", "vol"]
    assert d.removed == ["price"]
    assert d.retyped == [] and d.is_compatible_append

    aligned = align_to_schema(batch, table.schema)
    assert aligned.columns == ["id", "sym", "price"]
    row = aligned.collect()[0]
    assert row["price"] is None and row["id"] == 2
    assert table.unionByName(aligned).count() == 2

    widened = align_to_schema(batch, table.schema, keep_extra=True)
    assert widened.columns == ["id", "sym", "price", "vol", "extra"]

    retyped = spark.createDataFrame([(1, "a", "not-a-number")],
                                    "id long, sym string, price string")
    d2 = schema_diff(table.schema, retyped.schema)
    assert d2.retyped == [("price", "double", "string")]
    assert not d2.is_compatible_append

    # align casts when asked anyway (explicit policy, not silent rewrite)
    cast_back = align_to_schema(retyped, table.schema)
    assert cast_back.schema["price"].dataType.simpleString() == "double"
    assert cast_back.select(F.col("price").isNull()).collect()[0][0]


def test_paged_feed_datasource_batch_parallel_and_deterministic(spark):
    """Spark-4 Python DataSource for paged feeds: one task per page span
    (the fetch is executor-parallel, unlike the reference's sequential
    driver loop), deterministic synthetic pages, full rowcount."""
    from pyspark.sql import functions as F

    from high_volume_market_data_pipeline_spark.sources.api_datasource import (
        register_paged_feed,
    )

    register_paged_feed(spark)
    rd = (
        spark.read.format("paged_feed")
        .option("pages", 6)
        .option("page_size", 50)
    )
    df = rd.load()
    assert df.count() == 300
    # one input partition per page (pages_per_task default 1)
    n_parts = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert n_parts == 6
    again = rd.load()
    assert df.exceptAll(again).count() == 0
    assert again.exceptAll(df).count() == 0
    # page spans coalesce: 3 tasks of 2 pages each
    spans = (
        spark.read.format("paged_feed")
        .option("pages", 6)
        .option("page_size", 50)
        .option("pages_per_task", 2)
        .load()
    )
    assert (
        spans.select(F.spark_partition_id().alias("p")).distinct().count() == 3
    )
    assert spans.count() == 300


def test_paged_feed_datasource_stream_advances_page_offsets(spark):
    """Streaming side: offsets are page numbers; draining the feed yields
    every page exactly once (replayable micro-batches)."""
    from high_volume_market_data_pipeline_spark.sources.api_datasource import (
        register_paged_feed,
    )

    register_paged_feed(spark)
    sdf = (
        spark.readStream.format("paged_feed")
        .option("pages", 4)
        .option("page_size", 10)
        .load()
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("paged_feed_stream")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("paged_feed_stream")
    assert got.count() == 40
    pages = sorted(r.page for r in got.select("page").distinct().collect())
    assert pages == [1, 2, 3, 4]


def test_read_xml_rowtag_with_and_without_schema(spark, tmp_path):
    """XML ingestion (Spark 4 built-in source): rowTag extraction,
    attribute columns, and the explicit-schema path (the production one —
    inference is a full extra pass, same rule as CSV/JSON)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from high_volume_market_data_pipeline_spark.sources.readers import read_xml

    p = tmp_path / "feed.xml"
    p.write_text(
        "<quotes>"
        '<quote venue="X"><sym>BTC</sym><px>42000.5</px><qty>3</qty></quote>'
        '<quote venue="Y"><sym>ETH</sym><px>2500.25</px><qty>7</qty></quote>'
        "</quotes>"
    )
    inferred = read_xml(spark, str(p), row_tag="quote")
    rows = {(r["sym"], float(r["px"]), r["_venue"]) for r in inferred.collect()}
    assert rows == {("BTC", 42000.5, "X"), ("ETH", 2500.25, "Y")}

    schema = StructType(
        [
            StructField("_venue", StringType()),
            StructField("sym", StringType()),
            StructField("px", DoubleType()),
            StructField("qty", LongType()),
        ]
    )
    typed = read_xml(spark, str(p), row_tag="quote", schema=schema)
    assert typed.schema == schema
    assert typed.count() == 2


def test_load_table_reuses_inferred_schema(spark):
    """A second load of an unchanged table runs no footer-read job and
    plans with the schema Spark inferred, nullability included."""
    for name in TABLES:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        first = load_table(spark, SF_DIR, name).schema
        mark = job_mark(spark)
        second = load_table(spark, SF_DIR, name).schema
        assert job_mark(spark) == mark, name
        plain = spark.read.parquet(path)
        if name == "events":
            plain = normalize_event_ts(plain)
        assert second == first == plain.schema, name


def test_read_parquet_reinfers_rewritten_file(spark, tmp_path):
    """A file rewritten with an extra column reads with its new schema."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_read_parquet_reinfers_under_inference_conf(spark, tmp_path):
    """An inference conf is part of the key: binaryAsString set through
    scoped_conf reads a binary column as string, and as binary again once
    the scope ends."""
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    assert read_parquet(spark, path).schema["b"].dataType == BinaryType()
    with scoped_conf(spark, {"spark.sql.parquet.binaryAsString": "true"}):
        df = read_parquet(spark, path)
        assert df.schema["b"].dataType == StringType()
        assert df.collect()[0]["b"] == "x"
    assert read_parquet(spark, path).schema["b"].dataType == BinaryType()


def test_read_parquet_directory_and_uri_not_cached(spark, tmp_path):
    """A directory and a ``file:`` URI read as before, with no schema
    kept for either."""
    d = str(tmp_path / "dir")
    spark.range(3).write.parquet(d)
    f = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"id": [7]}), f)
    uri = f"file://{f}"
    assert sorted(r["id"] for r in read_parquet(spark, d).collect()) == [0, 1, 2]
    assert [r["id"] for r in read_parquet(spark, uri).collect()] == [7]
    assert d not in readers._inferred_schemas
    assert f not in readers._inferred_schemas
