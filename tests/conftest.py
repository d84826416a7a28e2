"""Shared test fixtures: one local SparkSession + the DuckDB oracle harness.

The harness mirrors the driver's correctness gate (see __spark_entry__.py):
row-count + sorted-column-name schema + order-insensitive value comparison
between the Spark result and DuckDB running the oracle SQL on the same
parquet files.
"""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from high_volume_market_data_pipeline_spark.catalog import TABLES
from high_volume_market_data_pipeline_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TEST_CPUS = os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", TEST_CPUS)
    spark = build_session(
        app_name="hvmdp-tests",
        master=f"local[{TEST_CPUS}]",
        shuffle_partitions=8,
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


def canon_value(v):
    """Canonicalize a cell so Spark and DuckDB results compare exactly."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, Decimal):
        f = float(v)
        return str(int(f)) if f == int(f) and abs(f) < 1e15 else repr(f)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        "\x1f".join(canon_value(r[i]) for i in order) for r in rows
    )


def assert_matches_oracle(spark_df, con, sql):
    """Row count + sorted column names + order-insensitive values."""
    res = con.execute(sql)
    o_cols = [d[0] for d in res.description]
    o_rows = res.fetchall()
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    assert sorted(s_cols) == sorted(o_cols), (
        f"schema mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    )
    assert len(s_rows) == len(o_rows), (
        f"rowcount mismatch: spark={len(s_rows)} oracle={len(o_rows)}"
    )
    s_canon = canon_rows(s_cols, s_rows)
    o_canon = canon_rows(o_cols, o_rows)
    mismatches = [
        (a, b) for a, b in zip(s_canon, o_canon) if a != b
    ]
    assert not mismatches, f"value mismatch ({len(mismatches)} rows), first: {mismatches[0]}"


def rewrite_in_older_format(table, version: int, where: str, shape: str) -> str:
    """Rewrite ``version``'s manifest of a VersionedParquetTable in an
    older shape — without ``format`` (``shape="no_format"``) or with
    format 0 — either as the trailing loose file (``where="loose_tail"``)
    or inside a fresh checkpoint chunk (``"checkpoint"``; the loose copy
    stays current, so a replay fallback would read fine). Returns the
    damaged file's name."""
    import json

    def older(m: dict) -> dict:
        m = dict(m)
        if shape == "no_format":
            del m["format"]
        else:
            m["format"] = 0
        return m

    if where == "loose_tail":
        name = f"{version:08d}.json"
        path = os.path.join(table.log_dir, name)
        with open(path) as fh:
            m = json.load(fh)
        with open(path, "w") as fh:
            json.dump(older(m), fh)
        return name
    name = table.checkpoint()
    path = os.path.join(table.log_dir, name)
    with open(path) as fh:
        cp = json.load(fh)
    cp["manifests"] = [
        older(m) if m["version"] == version else m for m in cp["manifests"]
    ]
    with open(path, "w") as fh:
        json.dump(cp, fh)
    return name
