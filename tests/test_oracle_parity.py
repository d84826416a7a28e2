"""Every queries() entry with an oracle must match DuckDB at sf0.001.

This mirrors the driver's CORRECTNESS gate locally (the driver runs the same
comparison at sf0.01); tests run at sf0.001 for speed. Queries without an
oracle get a rows-run smoke check.
"""

from __future__ import annotations

import pytest

from high_volume_market_data_pipeline_spark.queries import ORACLE_SQL, QUERIES

from .conftest import SF_DIR, assert_matches_oracle


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, oracle):
    conf_before = dict(spark.conf.getAll)
    df = QUERIES[name](spark, SF_DIR)
    if name in ORACLE_SQL:
        assert_matches_oracle(df, oracle, ORACLE_SQL[name])
    else:
        # rows-only smoke: runs and yields a stable schema
        assert df.columns
        df.collect()
    # every query leaves the session conf as it found it
    assert dict(spark.conf.getAll) == conf_before


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and df.columns
    assert set(e.oracle_sql()) <= set(e.queries())
