"""write_single_csv (K4/K5): one bounded take on the pandas branch, every
row on both branches, and the same rows whichever branch writes them."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from high_volume_market_data_pipeline_spark.session import job_mark
from high_volume_market_data_pipeline_spark.sinks.writers import write_single_csv

N_ROWS = 40


def _sorted_report(spark, tmp_path):
    """A date-partitioned parquet table read back and sorted: the shape of
    the gold report export."""
    src = str(tmp_path / "table")
    spark.range(N_ROWS).select(
        F.col("id").alias("k"),
        (F.col("id") * 0.25).alias("v"),
        F.date_add(F.lit("2024-06-01").cast("date"), (F.col("id") % 5).cast("int"))
        .alias("d"),
    ).write.partitionBy("d").parquet(src)
    return spark.read.parquet(src).orderBy(F.desc("k"))


def test_pandas_branch_is_one_job_in_order(spark, tmp_path):
    df = _sorted_report(spark, tmp_path)
    out = str(tmp_path / "report.csv")
    j0 = job_mark(spark)
    write_single_csv(df, out)
    assert job_mark(spark) - j0 == 1
    got = pd.read_csv(out)
    assert list(got.columns) == ["k", "v", "d"]
    assert list(got.k) == list(range(N_ROWS - 1, -1, -1))


def test_coalesce_branch_writes_the_same_rows(spark, tmp_path):
    """Below the row count, via_pandas_max_rows sends the input to the K5
    write; it still writes every row, the same rows as the pandas branch."""
    df = _sorted_report(spark, tmp_path)
    small, large = str(tmp_path / "pandas.csv"), str(tmp_path / "coalesce.csv")
    write_single_csv(df, small)
    write_single_csv(df, large, via_pandas_max_rows=N_ROWS // 4)

    def rows(path):
        return sorted(map(tuple, pd.read_csv(path).itertuples(index=False)))

    assert [r[0] for r in rows(large)] == list(range(N_ROWS))
    assert rows(large) == rows(small)
