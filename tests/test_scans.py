"""scans.cached_parquet: the scan memo must never serve a plan over a
file that was rewritten in place."""

from __future__ import annotations

import pandas as pd


def _ids(df):
    return sorted(r[0] for r in df.select("id").collect())


def test_rewritten_file_reads_new_rows(spark, tmp_path):
    from promptner_spark.scans import cached_parquet

    path = str(tmp_path / "t.parquet")
    pd.DataFrame({"id": [1, 2, 3]}).to_parquet(path)
    first = cached_parquet(spark, path)
    assert _ids(first) == [1, 2, 3]
    assert cached_parquet(spark, path) is first  # unchanged file: memo hit
    pd.DataFrame({"id": [7, 8, 9, 10, 11]}).to_parquet(path)
    assert _ids(cached_parquet(spark, path)) == [7, 8, 9, 10, 11]


def test_rewritten_directory_reads_new_rows(spark, tmp_path):
    from promptner_spark.scans import cached_parquet

    path = str(tmp_path / "d.parquet")
    spark.createDataFrame([(i,) for i in range(4)], "id long") \
        .write.parquet(path)
    assert _ids(cached_parquet(spark, path)) == [0, 1, 2, 3]
    spark.createDataFrame([(i,) for i in range(10, 16)], "id long") \
        .write.mode("overwrite").parquet(path)
    assert _ids(cached_parquet(spark, path)) == list(range(10, 16))
