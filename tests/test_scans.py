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


def test_registry_query_reads_rewritten_corpus(spark, tmp_path):
    """A registry query over a corpus directory that is rewritten in
    place returns the new rows, through the registry wrapper and when
    called directly: no DataFrame outside ``cached_parquet`` outlives
    a call."""
    from promptner_spark.plans.queries import QUERIES, q_dedup_exact

    sf_dir = str(tmp_path)
    path = f"{sf_dir}/documents.parquet"

    def groups(run):
        return sorted((r["n_docs"], r["keeper_id"])
                      for r in run(spark, sf_dir).collect())

    # doc_id % 10 == 0 gains a +1M copy, so doc 0 (and 10) form groups
    spark.createDataFrame([(0, "a"), (1, "b"), (2, "b")],
                          "doc_id long, text string") \
        .write.parquet(path)
    assert groups(QUERIES["q_dedup_exact"]) == [(2, 0), (2, 1)]
    assert groups(q_dedup_exact) == [(2, 0), (2, 1)]
    spark.createDataFrame([(10, "c"), (11, "d"), (12, "c"), (13, "e")],
                          "doc_id long, text string") \
        .write.mode("overwrite").parquet(path)
    assert groups(QUERIES["q_dedup_exact"]) == [(3, 10)]
    assert groups(q_dedup_exact) == [(3, 10)]
