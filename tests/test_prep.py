"""End-to-end prep funnel (operators/prep.py): composition
properties over the real sf0.001 corpus — token conservation from the
curate survivors into the shard manifest, decontamination actually
removing a planted benchmark hit, mixture toggling, and cache
release. Stage-level semantics live in the stages' own test files."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from promptner_spark.functions.textstats import token_count
from promptner_spark.operators.curate import curate_kept
from promptner_spark.operators.prep import prepare_training_data


def _corpus(spark, sf_dir):
    return (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .select("doc_id", "lang", "text"))


def test_tokens_conserved_and_each_doc_packed_once(spark, sf_dir):
    docs = _corpus(spark, sf_dir)
    res = prepare_training_data(docs, shard_budget=200, bucket_bits=2)
    packed = res.packed.collect()
    manifest = res.manifest.collect()
    kept = curate_kept(docs)
    expect = {r["doc_id"]: r["n_tok"] for r in kept.select(
        "doc_id", token_count(F.col("text")).alias("n_tok")).collect()}
    got = {r["doc_id"]: r["n_tok"] for r in packed}
    assert got == expect                       # once each, exact counts
    assert sum(m["n_tokens"] for m in manifest) == sum(expect.values())
    assert sum(m["n_docs"] for m in manifest) == len(expect)
    # lang survives the funnel for the write job's partitioning
    assert {r["lang"] for r in packed} <= {"en", "de", "fr", "es", "zh"}


def test_bench_hit_is_removed(spark, sf_dir):
    docs = _corpus(spark, sf_dir)
    base = prepare_training_data(docs, shard_budget=200, bucket_bits=2)
    survivors = {r["doc_id"] for r in base.packed.collect()}
    victim = sorted(survivors)[0]
    victim_text = docs.where(F.col("doc_id") == victim) \
        .collect()[0]["text"]
    bench = docs.sparkSession.createDataFrame(
        [(0, victim_text)], ["bench_id", "text"])
    res = prepare_training_data(docs, bench=bench, decon_n=13,
                                shard_budget=200, bucket_bits=2)
    after = {r["doc_id"] for r in res.packed.collect()}
    assert victim not in after
    assert after < survivors                   # strictly fewer, same pool


def test_write_training_shards_roundtrip(spark, sf_dir, tmp_path):
    from promptner_spark.operators.prep import write_training_shards

    docs = _corpus(spark, sf_dir)
    res = prepare_training_data(docs, shard_budget=200, bucket_bits=2)
    manifest = {m["shard_id"]: (m["n_docs"], m["n_tokens"])
                for m in res.manifest.collect()}
    write_training_shards(res, str(tmp_path))
    back = spark.read.parquet(str(tmp_path / "shards"))
    got = {r["shard_id"]: (r["n"], r["t"]) for r in
           back.groupBy("shard_id")
               .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("t"))
               .collect()}
    assert got == manifest
    stored = {m["shard_id"]: (m["n_docs"], m["n_tokens"])
              for m in spark.read.parquet(str(tmp_path / "manifest"))
              .collect()}
    assert stored == manifest
    assert "text" in back.columns and "lang" in back.columns


def test_q_prep_plan_has_no_cartesian_or_python(spark):
    from promptner_spark.plans.queries import QUERIES

    df = QUERIES["q_prep"](spark, os.path.join(
        os.path.dirname(os.environ.get("SPARK_GRAFT_TESTDATA",
                                       "/root/testdata")),
        "testdata", "sf0.001"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Python" not in plan          # whole funnel is JVM codegen


def test_mixture_zero_rate_empties_the_shards(spark, sf_dir):
    docs = _corpus(spark, sf_dir)
    res = prepare_training_data(
        docs, mixture={lang: 0.0 for lang in
                       ("en", "de", "fr", "es", "zh")},
        shard_budget=200, bucket_bits=2)
    assert res.manifest.count() == 0
