"""Steady-state codegen: once a plan has run, running it again in the
same session compiles nothing. Spark's compiled-class cache holds 100
classes by default and one q_prep needs about 101, so at the default
every repeat evicted and recompiled 30-54 classes (and the JVM then
JIT-compiled them again). ``session.CODEGEN_CACHE_ENTRIES`` sizes the
cache to the library's working set."""

from __future__ import annotations

from promptner_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiled


def _compiled_by(spark, run) -> int:
    before = codegen_compiled(spark)[0]
    run()
    return codegen_compiled(spark)[0] - before


def test_session_sets_codegen_cache_size(spark):
    assert (spark.conf.get("spark.sql.codegen.cache.maxEntries")
            == str(CODEGEN_CACHE_ENTRIES))


def test_codegen_counter_counts_a_new_plan(spark):
    from pyspark.sql import functions as F
    # constants no other plan uses: a class the cache cannot hold yet
    df = spark.range(7).select((F.col("id") * 31 + 5).alias("cg_probe_31"))
    classes0, secs0 = codegen_compiled(spark)
    assert sorted(r[0] for r in df.collect())[0] == 5
    classes1, secs1 = codegen_compiled(spark)
    assert classes1 > classes0 and secs1 > secs0


def test_warm_q_prep_compiles_nothing(spark, sf_dir):
    from promptner_spark.plans.queries import QUERIES
    runs = [_compiled_by(spark, lambda: QUERIES["q_prep"](spark, sf_dir)
                         .toPandas()) for _ in range(3)]
    assert runs[2] == 0, runs


def test_second_pipeline_build_compiles_nothing(spark, sf_dir):
    from promptner_spark.plans.pipeline import build_pipeline

    def build():
        res = build_pipeline(spark, sf_dir)
        try:
            res.triples.collect()
        finally:
            res.unpersist()
    runs = [_compiled_by(spark, build) for _ in range(2)]
    assert runs[1] == 0, runs


def test_every_registry_query_compiles_without_fallback(spark, sf_dir):
    """Whole-stage codegen falls back to interpreted evaluation
    silently (a logged "Code grows beyond 64 KB" and a much slower
    plan) while ``spark.sql.codegen.fallback`` is true. With it off,
    such a fallback raises, so every registry query must run with it
    off. A runtime SQL conf: set on the shared session, restored after."""
    from promptner_spark.plans.queries import QUERIES

    key = "spark.sql.codegen.fallback"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    failed = {}
    try:
        for name, query in QUERIES.items():
            try:
                query(spark, sf_dir).collect()
            except Exception as exc:  # report every failing query
                # the JVM trace's last "Caused by" names the root cause
                causes = [ln.strip() for ln in str(exc).splitlines()
                          if ln.strip().startswith("Caused by")]
                failed[name] = (causes or [str(exc)])[-1][:300]
    finally:
        spark.conf.set(key, prior)
    assert not failed, "\n".join(f"{n}: {m}" for n, m in failed.items())
