"""Physical-plan regression tests (SURVEY.md §4.2): the optimizations
the engine relies on at 100 TB must be visible in the plan, not
assumed — predicate pushdown and column pruning reach the parquet
scan, dictionary joins stay broadcast, and the fuzzy band expressions
never sink below the vocabulary aggregate (the pushdown pathology
fixed in operators/linking.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def _executed_plans(spark, run) -> list[str]:
    """Physical plans of every SQL execution ``run()`` starts, from the
    SQL status store (for work a stage boundary materializes inside a
    call, where the returned frame only shows the read-back)."""
    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    run()
    lst = store.executionsList()
    return [lst.apply(i).physicalPlanDescription()
            for i in range(lst.size())
            if lst.apply(i).executionId() >= before]


def test_filter_and_projection_pushed_to_scan(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .where(F.col("lang") == "en").select("doc_id", "lang")
    plan = _plan(docs)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: the wide text column never leaves the scan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "text" not in read_schema[0]


def test_alias_join_is_broadcast(spark, sf_dir):
    from promptner_spark.operators import linking
    from promptner_spark.plans.queries import _oracle_mentions

    m = _oracle_mentions(spark, sf_dir)
    plan = _plan(linking.link_exact(m, linking.alias_df(spark)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pipeline_mention_stream_never_sort_merge_joined(spark, sf_dir):
    from promptner_spark.plans.pipeline import build_pipeline

    res = build_pipeline(spark, sf_dir)
    plan = _plan(res.linked, mode="simple")
    res.unpersist()
    # the mention STREAM joins the resolution dict via broadcast-hash —
    # it must never be shuffled on its (Zipf-skewed) surface key.
    # SortMergeJoins inside the vocabulary-level subplans (band join,
    # NIL anti-join) are fine: both sides are vocab-sized and AQE
    # converts them at runtime.
    assert "BroadcastHashJoin [m_norm_key" in plan
    assert "SortMergeJoin [m_norm_key" not in plan


@pytest.mark.parametrize("portable", [False, True])
def test_fuzzy_bands_stay_above_vocab_aggregate(spark, sf_dir, portable):
    """Regression for the predicate-pushdown pathology: the MinHash
    band expression must appear only ABOVE the vocabulary distinct
    (InMemoryRelation boundary), never in the pre-aggregate scan of
    the raw mention stream. Parametrized over BOTH band families —
    the barrier is the persist, and q_pipeline_triples runs the
    portable (md5) family, so it must hold there too."""
    from promptner_spark.operators import linking
    from promptner_spark.plans.queries import _oracle_mentions

    m = _oracle_mentions(spark, sf_dir)
    res = linking.build_resolution(m, linking.alias_df(spark), fuzzy=True,
                                   portable_fuzzy=portable)
    optimized = res._jdf.queryExecution().optimizedPlan().toString()
    # the vocabulary/materialization boundary exists: a persisted
    # relation (InMemoryRelation) or, since r6, the eager
    # localCheckpoint's LogicalRDD — both are absolute pushdown
    # barriers (nothing can be pushed below materialized rows)
    assert ("InMemoryRelation" in optimized) or ("LogicalRDD" in optimized)
    band_marker = "md5" if portable else "xxhash64"
    for line in optimized.splitlines():
        if band_marker in line:
            # any band computation must be above an InMemoryRelation
            # scan, i.e. no Aggregate appears BELOW it in its subtree —
            # cheap structural proxy: band exprs and the raw mention
            # UDF never share a line/fragment
            assert "MapInPandas" not in line


def test_inference_stage_repartitions_by_url_hash(spark, sf_dir):
    from promptner_spark.operators.infer import extract_mentions
    from promptner_spark.sources.pages import pages_with_extracted_text
    from promptner_spark.sources.sentences import split_sentences

    sents = split_sentences(pages_with_extracted_text(spark, sf_dir))
    plan = _plan(extract_mentions(sents, partitions=7), mode="simple")
    assert "REPARTITION_BY_NUM" in plan
    assert "hashpartitioning(hash(url" in plan


def test_wholestage_codegen_covers_textstats(spark, sf_dir):
    from promptner_spark.plans.queries import QUERIES

    plan = _plan(QUERIES["q_textstats"](spark, sf_dir), mode="simple")
    # no Python in the hot path of the pure-expression analytics
    # (pre-execution AQE plans don't render WholeStageCodegen spans,
    # so absence-of-Python is the codegen-eligibility proxy)
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    # column pruning reached the scan
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "struct<text:string,lang:string>" in scan[0]


def test_span_f1_runs_one_inference_stage(spark, sf_dir):
    """q_span_f1 derives the perturbed predictor from the persisted
    gold mention table — exactly ONE MapInPandas (inference) stage in
    the whole plan, not two (round-1 ran the UDF chain twice)."""
    from promptner_spark.plans.queries import q_span_f1

    import re

    df = q_span_f1(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # r4: pred spans are derived row-wise from the gold rows (explode
    # of per-row TP/FP/FN contributions), so the single inference
    # chain is consumed by exactly ONE downstream aggregate — no cache
    # boundary needed, and the whole query is one Spark job
    assert plan.count("MapInPandas") == 1, plan.count("MapInPandas")
    ids = set(re.findall(r"MapInPandas (fused\(.*?\)#\d+)", plan))
    assert len(ids) == 1, ids


def test_bucketed_similarity_joins_are_equi_joins(spark, sf_dir):
    """The LSH candidate restrictions must plan as (table, bucket)
    equi-joins — never a cartesian/broadcast-nested-loop blowup. The
    brute-force cosine_topk is the ONLY operator allowed a BNLJ (it
    is the documented small-query-set baseline)."""
    from promptner_spark.plans.queries import QUERIES

    for name in ("q_embdup_lsh", "q_knn_lsh"):
        plan = _plan(QUERIES[name](spark, sf_dir), mode="simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_pmi_marginals_are_broadcast(spark, sf_dir):
    """pmi_edges joins the (vocabulary-sized) marginal counts back
    onto the pair table via broadcast — the pair relation must never
    be re-shuffled on entity name for them."""
    from promptner_spark.plans.queries import q_pmi

    plan = _plan(q_pmi(spark, sf_dir), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin [subj" not in plan
    assert "SortMergeJoin [obj" not in plan


def test_predicate_triples_single_exchange(spark):
    """predicate_triples is one groupBy: exactly one shuffle exchange
    above the input; pair generation + token slicing stay in-row."""
    from promptner_spark.operators.triples import predicate_triples

    mentions = spark.createDataFrame(
        [("u", 0, 0, 1, "spark", "spark reads the table")],
        "url string, sent_id int, begin int, end int, surface string, "
        "text string")
    plan = _plan(predicate_triples(mentions), mode="simple")
    # one hashpartitioning exchange (the groupBy); no join at all
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_registry_queries_release_caches(spark, sf_dir):
    """Driver-session cache hygiene (r2 verdict #6): a registry query
    may persist intermediates (its operators' eager localCheckpoints),
    but the NEXT registry call must release every one of them. The
    per-query checks compare RDD ids, not a bare count, so a
    ContextCleaner sweep of an earlier test's blocks cannot move the
    baseline."""
    from promptner_spark.plans.queries import QUERIES, _release_pending

    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs()
                   .keySet().toArray())

    _release_pending()
    base = n_cached()
    QUERIES["q_hot_surfaces"](spark, sf_dir).count()
    assert n_cached() > base  # the mention cache is live (by design)
    QUERIES["q_pricing"](spark, sf_dir).count()  # wrapper drains it
    assert n_cached() == base
    _release_pending()  # idempotent
    assert n_cached() == base
    for name in ("q_prep", "q_pagerank", "q_pipeline_triples"):
        before = persisted()
        QUERIES[name](spark, sf_dir).count()
        assert persisted() - before, name   # its boundaries are live
        QUERIES["q_pricing"](spark, sf_dir).count()
        assert persisted() - before == set(), name


def test_persisted_by_releases_a_failed_build(spark):
    """A build that raises leaves none of the blocks it persisted."""
    from promptner_spark.plans.checkpoint import persisted_by

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs()
                   .keySet().toArray())

    def failing():
        spark.range(3).localCheckpoint(eager=True)
        raise RuntimeError("build failed")

    before = persisted()
    with pytest.raises(RuntimeError):
        persisted_by(spark, failing)
    assert persisted() - before == set()


def test_resolution_nil_antijoin_is_broadcast(spark, sf_dir):
    """r6: the NIL anti-join's fuzzy side must broadcast — the
    checkpointed vocabulary has no size stats, and without the hint
    the planner picked a SortMergeJoin (2 exchanges + 2 sorts) for a
    vocabulary-bounded right side. Materialization happens inside
    build_resolution, so the shape is read from the SQL listener's
    executed plans rather than the returned (checkpoint-truncated)
    frame."""
    from promptner_spark.operators import linking
    from promptner_spark.plans.queries import _oracle_mentions

    joined = "\n".join(_executed_plans(
        spark, lambda: linking.build_resolution(
            _oracle_mentions(spark, sf_dir), linking.alias_df(spark),
            fuzzy=True)))
    assert "SortMergeJoin" not in joined
    assert "BroadcastHashJoin" in joined


def test_every_wiring_runs_the_keyed_emit(spark, sf_dir, tmp_path):
    """The triples stage aggregates eids, never names, under both
    boundary policies: the emit dictionary comes from the named
    resolution stage, which run_pipeline writes like any other stage."""
    from promptner_spark.plans.checkpoint import (
        read_manifest, stage_is_complete,
    )
    from promptner_spark.plans.pipeline import build_pipeline, run_pipeline

    def keyed(plan: str) -> bool:
        return ("collect_set(eid" in plan
                and "collect_set(entity_name" not in plan)

    res = build_pipeline(spark, sf_dir)
    assert keyed(_plan(res.triples))
    res.unpersist()

    root = str(tmp_path / "ckpt")
    plans = _executed_plans(
        spark, lambda: run_pipeline(spark, sf_dir, checkpoint_root=root))
    emits = [p for p in plans if "collect_set" in p]
    assert emits and all(keyed(p) for p in emits)
    assert stage_is_complete(root, "resolution")
    assert read_manifest(spark, root, "resolution").count() > 0
