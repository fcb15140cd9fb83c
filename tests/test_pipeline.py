"""Pipeline-level invariants (SURVEY.md §5.2 items 3, 6 + resume).

- byte-identical text extraction per url (north_rule invariant);
- fused extract_mentions ≡ the unfused parse → align → explode chain
  run driver-side (the fusion is a pure physical optimization);
- triple set independent of partition count (determinism across
  parallelism levels);
- run_pipeline resumes from checkpoint without recomputing completed
  stages;
- build_pipeline, run_pipeline and batch_triple_counts (one stage
  graph, two boundary policies) give identical triple counts.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_extraction_byte_identical(spark, sf_dir):
    from promptner_spark.sources.pages import pages_with_extracted_text

    pages = pages_with_extracted_text(spark, sf_dir)
    n = pages.count()
    assert n > 0
    assert pages.where(~F.col("extract_ok")).count() == 0


def test_fused_equals_unfused(spark, sf_dir):
    """The fused mapInPandas extractor equals the unfused chain run
    driver-side: the default backend's answers for the collected
    sentences → parse.predict_tags → oracle.spans.tags_to_mentions."""
    from promptner_spark.functions.prompts import PromptSpec
    from promptner_spark.operators.infer import _make_generate, extract_mentions
    from promptner_spark.operators.model import default_backend_factory
    from promptner_spark.operators.parse import predict_tags
    from promptner_spark.oracle.spans import tags_to_mentions
    from promptner_spark.sources.pages import pages_with_extracted_text
    from promptner_spark.sources.sentences import split_sentences

    sentences = split_sentences(pages_with_extracted_text(spark, sf_dir))
    fused = extract_mentions(sentences, partitions=3)
    sents = sentences.select("url", "sent_id", "text").collect()
    generate = _make_generate(default_backend_factory(), PromptSpec())
    raws = generate([r["text"] for r in sents])
    unfused = sorted(
        (r["url"], r["sent_id"], mid, m["surface"], m["begin"], m["end"],
         m["type"])
        for r, raw in zip(sents, raws)
        for mid, m in enumerate(tags_to_mentions(
            r["text"].lower().split(" "), predict_tags(r["text"], raw))))
    cols = ["url", "sent_id", "mention_id", "surface", "begin", "end", "type"]
    got = _rows(fused, cols)
    assert got == unfused
    assert len(got) > 0
    for i, c in enumerate(cols):   # no column is empty on every row
        assert any(row[i] not in (None, "") for row in got), c


def test_triples_partition_invariant(spark, sf_dir):
    from promptner_spark.plans.pipeline import build_pipeline

    a = build_pipeline(spark, sf_dir, partitions=2)
    b = build_pipeline(spark, sf_dir, partitions=16)
    cols = ["subj", "pred", "obj", "url", "sent_id"]
    ra, rb = _rows(a.triples, cols), _rows(b.triples, cols)
    a.unpersist(), b.unpersist()
    assert ra == rb
    assert len(ra) > 0


def test_emit_triples_keyed_equals_string_plan(spark, sf_dir):
    """The long-keyed pair emission (eids through the exchange, names
    reattached post-agg by broadcast) is a pure physical optimization:
    exact same triple rows as the oracle-replayable string plan."""
    from promptner_spark.operators import linking, triples as triples_op
    from promptner_spark.operators.infer import extract_mentions
    from promptner_spark.sources.pages import pages_with_extracted_text
    from promptner_spark.sources.sentences import split_sentences

    sentences = split_sentences(pages_with_extracted_text(spark, sf_dir))
    mentions = extract_mentions(sentences).persist()
    mentions.count()
    resolution = linking.build_resolution(mentions, linking.alias_df(spark))
    canonical = linking.attach_resolution(mentions, resolution)
    assert "eid" in canonical.columns   # vocab-side precompute arrived
    name_dict = resolution.select("eid", "entity_name").distinct()
    keyed = triples_op.emit_triples(canonical, name_dict=name_dict)
    plain = triples_op.emit_triples(canonical.drop("eid"))
    cols = ["subj", "pred", "obj", "url", "sent_id"]
    rk, rp = _rows(keyed, cols), _rows(plain, cols)
    mentions.unpersist()
    assert rk == rp
    assert len(rk) > 0


def test_run_pipeline_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    from promptner_spark.plans.checkpoint import stage_is_complete
    from promptner_spark.plans.pipeline import run_pipeline

    root = str(tmp_path / "ckpt")
    res1 = run_pipeline(spark, sf_dir, checkpoint_root=root)
    counts1 = _rows(res1.triple_counts, ["subj", "pred", "obj", "n_sents"])
    assert stage_is_complete(root, "mentions")
    assert stage_is_complete(root, "triples")

    # simulate a crash after the mentions stage: wipe every later stage
    for stage in ("linked", "nodes", "triples", "triple_counts"):
        marker = os.path.join(root, stage, "_SUCCESS_STAGE")
        if os.path.exists(marker):
            os.remove(marker)
    mentions_marker_mtime = os.path.getmtime(
        os.path.join(root, "mentions", "_SUCCESS_STAGE"))

    res2 = run_pipeline(spark, sf_dir, checkpoint_root=root)
    counts2 = _rows(res2.triple_counts, ["subj", "pred", "obj", "n_sents"])
    assert counts1 == counts2
    # completed stage was NOT recomputed (marker untouched)
    assert os.path.getmtime(os.path.join(
        root, "mentions", "_SUCCESS_STAGE")) == mentions_marker_mtime


def test_unpersist_frees_every_block_the_build_persisted(spark, sf_dir):
    """PipelineResult.unpersist frees the mention boundary AND
    linking's vocabulary and resolution checkpoints: no RDD the build
    persisted survives it (RDD ids, not a bare count, so a
    ContextCleaner sweep of an earlier test's blocks cannot move the
    baseline)."""
    from promptner_spark.plans.pipeline import build_pipeline

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs()
                   .keySet().toArray())

    before = persisted()
    res = build_pipeline(spark, sf_dir)
    assert persisted() - before   # the boundaries are live
    res.unpersist()
    assert persisted() - before == set()


def test_three_wirings_give_identical_triple_counts(spark, sf_dir, tmp_path):
    """The flagship stage graph under each boundary policy: the
    in-memory build, the resumable parquet run and the streaming
    upkeep's per-batch tail return the same triple counts."""
    from promptner_spark.plans.pipeline import build_pipeline, run_pipeline
    from promptner_spark.sources.pages import pages_with_extracted_text
    from promptner_spark.streaming.incremental import batch_triple_counts

    cols = ["subj", "pred", "obj", "n_sents", "n_docs"]
    built = build_pipeline(spark, sf_dir)
    in_memory = _rows(built.triple_counts, cols)
    built.unpersist()
    parquet = _rows(run_pipeline(
        spark, sf_dir, checkpoint_root=str(tmp_path / "ckpt")).triple_counts,
        cols)
    batch = _rows(batch_triple_counts(
        pages_with_extracted_text(spark, sf_dir)), cols)
    assert in_memory == parquet
    assert in_memory == batch
    assert len(in_memory) == 77   # sf0.001


def test_nil_merge_through_the_pipeline(spark, sf_dir):
    """build_pipeline(nil_merge=True) end to end: a gazetteer that also
    tags two near-duplicate phrases of the sf0.001 text that no alias
    covers ("group agg", "group a") makes two NIL surfaces the
    resolution dictionary merges into one entity. The counts are the
    ones the per-row merge over the mention stream gave (102 unmerged,
    90 merged)."""
    from promptner_spark.operators.gazetteer import GAZETTEER
    from promptner_spark.operators.model import GazetteerBackend
    from promptner_spark.plans.pipeline import build_pipeline

    gaz = {**GAZETTEER, "group agg": "OP", "group a": "OP"}

    def factory():
        return GazetteerBackend(gaz)

    got = {}
    for nil_merge in (False, True):
        res = build_pipeline(spark, sf_dir, backend_factory=factory,
                             nil_merge=nil_merge)
        names = {r["entity_name"] for r in res.nodes.collect()}
        got[nil_merge] = (res.triple_counts.count(),
                          names & {"group agg", "group a"})
        res.unpersist()
    assert got[False] == (102, {"group agg", "group a"})
    assert got[True] == (90, {"group a"})


def test_manifest_records_partition_metrics(spark, sf_dir, tmp_path):
    from promptner_spark.plans.checkpoint import read_manifest
    from promptner_spark.plans.pipeline import run_pipeline

    root = str(tmp_path / "ckpt")
    res = run_pipeline(spark, sf_dir, checkpoint_root=root)
    n_mentions = res.mentions.count()
    man = read_manifest(spark, root, "mentions")
    agg = man.agg(F.sum("output_rows").alias("rows"),
                  F.min("status").alias("status")).collect()[0]
    assert agg["rows"] == n_mentions
    assert agg["status"] == "ok"


def test_extraction_recovers_text_from_html_when_text_null(spark, sf_dir):
    """input_hint allows pages where only ``html`` is populated; the
    extractor must recover the byte-identical text from the markup."""
    from promptner_spark.sources.pages import extract_text, synthesize_pages

    pages = synthesize_pages(spark, sf_dir).limit(20)
    nulled = pages.select(
        "url", "html", F.col("text").alias("expected")
    ).withColumn("text", F.lit(None).cast("string"))
    out = nulled.select(
        "url", "expected",
        F.coalesce(F.col("text"), extract_text(F.col("html"))).alias("got"))
    assert out.where(F.col("got") != F.col("expected")).count() == 0
    assert out.count() == 20


def test_with_verify_pipeline_keeps_rows_and_types(spark, sf_dir):
    """SP3 in-pipeline: the verification pass must neither drop
    mentions nor (with the self-consistent deterministic backend)
    change any type — so the triple set is identical."""
    from promptner_spark.plans.pipeline import build_pipeline

    plain = build_pipeline(spark, sf_dir, with_verify=False)
    verified = build_pipeline(spark, sf_dir, with_verify=True)
    cols = ["subj", "pred", "obj", "url", "sent_id"]
    a = _rows(plain.triples, cols)
    b = _rows(verified.triples, cols)
    plain.unpersist(), verified.unpersist()
    assert a == b and len(a) > 0


def test_link_mentions_salted_fallback_equals_broadcast(spark, sf_dir):
    """Broadcast size guard: with max_broadcast_vocab exceeded, the
    resolution join degrades to the salted shuffle join and produces
    identical links (strategy-independence, like q_link_salted)."""
    from promptner_spark.operators import linking
    from promptner_spark.operators.infer import extract_mentions
    from promptner_spark.sources.pages import pages_with_extracted_text
    from promptner_spark.sources.sentences import split_sentences

    sentences = split_sentences(pages_with_extracted_text(spark, sf_dir))
    mentions = extract_mentions(sentences).persist()
    aliases = linking.alias_df(spark)
    cols = ["url", "sent_id", "mention_id", "surface", "entity_id",
            "canonical_name"]
    bcast = linking.link_mentions(mentions, aliases)
    salted = linking.link_mentions(mentions, aliases,
                                   max_broadcast_vocab=0, salt=4)
    rb, rs = _rows(bcast, cols), _rows(salted, cols)
    mentions.unpersist()
    assert rb == rs and len(rb) > 0


def test_checkpoint_graph_tables_are_bucket_partitioned(spark, sf_dir, tmp_path):
    """north_star partitioned-graph-table discipline: mentions/linked
    are url-hash-bucketed, triples subject-hash-bucketed; a per-bucket
    read prunes at the source (PartitionFilters, not a post-scan
    filter)."""
    import os

    from promptner_spark.plans.pipeline import run_pipeline

    root = str(tmp_path / "ckpt_part")
    run_pipeline(spark, sf_dir, checkpoint_root=root, n_buckets=4)
    for stage in ("mentions", "linked", "triples"):
        data = os.path.join(root, stage, "data")
        subdirs = [d for d in os.listdir(data) if d.startswith("bucket=")]
        assert subdirs, f"{stage} not partitioned"

    t = spark.read.parquet(os.path.join(root, "triples", "data")) \
        .where(F.col("bucket") == 2)
    plan = t._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan \
        or "PartitionFilters: [" in plan and "bucket" in plan
    # bucket assignment is the documented hash, so routing is stable
    got = t.select("subj", "bucket").distinct().collect()
    assert all(r["bucket"] == 2 for r in got)


def test_iceberg_writer_is_catalog_gated(spark):
    """write_stage_iceberg activates only behind a configured Iceberg
    catalog (none in this sandbox): the gate reports False and the
    writer refuses with a clear error instead of a deep Spark failure."""
    import pytest

    from promptner_spark.plans.checkpoint import (
        iceberg_available, write_stage_iceberg,
    )

    assert iceberg_available(spark) is False
    df = spark.range(3)
    with pytest.raises(RuntimeError, match="no Iceberg catalog"):
        write_stage_iceberg(df, "local.db.t")
