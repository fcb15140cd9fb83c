"""End-to-end corpus curation — the canonical LLM-training-data prep
job, composed from the engine's own primitives as ONE declarative
Spark plan:

    per-doc signals (map-only: quality score + trigram language ID)
      → gate   (quality ≥ quality_min AND predicted language modeled)
      → exact dedup  (keep the LOWEST doc_id per md5(text))
      → near-dup removal (MinHash-LSH candidates over the exact
        keepers, exact-shingle-Jaccard verify, drop the HIGHER id of
        every verified pair)
      → per-language retention stats

Reference scope: the reference (a pandas NER harness) has no curation
surface — this belongs to the LLM-data operator family this build
adds on top of the ported surface (SURVEY.md §2.10), exercised as
`q_curate` with a full DuckDB value-exact oracle.

Scale shape (the 100 TB lens):
- Signals and the gate are pure in-row codegen — zero shuffle, zero
  Python (the language scores are single `F.expr` strings; see
  functions/langid.py).
- Exact dedup is ONE window exchange hash-partitioned on md5(text) —
  the same key a real pipeline buckets its content store by.
- Near-dup candidates come from the bucketed MinHash band equi-join
  (operators/dedup.py) — never an all-pairs comparison — and the
  verify is per-candidate bounded work.
- The drop rule ("a doc is dropped when ANY lower-id keeper is a
  verified near-dup of it") is the standard one-pass greedy rule of
  large-scale dedup pipelines: deterministic, embarrassingly
  parallel, and expressible as a distinct + anti-join. It is NOT
  transitive-closure clustering — in a chain a~b~c with a≁c, both b
  and c drop even though c's only lower near-dup (b) was itself
  dropped. Connected-component dedup exists separately
  (operators/components.py) for callers who want cluster semantics.
- The flags frame feeds both the near-dup subplan and the final
  stats aggregate, so one eager ``localCheckpoint`` fills it at the
  branch point — the stage boundary a production run would checkpoint
  to parquet anyway (plans/checkpoint.py is the durable tool); without
  it Spark re-derives the signal+gate+window subplan once per branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import langid as L
from ..functions.textstats import quality_score_named
from .dedup import minhash_dedup_pairs


def curate_flags(
    docs: DataFrame,
    quality_min: float = 0.6,
    min_jaccard: float = 0.4,
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
    materialize: bool = True,
    splits_hint: int | None = None,
) -> DataFrame:
    """Per-document curation decisions over (doc_id, lang, text):
    (doc_id, lang, text, pass_gate, is_keeper, is_kept).

    ``pass_gate``  — quality ≥ quality_min and predicted language is
                     not ``und`` (the evidence-floor / unmodeled-
                     script verdict of the trigram scorer).
    ``is_keeper``  — passes the gate AND owns the lowest doc_id of
                     its exact-content (md5) group among gate-passing
                     docs.
    ``is_kept``    — keeper with no verified lower-id near-dup.

    ``materialize=False`` returns the pure DAG (no eager checkpoint)
    for plan inspection only — executing it pays the multi-consumer
    recompute race the checkpoint exists to prevent.
    """
    nrm = docs.select(
        "doc_id", "lang", "text", L._norm(F.col("text")).alias("norm"))
    s = nrm.select(
        "doc_id", "lang", "text",
        F.greatest(F.length("norm"), F.lit(1)).alias("n_norm"),
        *[F.expr(L.spark_lang_score_expr("norm", lang)).alias(f"s_{lang}")
          for lang in L.LANGS],
    )
    pred = L.lang_pred_named("n_norm", "text")
    gated = s.select(
        "doc_id", "lang", "text",
        ((quality_score_named("text") >= F.lit(quality_min))
         & (pred != F.lit("und"))).alias("pass_gate"),
    )
    # Exact-dedup keeper: ONE window exchange on md5(text). The min
    # is taken over gate-passing docs only (CASE-gated), so a failing
    # low-id exact copy cannot shadow a passing higher-id one.
    w = Window.partitionBy(F.md5(F.col("text")))
    flagged = gated.withColumn(
        "is_keeper",
        F.col("pass_gate")
        & (F.col("doc_id")
           == F.min(F.when(F.col("pass_gate"), F.col("doc_id"))).over(w)),
    )
    # The flags frame feeds the near-dup subplan FOUR ways (both band
    # self-join sides + both jaccard-verify text lookups) plus the
    # caller's final read — and a LAZY persist lets those concurrent
    # plan branches race to fill the cache, each recomputing the whole
    # signal+gate+window subplan (r6 stage audit: the upstream chain
    # ran 4x inside one q_prep job, ~7 s CPU per copy). An EAGER
    # localCheckpoint fills the boundary in one pass before any branch
    # hangs off it AND truncates the lineage, so every downstream job
    # plans against a tiny LogicalRDD instead of re-analyzing the
    # signal+gate+window tree (~0.5 s of driver time per action at
    # sf0.1 — the funnel runs four more actions over this). Storage is
    # MEMORY_AND_DISK like the persist it replaces (spill-safe);
    # blocks are reclaimed by the ContextCleaner when the query's
    # frames drop. At corpus scale this is the stage boundary a
    # production run checkpoints to parquet anyway (guide §5).
    if materialize:
        flagged = flagged.localCheckpoint(eager=True)
    # The keepers slice feeds the LSH subplan FOUR ways (two band
    # self-join sides, two jaccard-verify text lookups). Off the
    # checkpointed flags frame those four consumers are identical
    # subtrees over one LogicalRDD, so exchange reuse computes the
    # signature pipeline once — measured r6: the same drops subplan
    # fed off a persisted (InMemoryTableScan) boundary instead ran the
    # md5-signature build once PER SIDE and an order of magnitude
    # slower per row (120 s vs 14 s on the isolated subplan); a
    # second checkpoint of the slice itself is an extra action that
    # measured strictly slower.
    keepers = flagged.where(F.col("is_keeper")).select("doc_id", "text")
    pairs = minhash_dedup_pairs(
        keepers, min_jaccard=min_jaccard, n_hashes=n_hashes,
        band_size=band_size, shingle_k=shingle_k,
        splits_hint=splits_hint)
    drops = pairs.select(F.col("id_b").alias("doc_id")).distinct() \
        .withColumn("is_dropped", F.lit(True))
    out = (
        flagged.join(drops, "doc_id", "left")
        .withColumn("is_kept",
                    F.col("is_keeper") & F.col("is_dropped").isNull())
        .drop("is_dropped")
    )
    # The one internal boundary is the eager localCheckpoint above,
    # reclaimed by the ContextCleaner when the query's frames drop:
    # there is no cache for callers to release (unpersisting the
    # returned frame would be a no-op — cache entries are keyed on the
    # exact plan, and `out` is a join over the boundary, not the
    # boundary).
    return out


def stats_from_flags(f: DataFrame) -> DataFrame:
    """The retention aggregate over an existing flags frame —
    callers that already hold the flags (the q_curate registry entry)
    aggregate through this."""
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return f.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        one_if(F.col("pass_gate")).alias("n_quality"),
        one_if(F.col("is_keeper")).alias("n_exact"),
        one_if(F.col("is_kept")).alias("n_kept"),
        F.sum(F.when(F.col("is_kept"), F.length("text")).otherwise(0))
        .cast("long").alias("chars_kept"),
    )


def curate_stats(
    docs: DataFrame,
    quality_min: float = 0.6,
    min_jaccard: float = 0.4,
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-language retention funnel of the curation run — the
    operational summary a data engineer reads before shipping a
    crawl snapshot to training: (lang, n_docs, n_quality, n_exact,
    n_kept, chars_kept). One |langs|-cardinality aggregate over the
    flags frame; every count is an exact integer (value-hashable
    cross-engine)."""
    return stats_from_flags(curate_flags(
        docs, quality_min, min_jaccard, n_hashes, band_size, shingle_k))


def curate_kept(
    docs: DataFrame,
    quality_min: float = 0.6,
    min_jaccard: float = 0.4,
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """The curated corpus itself: (doc_id, lang, text) of kept docs —
    what a real run writes back to parquet as the training shard."""
    f = curate_flags(docs, quality_min, min_jaccard,
                     n_hashes, band_size, shingle_k)
    return f.where(F.col("is_kept")).select("doc_id", "lang", "text")


__all__ = ["curate_flags", "curate_stats", "curate_kept",
           "stats_from_flags"]
