"""Benchmark decontamination — remove training documents that overlap
an evaluation/benchmark set by verbatim token n-gram collision (the
GPT-3 appendix-C / Llama / Gopher practice: a document is contaminated
when any of its 13-token grams appears verbatim in a benchmark
example).

Reference scope: the reference (a pandas NER harness) has no
decontamination surface — this belongs to the LLM-training-data
operator family this build adds on top of the ported surface
(SURVEY.md §2.10), exercised as `q_decontaminate` with a full DuckDB
value-exact oracle.

Scale shape (the 100 TB lens):

- The CORPUS side is map-only: explode distinct token n-grams inside
  the scan stage, hash each gram to a 60-bit long (portable md5 —
  the oracle replays it bit-for-bit), no shuffle of document rows.
- The BENCHMARK side is small by nature (eval suites are thousands of
  documents / millions of grams, not billions), so its distinct gram
  hashes BROADCAST and the probe is a map-side hash join — the corpus
  never moves.
- The per-doc hit aggregate runs over MATCHING grams only (a
  vanishing fraction of the corpus at n=13), and `decontaminate`
  turns it into a broadcast LEFT ANTI join back on doc_id — again no
  corpus shuffle. End to end: one scan of the corpus, zero wide
  exchanges on the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.hashing import portable_hash, token_shingles

#: Canonical overlap width (tokens) from the GPT-3/Llama recipes.
DEFAULT_N = 13

#: Hash seed namespacing decontamination grams away from the dedup
#: shingle hashes (both use functions/hashing.py's md5 family).
GRAM_SEED = 13


def gram_hashes(df: DataFrame, n: int = DEFAULT_N, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(id, gram_h): distinct token n-grams per document, hashed to a
    60-bit long. Distinctness within a doc is inherent
    (token_shingles wraps array_distinct); texts shorter than ``n``
    tokens contribute their whole text as the single gram, so short
    benchmark snippets still screen verbatim copies."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(token_shingles(F.col(text_col), n)).alias("g"),
    ).select("id", portable_hash(F.col("g"), GRAM_SEED).alias("gram_h"))


def bench_gram_set(bench: DataFrame, n: int = DEFAULT_N,
                   text_col: str = "text",
                   id_col: str = "bench_id",
                   splits_hint: int | None = None) -> DataFrame:
    """The benchmark's distinct gram-hash set — the (small) probe side.

    The bench frame is spread across cores before the gram explode:
    it is small by nature, so its scan often yields fewer splits than
    cores, and the per-gram hash work — the expensive part of the
    build — then runs nearly serial ON THE CRITICAL PATH (the probe
    broadcast cannot start until it finishes; r6 stage audit: 1.7 s
    single-task build ahead of a 0.3 s corpus probe). One tiny
    pre-explode shuffle of the bench rows fixes that at every scale
    (the corpus side is untouched)."""
    from .dedup import _spread
    return gram_hashes(_spread(bench, splits_hint=splits_hint),
                       n, text_col, id_col) \
        .select("gram_h").distinct()


def contamination_report(docs: DataFrame, bench: DataFrame,
                         n: int = DEFAULT_N, text_col: str = "text",
                         id_col: str = "doc_id",
                         bench_splits_hint: int | None = None) -> DataFrame:
    """(doc_id, n_hits) for every contaminated document — n_hits =
    number of DISTINCT document n-grams also present in the benchmark
    set (distinct on both sides, so the count is order-free and
    engine-exact)."""
    grams = gram_hashes(docs, n, text_col, id_col)
    bench_set = bench_gram_set(bench, n, text_col,
                               splits_hint=bench_splits_hint)
    return (
        grams.join(F.broadcast(bench_set), "gram_h")
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )


def decontaminate(docs: DataFrame, bench: DataFrame, n: int = DEFAULT_N,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_splits_hint: int | None = None) -> DataFrame:
    """The clean corpus: documents sharing NO verbatim n-gram with the
    benchmark. The contaminated-id set is at most |matching docs|
    (small), so the anti-join back is broadcastable."""
    hit_ids = contamination_report(
        docs, bench, n, text_col, id_col,
        bench_splits_hint=bench_splits_hint
    ).select(id_col)
    return docs.join(F.broadcast(hit_ids), id_col, "left_anti")


__all__ = ["gram_hashes", "bench_gram_set", "contamination_report",
           "decontaminate", "DEFAULT_N", "GRAM_SEED"]
