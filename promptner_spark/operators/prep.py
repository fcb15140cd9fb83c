"""The full LLM-training-data preparation funnel, as ONE Spark plan —
the capstone composition of the engine's data-prep operators in the
order a production crawl-to-training-shard job runs them:

    cross-doc boilerplate-line removal   (operators/lines.py)
      → PII redaction                    (operators/pii.py)
      → quality/language gate + exact dedup + near-dup drop
                                         (operators/curate.py)
      → benchmark decontamination        (operators/decontaminate.py)
      → mixture-rate sampling            (operators/sample.py)
      → token-budget shard packing       (operators/shard.py)

Reference scope: no counterpart in the reference (a pandas NER
harness); this is the LLM-data operator family's end-to-end job
(SURVEY.md §2.10), exercised as `q_prep` with a full DuckDB
value-exact oracle that replays the ENTIRE chain — so the
inter-stage contracts (scrubbing sees line-deduped text, the gate
sees scrubbed text, packing sees post-mixture token counts) are
hash-pinned cross-engine, not just each stage in isolation.

Scale shape (the 100 TB lens) — the funnel inherits each stage's
audited shape and adds nothing: line census + broadcast membership
(text moves once, in reassembly), map-only scrub, one md5(text)
window + bucketed LSH for dedup, broadcast gram probe for
decontamination, map-only mixture predicate, and the two-phase
prefix-sum pack whose only wide exchange carries three longs per doc.
Between stages nothing materializes except the two genuinely
multi-consumer intermediates — the curate flags frame and the final
kept corpus (which shard_pack's offsets job, its window job, the lang
reattach and the manifest all read); a production run checkpoints
both boundaries to parquet via plans/checkpoint.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .curate import curate_flags
from .decontaminate import DEFAULT_N, decontaminate
from .lines import strip_common_lines
from .pii import scrub_text
from .sample import mixture_sample
from .shard import shard_pack


@dataclass
class PrepResult:
    """Handles to the funnel's outputs. ``kept`` is the surviving
    cleaned corpus (doc_id, lang, text — checkpointed); ``packed``
    assigns every surviving doc to a training shard (doc_id, lang,
    n_tok, shard_id); ``manifest`` is the per-shard summary a write
    job sizes files with (:func:`write_training_shards` writes both).
    Both internal boundaries are eager localCheckpoints; the owner of
    the unit of work frees them (checkpoint.persisted_by)."""

    kept: DataFrame
    packed: DataFrame
    manifest: DataFrame


def prepare_training_data(
    docs: DataFrame,
    bench: DataFrame | None = None,
    *,
    min_line_docs: int = 2,
    quality_min: float = 0.6,
    min_jaccard: float = 0.4,
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
    decon_n: int = DEFAULT_N,
    mixture: dict[str, float] | None = None,
    sample_seed: int = 0,
    shard_budget: int = 1_000_000,
    shard_seed: int = 0,
    bucket_bits: int = 8,
    splits_hint: int | None = None,
) -> PrepResult:
    """Run the whole funnel over ``docs`` (doc_id, lang, text).
    ``bench`` (bench_id, text) enables decontamination; ``mixture``
    (lang → keep-rate) enables mixture sampling; both default off so
    the funnel degrades gracefully to clean-and-pack."""
    cleaned = strip_common_lines(
        docs, min_docs=min_line_docs, carry_cols=("lang",))
    scrubbed = cleaned.select(
        "doc_id", "lang", scrub_text(F.col("text")).alias("text"))
    # curate_flags eager-fills its internal flags cache (r6: the fill
    # races it used to leave to the caller are closed at the source),
    # so every consumer below reads the cached boundary; no extra
    # full pass over the joined flags frame is needed here.
    flags = curate_flags(scrubbed, quality_min, min_jaccard,
                         n_hashes, band_size, shingle_k,
                         splits_hint=splits_hint)
    kept = flags.where(F.col("is_kept")).select("doc_id", "lang", "text")
    if bench is not None:
        kept = decontaminate(kept, bench, n=decon_n,
                             bench_splits_hint=splits_hint)
    if mixture:
        kept = mixture_sample(kept, mixture, group_col="lang",
                              seed=sample_seed)
    # The funnel's second multi-consumer boundary: shard_pack runs TWO
    # jobs over `kept` (the bucket-offsets collect, then the window
    # job) and the lang reattach + manifest read it again — without an
    # EAGER materialization each consumer re-derives the whole
    # line-dedup → scrub → curate → decontaminate chain (measured:
    # 42.8 s → ~8 s at sf0.01). r6: eager localCheckpoint instead of
    # persist+count — same one-pass fill, but downstream consumers
    # plan against the truncated lineage instead of re-analyzing the
    # whole funnel tree per job (measured ~2 s of driver-side planning
    # gaps across the 4 downstream jobs at sf0.1), and the scan avoids
    # the InMemoryTableScan slow path measured in the curate subplan
    # (guide §5: localCheckpoint as the cheap lineage cut; a
    # production run checkpoints this boundary to parquet anyway).
    kept = kept.localCheckpoint(eager=True)
    packed0 = shard_pack(kept, budget=shard_budget, seed=shard_seed,
                         bucket_bits=bucket_bits)
    # The manifest aggregates straight off the packing output: the
    # lang reattach below is 1:1 row-preserving (every packed doc_id
    # IS a kept doc_id by construction), so routing the manifest
    # through it only added a dead broadcast join to the summary job
    # (r6) — the values are identical either way.
    manifest = packed0.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"))
    # shard_pack drops non-key columns by design (text must not cross
    # its window exchange); reattach lang via the kept frame's
    # (doc_id, lang) projection — broadcast-sized after the funnel in
    # tests, an equi-join on the store's bucket key at corpus scale.
    packed = packed0.withColumnRenamed("id", "doc_id") \
        .join(kept.select("doc_id", "lang"), "doc_id")
    return PrepResult(kept=kept, packed=packed, manifest=manifest)


def write_training_shards(res: PrepResult, path: str) -> None:
    """Materialize the funnel: one parquet dataset of the kept text
    partitioned by shard_id (each shard = ~budget tokens = one
    training file group) plus the manifest beside it. The shard
    assignment joins back on doc_id — at corpus scale both sides hash
    the same key, and the write repartitions BY shard so each shard's
    rows land in one task's files (the partitionBy sees pre-grouped
    data instead of every task appending to every shard directory)."""
    docs = res.kept.join(res.packed.select("doc_id", "n_tok", "shard_id"),
                         "doc_id")
    (docs.repartition(F.col("shard_id"))
         .write.mode("overwrite").partitionBy("shard_id")
         .parquet(f"{path}/shards"))
    res.manifest.write.mode("overwrite").parquet(f"{path}/manifest")


__all__ = ["PrepResult", "prepare_training_data",
           "write_training_shards"]
