"""Entity linking (joins J1-J3, SURVEY.md §2.8) **[NORTH]**.

mention surface → canonical entity, three strategies composed:

1. **Broadcast alias join (J1)** — the alias dictionary is small
   relative to the corpus (millions of rows vs trillions of mentions);
   `F.broadcast` pins a broadcast-hash join so the trillion-row side
   never shuffles.
2. **Salted join (J3)** — hub surfaces ("spark", "united states")
   concentrate in a few keys. For the non-broadcastable fallback path
   the big side gets a `pmod(xxhash64(url), K)` salt and the dictionary
   is exploded ×K, flattening the key histogram. AQE skew-join
   (enabled in session.py) covers the sort-merge case at runtime.
3. **MinHash-LSH candidates (J2)** — surfaces missed by the exact
   alias key are blocked by character-shingle MinHash bands
   (functions/hashing.py), and their bands are joined to the alias
   bands by a broadcast hash join (the alias side is dictionary-sized,
   so the vocabulary side never shuffles on band keys), then verified
   by true Jaccard; a bounded-fanout equi-join, never a cross join.
   Exact hits, verified candidates and the NIL fallback are ranked in
   ONE ``groupBy(m_norm)`` — the only shuffle of the resolution pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import schema
from ..functions.hashing import (
    char_shingles, fast_minhash_bands, jaccard, minhash_bands,
)
from .gazetteer import ALIAS_ROWS

_PUNCT_CLASS = r"^[!-/:-@\[-`{-~\s]+|[!-/:-@\[-`{-~\s]+$"


def norm_surface(col: F.Column) -> F.Column:
    """The linking key: lowercase + strip surrounding punctuation
    (reference normalization `eval.py:20-21`, oracle/clean.py).

    Deliberately plain F.lower, NOT functions.textstats.portable_lower:
    this key must match the REFERENCE's Python ``str.lower`` (full
    Unicode case mapping), which is what Spark implements. The DuckDB
    oracle mirror applies the simple per-codepoint map, so the two
    engines could disagree on a surface containing U+0130 'İ' or a
    word-final capital sigma — irrelevant for the ASCII gazetteer
    vocabulary the oracles run against, and reference parity wins
    over oracle portability for this key (the text-analytics family,
    which defines its own semantics, makes the opposite choice)."""
    return F.regexp_replace(F.lower(F.trim(col)), _PUNCT_CLASS, "")


def alias_df(spark: SparkSession, vocab_scale: int = 1) -> DataFrame:
    """The alias dictionary; ``vocab_scale > 1`` swaps in the
    vocabulary-scaled variant rows for the scaling bench
    (operators/gazetteer.py::scaled_alias_rows)."""
    from ..smalldf import small_df
    if vocab_scale > 1:
        from .gazetteer import scaled_alias_rows
        return small_df(spark, scaled_alias_rows(vocab_scale),
                        schema=schema.ALIASES)
    return small_df(spark, ALIAS_ROWS, schema=schema.ALIASES)


def link_exact(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """J1: broadcast-hash left join on the normalized surface."""
    return mentions.withColumn("alias_norm_key", norm_surface(F.col("surface"))).join(
        F.broadcast(aliases),
        F.col("alias_norm_key") == aliases["alias_norm"],
        "left",
    ).drop("alias_norm_key")


def _salted_join(mentions: DataFrame, table: DataFrame, table_key: str,
                 salt: int) -> DataFrame:
    """J3: left join of the mention stream onto a dictionary ``table``
    by normalized surface == ``table[table_key]``, without broadcast,
    skew-proofed by salting. Big side: salt = pmod(xxhash64(url,
    sent_id, begin), K); small side exploded ×K so every (key, salt)
    bucket exists."""
    salted_m = mentions.withColumn(
        "_key", norm_surface(F.col("surface"))
    ).withColumn(
        "_salt",
        F.pmod(F.xxhash64("url", "sent_id", "begin"), F.lit(salt)).cast("int"))
    salted_t = table.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    return salted_m.join(
        salted_t,
        (F.col("_key") == salted_t[table_key])
        & (salted_m["_salt"] == salted_t["_salt"]),
        "left",
    ).drop("_key", "_salt")


def link_exact_salted(mentions: DataFrame, aliases: DataFrame, salt: int = 16) -> DataFrame:
    """J3: the exact alias join without broadcast, skew-proofed by
    salting (:func:`_salted_join`) — the strategy used when the
    dictionary exceeds broadcast memory."""
    return _salted_join(mentions, aliases, "alias_norm", salt)


def link_fuzzy_candidates(
    unlinked: DataFrame,
    aliases: DataFrame,
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """J2: MinHash-LSH candidates for surfaces with no exact alias hit:
    every (m_norm, alias) pair that shares a band and has true Jaccard
    ≥ ``min_jaccard``, once — columns (m_norm, entity_id,
    canonical_name, alias_norm, jaccard). :func:`build_resolution`
    picks the best per surface.

    ``unlinked`` holds DISTINCT surfaces (a vocabulary, never the
    mention stream). Shingles and bands are computed once per row on
    each side; the shingles ride through the join into the verify.
    The alias bands are broadcast, so the band join never shuffles,
    and a pair is kept only at its FIRST shared band, so no distinct.

    ``portable=True`` switches the band-hash family from xxhash64 to
    the md5 family a DuckDB oracle can replay exactly (same firewall
    as :func:`fuzzy_surface_pairs`); the banding is an LSH config, not
    a semantics change, and all work here is O(vocab)."""
    # One shingle and one band expression, applied to both sides:
    # building either is hundreds of py4j round trips of driver time.
    sh = char_shingles(F.col("key"), shingle_k)
    bands = (minhash_bands if portable else fast_minhash_bands)(
        F.col("sh"), n_hashes, band_size)

    def banded(df: DataFrame, key: str, p: str) -> DataFrame:
        # _outer: a plain posexplode infers a size(bands) > 0 filter
        # that Catalyst pushes below the exact join, banding hits too
        # (the band array is never empty, so the rows are the same)
        return df.withColumn("sh", sh).withColumn("bands", bands).select(
            *[c for c in df.columns if c != "key"], F.col("key").alias(key),
            F.col("sh").alias(f"{p}_sh"), F.col("bands").alias(f"{p}_bands"),
            F.posexplode_outer("bands").alias("band_id", "band_hash"))

    m = banded(unlinked.select(
        norm_surface(F.col("surface")).alias("key")), "m_norm", "m")
    a = banded(aliases.select(
        F.col("alias_norm").alias("key"), "entity_id", "canonical_name"),
        "alias_norm", "a")
    first_shared = F.array_position(
        F.zip_with("m_bands", "a_bands", lambda x, y: x == y), True) - 1
    return (
        m.join(F.broadcast(a), ["band_id", "band_hash"])
        .where(F.col("band_id") == first_shared)
        .select("m_norm", "entity_id", "canonical_name", "alias_norm",
                jaccard(F.col("m_sh"), F.col("a_sh")).alias("jaccard"))
        .where(F.col("jaccard") >= min_jaccard)
    )


def fuzzy_surface_pairs(
    vocab: DataFrame,
    col: str = "m_norm",
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Surface-to-surface near-duplicate pairs within a vocabulary:
    char-shingle MinHash band buckets → bounded-fanout band self-join
    → exact Jaccard verify. Output (surf_a < surf_b, jaccard).

    This is the candidate generator for NIL co-reference
    (:func:`~promptner_spark.operators.triples.nil_components`): the
    input is the DISTINCT surface vocabulary, never the mention
    stream, so the whole computation is O(vocab) (Zipf: orders of
    magnitude below the corpus). ``portable=True`` switches to the
    md5 hash family a DuckDB oracle can replay; the default xxhash64
    family is the production path (same firewall as fuzzy linking)."""
    bands_fn = minhash_bands if portable else fast_minhash_bands
    sh = char_shingles(F.col(col), shingle_k)
    b = vocab.select(
        F.col(col).alias("surf"),
        F.posexplode(bands_fn(sh, n_hashes, band_size))
        .alias("band_id", "digest"))
    x, y = b.alias("x"), b.alias("y")
    cand = (
        x.join(y, ["band_id", "digest"])
        .where(F.col("x.surf") < F.col("y.surf"))
        .select(F.col("x.surf").alias("surf_a"),
                F.col("y.surf").alias("surf_b"))
        .dropDuplicates(["surf_a", "surf_b"])
    )
    sim = jaccard(char_shingles(F.col("surf_a"), shingle_k),
                  char_shingles(F.col("surf_b"), shingle_k))
    return (cand.withColumn("jaccard", sim)
            .where(F.col("jaccard") >= min_jaccard))


def _enrich_resolution(out: DataFrame) -> DataFrame:
    """Vocabulary-side canonicalization: every per-surface derivation
    the KG stages need — canonical ``entity_name``, the stable
    ``entity_key`` and ``eid`` (triples.entity_columns) — is computed
    HERE, on the O(vocab) dictionary, so the broadcast join attaches
    them to the trillion-row mention stream for free and the
    corpus-wide stages never evaluate a regexp or md5 per mention
    (VERDICT r3: piggyback the int dictionary on the resolution job
    instead of a second corpus agg)."""
    from .triples import entity_columns

    return out.select("*", *entity_columns(F.col("m_norm")))


def build_resolution(mentions: DataFrame, aliases: DataFrame,
                     fuzzy: bool = True,
                     portable_fuzzy: bool = False) -> DataFrame:
    """Surface-vocabulary resolution dictionary: one row per distinct
    normalized surface, with its resolved entity (exact alias match
    first, else the MinHash-LSH candidate with the highest Jaccard over
    every alias, lowest entity_id on a tie) or NULLs for NIL surfaces.

    Columns: (m_norm, entity_id, canonical_name, alias_norm, prior,
    entity_name, entity_key, eid) — the last three precomputed
    vocabulary-side by :func:`_enrich_resolution`.

    Both internal boundaries are eager localCheckpoints; the owner of
    the unit of work frees their blocks (checkpoint.persisted_by).
    """
    # Materialized eagerly (one vocabulary-sized job): (a) the
    # vocabulary is read by the exact/NIL and the fuzzy branches — one
    # distinct pass over the mention stream instead of two; (b) the
    # boundary is a predicate-pushdown barrier — without it Catalyst
    # pushes the fuzzy join's isnotnull(band_hash) condition through
    # the posexplode and BELOW this aggregate, re-evaluating the whole
    # MinHash-band expression on every raw mention row (observed:
    # ~1000× the intended hash work). r6: localCheckpoint instead of
    # persist+count — same one-pass fill, but the AQE broadcast-build
    # jobs hanging off it scan a LogicalRDD instead of resolving the
    # full extraction lineage against the cache manager (the r6 stage
    # audit caught broadcast-side jobs re-running the scan→UDF chain
    # off the persisted form), and downstream actions re-analyze a
    # tiny plan.
    vocab = mentions.select(
        norm_surface(F.col("surface")).alias("m_norm")).distinct() \
        .localCheckpoint(eager=True)
    exact = vocab.join(F.broadcast(aliases),
                       vocab["m_norm"] == aliases["alias_norm"], "left")
    if not fuzzy:
        return _enrich_resolution(exact)
    # One min per surface over the pick key (rank, -jaccard, entity_id,
    # canonical_name, alias_norm) resolves the whole dictionary: the
    # exact hit (rank 0), else the best verified alias over EVERY alias
    # (rank 1), else the NIL row (rank 2). Fuzzy rows carry no prior,
    # which is how callers tell them from exact hits.
    hit = F.col("entity_id").isNotNull()

    def pick(rank, neg_jaccard, prior) -> F.Column:
        return F.struct(rank.alias("rank"), neg_jaccard.alias("neg_j"),
                        "entity_id", "canonical_name", "alias_norm",
                        prior.alias("prior")).alias("pick")

    ranked = exact.select("m_norm", pick(
        F.when(hit, 0).otherwise(2), F.lit(-1.0), F.col("prior")))
    fz = link_fuzzy_candidates(
        exact.where(~hit).select(F.col("m_norm").alias("surface")),
        aliases, portable=portable_fuzzy,
    ).select("m_norm", pick(F.lit(1), -F.col("jaccard"),
                            F.lit(None).cast("double")))
    out = _enrich_resolution(
        ranked.unionByName(fz).groupBy("m_norm")
        .agg(F.min("pick").alias("pick"))
        .select("m_norm", "pick.entity_id", "pick.canonical_name",
                "pick.alias_norm", "pick.prior"))
    # Eagerly filled: the dictionary is read by the main broadcast-back
    # join AND by the (vocab-sized) eid→name dictionary emit_triples
    # uses to reattach names post-aggregation — without the boundary
    # the resolution pass would re-run per consumer. coalesce before
    # the checkpoint: the groupBy leaves shuffle.partitions near-empty
    # partitions, and every downstream scan of the dictionary would
    # launch that many tasks. coalesce is narrow (no exchange); the
    # dictionary is vocabulary-sized, so defaultParallelism partitions
    # is the right ceiling at any scale.
    out = out.coalesce(out.sparkSession.sparkContext.defaultParallelism)
    return out.localCheckpoint(eager=True)


def attach_resolution(mentions: DataFrame,
                      resolution: DataFrame) -> DataFrame:
    """The mention stream joined onto a resolution dictionary
    (:func:`build_resolution`) by normalized surface: a broadcast-hash
    left join, so the stream is scanned once and never shuffled. Adds
    the dictionary's entity columns to every mention row."""
    return mentions.withColumn(
        "m_norm_key", norm_surface(F.col("surface"))).join(
        F.broadcast(resolution),
        F.col("m_norm_key") == resolution["m_norm"], "left",
    ).drop("m_norm_key", "m_norm")


def link_mentions(mentions: DataFrame, aliases: DataFrame,
                  fuzzy: bool = True,
                  max_broadcast_vocab: int | None = None,
                  salt: int = 16,
                  portable_fuzzy: bool = False) -> DataFrame:
    """Full linking: exact broadcast join with LSH fuzzy fallback.
    Output adds entity_id / canonical_name (nullable — NIL mentions
    stay unlinked) and the dictionary's entity_name / entity_key / eid.

    Architecture for the trillion-row stream: all per-surface work
    (normalization lookup, MinHash banding, Jaccard verify) happens on
    the DISTINCT surface vocabulary — orders of magnitude smaller than
    the mention stream (Zipf) — producing a resolution dictionary that
    is broadcast back (:func:`attach_resolution`). The mention stream
    itself is scanned exactly once and never shuffled; hub surfaces
    ("united states") cannot skew anything because the join is
    broadcast-hash, not key-partitioned.

    ``max_broadcast_vocab`` is the broadcast size guard: when set and
    the resolution dictionary exceeds that many rows, the forced
    broadcast (a driver/executor OOM at that point) degrades to the
    salted shuffle join (:func:`_salted_join`, dictionary exploded
    ×``salt``) so a pathological vocabulary still links. ``None``
    skips the (vocab-sized) count and always broadcasts."""
    resolution = build_resolution(mentions, aliases, fuzzy=fuzzy,
                                  portable_fuzzy=portable_fuzzy)
    if max_broadcast_vocab is not None and \
            resolution.count() > max_broadcast_vocab:
        out = _salted_join(mentions, resolution, "m_norm", salt) \
            .drop("m_norm")
    else:
        out = attach_resolution(mentions, resolution)
    # Read only by perfbench/workloads.py's traced path; it goes when
    # that path calls the pipeline's own stages.
    out._promptner_resolution = resolution  # type: ignore[attr-defined]
    return out
