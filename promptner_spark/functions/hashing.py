"""Portable deterministic hashing expressions.

Everything here is built from ``md5`` + hex→int conversion because md5
is the one hash with IDENTICAL semantics in Spark
(`conv(substr(md5(x),1,15),16,10)`) and DuckDB
(`CAST('0x'||substr(md5(x),1,15) AS BIGINT)`) — which is what lets the
driver's DuckDB oracle value-check MinHash/SimHash/fingerprint
operators instead of settling for rows-only checks. 15 hex digits =
60 bits, always positive, no BIGINT overflow in either engine.

All functions are pure `pyspark.sql.functions` compositions
(higher-order array functions) — JVM-side, codegen'd, zero Python per
row. At 100 TB the md5-per-shingle cost is the floor for any
content-defined scheme; these expressions pipeline inside the scan
stage with no shuffle.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, functions as F

HASH_HEX_DIGITS = 15  # 60 bits


def portable_hash(col: Column, seed: int | Column = 0) -> Column:
    """60-bit deterministic hash, identical in Spark and DuckDB."""
    seeded = F.concat(F.lit(str(seed) + ":") if isinstance(seed, int)
                      else seed.cast("string"), col)
    return F.conv(F.substring(F.md5(seeded), 1, HASH_HEX_DIGITS), 16, 10) \
        .cast("long")


def duckdb_portable_hash(expr: str, seed: int = 0) -> str:
    """The DuckDB rendering of :func:`portable_hash` for oracle SQL."""
    return (f"CAST(concat('0x', substr(md5(concat('{seed}:', {expr})), 1, "
            f"{HASH_HEX_DIGITS})) AS BIGINT)")


def portable_hash_half(col: Column, seed: int, half: int) -> Column:
    """Two independent 60-bit hashes per md5 digest (hex chars 1-15 and
    16-30): halves the md5 bill of multi-permutation schemes. Identical
    digests within one projection are shared by whole-stage codegen's
    common-subexpression elimination, so ``half`` costs nothing extra."""
    seeded = F.concat(F.lit(f"{seed}:"), col)
    return F.conv(
        F.substring(F.md5(seeded), 1 + half * HASH_HEX_DIGITS,
                    HASH_HEX_DIGITS), 16, 10).cast("long")


def duckdb_portable_hash_half(expr: str, seed: int, half: int) -> str:
    """DuckDB mirror of :func:`portable_hash_half`."""
    return (f"CAST(concat('0x', substr(md5(concat('{seed}:', {expr})), "
            f"{1 + half * HASH_HEX_DIGITS}, {HASH_HEX_DIGITS})) AS BIGINT)")


@lru_cache(maxsize=None)
def phh_cols(col_name: str, n_hashes: int) -> tuple[Column, ...]:
    """The ``n_hashes`` half-digest permutation columns of a NAMED
    column, aliased h0..h{n-1} — memoized (immutable expression trees;
    ~95 ms of py4j construction per call otherwise, paid per plan
    rebuild — see functions/textstats.py memo note)."""
    return tuple(
        portable_hash_half(F.col(col_name), i // 2, i % 2).alias(f"h{i}")
        for i in range(n_hashes))


@lru_cache(maxsize=None)
def token_shingles_named(col_name: str, k: int = 3) -> Column:
    """Memoized :func:`token_shingles` over a named column."""
    return token_shingles(F.col(col_name), k)


# ------------------------------------------------------------- shingles

def token_start_offsets(text: Column) -> Column:
    """1-based char offset of every token start (plus one sentinel
    past the end): ``off[i+1] = off[i] + len(tok_i) + 1``. Feeds the
    substring shingle builders below."""
    toks = F.split(text, " ")
    return F.aggregate(
        toks, F.array(F.lit(1)),
        lambda acc, t: F.concat(
            acc, F.array(F.element_at(acc, -1) + F.length(t) + F.lit(1))))


def _window_spans(text: Column, n: Column, k: int) -> Column:
    """All k-token windows of ``text`` as substrings between token
    offsets — VALUE-IDENTICAL to ``concat_ws(" ", slice(toks, i, k))``
    for every input (the joined window IS the original char span
    between token i's start and token i+k-1's end, single-space
    separators and empty tokens included), but each window is ONE
    substring copy instead of a slice allocation + k-way join inside
    an interpreted lambda — measured 2x faster on the shingle build
    (r6). ``n`` = token count, pre-computed by the caller."""
    offs = token_start_offsets(text)
    m = n - (k - 1)
    return F.zip_with(
        F.slice(offs, 1, m), F.slice(offs, k + 1, m),
        lambda s, e: text.substr(s, e - s - F.lit(1)))


def token_shingles(text: Column, k: int = 3) -> Column:
    """Distinct space-joined k-token shingles of a space-tokenized
    text; texts shorter than k tokens yield the whole text."""
    n = F.size(F.split(text, " "))
    return F.when(n < k, F.array(text)).otherwise(
        F.array_distinct(_window_spans(text, n, k)))


def char_shingles(s: Column, k: int = 3) -> Column:
    """Distinct character k-grams; short strings yield themselves."""
    n = F.length(s)
    return F.when(n < k, F.array(s)).otherwise(
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: s.substr(i, F.lit(k)),
        ))
    )


# ------------------------------------------------------------- minhash

def _seeded_min(shingles: Column, seed: int) -> Column:
    # NB: the lambda must be unary — a second (defaulted) parameter
    # makes PySpark pass the ELEMENT INDEX into it.
    def body(s: Column) -> Column:
        return portable_hash(s, seed)
    return F.array_min(F.transform(shingles, body))


def minhash_bands(shingles: Column, n_hashes: int = 16,
                  band_size: int = 4) -> Column:
    """LSH band digests: md5 over each ``band_size`` slice of the
    signature. Join key = (band index, digest).

    Bands are assembled directly from the per-permutation min
    expressions (NOT via ``element_at(array(...), i)``) so each of the
    ``n_hashes`` permutations is evaluated exactly once regardless of
    which optimizer folds apply."""
    n_bands = n_hashes // band_size
    return F.array(*[
        F.md5(F.concat_ws(",", *[
            _seeded_min(shingles, b * band_size + r).cast("string")
            for r in range(band_size)
        ]))
        for b in range(n_bands)
    ])


def fast_minhash_bands(shingles: Column, n_hashes: int = 16,
                       band_size: int = 4) -> Column:
    """LSH band digests via native ``xxhash64`` — the hot-path variant
    used inside the pipeline's fuzzy linking, where no DuckDB oracle
    needs to replay the hash (the md5 variant above exists exactly for
    oracle-checkable queries). xxhash64 is a single JVM intrinsic per
    shingle vs md5→hex→conv→substring, ~10× cheaper per row; Catalyst
    folds ``element_at(array(...), lit)`` so each permutation is
    evaluated once."""
    # CRITICAL: the signature is ONE nested-transform expression, so the
    # (potentially large) ``shingles`` expression tree appears exactly
    # once in the plan. Expanding it per-permutation (16 copies) blows
    # the generated code past Janino's comfort zone — multi-second
    # compile per stage and multi-MiB task binaries.
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.array_min(
            F.transform(shingles, lambda s: F.xxhash64(i, s))),
    )
    n_bands = n_hashes // band_size
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.aggregate(
            F.slice(sig, b * band_size + 1, band_size),
            F.lit(0).cast("long"),
            lambda acc, x: F.xxhash64(acc, x)),
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


# ------------------------------------------------------------- simhash

def simhash(shingles: Column, bits: int = 32) -> Column:
    """SimHash: per-bit majority vote over shingle hashes, folded into
    a LONG. Pure expressions: for each bit, count shingles whose hash
    has that bit set; bit set in output iff count*2 >= n."""
    n = F.size(shingles)
    hashes = F.transform(shingles, lambda s: portable_hash(s, 0))
    acc = F.lit(0).cast("long")
    for b in range(bits):
        def has_bit(h: Column, _b: int = 0) -> Column:
            return F.shiftright(h, _b).bitwiseAND(F.lit(1)) == 1
        ones = F.size(F.filter(hashes, (lambda bb: (lambda h: has_bit(h, bb)))(b)))
        acc = acc + F.when(ones * 2 >= n, F.lit(1 << b).cast("long")) \
            .otherwise(F.lit(0).cast("long"))
    return acc


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two LONG hashes via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))
