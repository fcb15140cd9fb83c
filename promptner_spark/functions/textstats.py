"""Text-analysis expressions for the documents corpus (training-data
pipeline operators: language-ID, quality scoring, token counting,
fingerprinting). Pure `pyspark.sql.functions` — codegen'd, no Python.

Each has an exact DuckDB-SQL mirror used by the driver oracle.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, functions as F

from .hashing import portable_hash
from ..oracle.stopwords import ENGLISH_STOPWORDS

# a compact, fixed stopword subset for ratio features (full NLTK list
# lives in oracle/stopwords.py for P1 parity; the ratio feature only
# needs a stable subset)
STOP_SUBSET = ("the", "a", "an", "of", "to", "and", "in", "is", "it", "that")

# Portable whitespace class for cross-engine regexes: Java's \s
# includes vertical tab (\x0B), RE2's (DuckDB) does not — a document
# containing \x0B would make the Spark expression and its DuckDB
# oracle normalize differently (r5 fuzz finding). Every regex shared
# between the two engines spells the class out instead.
PORTABLE_WS = r" \t\n\x0B\f\r"


def portable_lower(c: Column) -> Column:
    """lower() that agrees between Spark and DuckDB on every input.

    Spark applies the FULL Unicode case mapping (SpecialCasing.txt):
    'İ' (U+0130) → 'i' + combining dot U+0307, and capital sigma is
    contextual ('Σ' → 'ς' at word end, 'σ' elsewhere). DuckDB applies
    the simple per-codepoint mapping ('İ' → 'i', 'Σ' → 'σ' always) —
    measured divergence, r5. Pre-folding those two code points makes
    both engines take the simple path; everything else in the simple
    map agrees (ß, ligatures, accents all verified). The choice of
    'i'/'σ' as the canonical forms IS the operator's semantics — what
    matters for oracle-exactness is that both engines compute it."""
    folded = F.replace(F.replace(c, F.lit("İ"), F.lit("i")),
                       F.lit("Σ"), F.lit("σ"))
    return F.lower(folded)


def sql_portable_lower(expr: str) -> str:
    """DuckDB mirror of :func:`portable_lower`."""
    return f"lower(replace(replace({expr}, 'İ', 'i'), 'Σ', 'σ'))"


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    """Whitespace token count (the reference's tokenization convention,
    `data.py:55-58`).

    Computed arithmetically — ``len(text) - len(text without spaces)
    + 1`` — instead of ``size(split(...))``: split on a single space
    yields exactly (number of space chars + 1) fields (consecutive
    spaces produce empty fields), so the counts are identical for
    every input while the array of token strings is never built
    (guide §4.1: prefer flat built-ins; the r6 profile showed the
    token-array builders dominating the text-analytics stages)."""
    return (F.length(text) - F.length(F.replace(text, F.lit(" ")))
            + F.lit(1))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-approximate token count: word-chunks + digits + punctuation
    as separate tokens (regexp-based; deterministic; whitespace class
    spelled out for RE2 parity — see PORTABLE_WS). ``regexp_count``
    rather than ``size(regexp_extract_all(...))``: same non-overlapping
    Matcher.find scan, without materializing every match string (r6)."""
    return F.regexp_count(
        text,
        F.lit(r"[A-Za-z]{1,8}|[0-9]|[^A-Za-z0-9" + PORTABLE_WS + "]"))


def avg_token_len(text: Column) -> Column:
    """Mean token length. The token-length sum is exact arithmetic:
    every space is one separator, so Σ len(token) = len(text) − (n−1)
    — same integer the r5 interpreted fold produced, no token array,
    no higher-order function (r6; guide §4.1)."""
    n = token_count(text)
    total = F.length(text) - (n - F.lit(1))
    return total.cast("double") / F.greatest(n, F.lit(1))


# one pass, one pattern: a token equals a stopword iff it is delimited
# by spaces (or the padding) on both sides — the lookarounds consume
# nothing, so adjacent stopwords ("the the") both match. Alternatives
# are tried left-to-right per position and the lookahead rejects
# prefixes ("a" inside "an"), exactly reproducing the per-token set
# membership of the r5 filter()+array_contains form.
_STOP_PATTERN = "(?<= )(?:" + "|".join(STOP_SUBSET) + ")(?= )"


def stopword_ratio(text: Column) -> Column:
    # portable_lower: 'İT' must not count as the stopword 'it' on one
    # engine and not the other (full-vs-simple case mapping, r5).
    # Lowercasing the WHOLE text is token-equivalent: no lowercase
    # mapping produces or consumes U+0020 (İ/Σ are pre-folded; the
    # remaining full-case mappings are letter→letter), so split-then-
    # lower == lower-then-split — pinned by the parity test. One
    # regexp_count replaces the interpreted per-token filter + 2
    # replaces + lower per token (r6; guide §4.1).
    padded = F.concat(F.lit(" "), portable_lower(text), F.lit(" "))
    n_stop = F.regexp_count(padded, F.lit(_STOP_PATTERN))
    return n_stop.cast("double") / F.greatest(token_count(text), F.lit(1))


def punct_ratio(text: Column) -> Column:
    """Punctuation character share — regexp_count of the class rather
    than length-of-stripped-copy (one scan, no string build; r6)."""
    n_punct = F.regexp_count(text, F.lit(r"[!-/:-@\[-`{-~]"))
    return n_punct.cast("double") / F.greatest(F.length(text), F.lit(1))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: rewards mid-length docs,
    low punctuation, presence of stopwords, sane word lengths —
    the classic C4/Gopher-style rule family reduced to arithmetic."""
    n = token_count(text)
    len_ok = F.when((n >= 10) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.5))
    wl = avg_token_len(text)
    wl_ok = F.when((wl >= 2.0) & (wl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    p_ok = F.lit(1.0) - F.least(punct_ratio(text) * 5, F.lit(1.0))
    s = stopword_ratio(text)
    s_ok = F.least(s * 4, F.lit(1.0))
    return (len_ok + wl_ok + p_ok + s_ok) / 4


def lang_id(text: Column) -> Column:
    """Cheapest-possible language gate: English stopword hit-rate
    (kept as the q_textstats feature for oracle stability). The
    MODEL-BASED scorer is functions/langid.py::with_lang_pred —
    per-language character-trigram profiles as literal weights,
    in-row integer codegen, its own value-exact oracle (q_langid)."""
    return F.when(stopword_ratio(text) >= 0.05, F.lit("en")).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """64-char-window rolling fingerprint: min portable-hash over
    character 8-grams of the normalized text (winnowing-style k-min
    sketch with k=1) — content-defined, shift-tolerant."""
    norm = portable_lower(F.regexp_replace(text, "[" + PORTABLE_WS + "]+", " "))
    n = F.length(norm)
    grams = F.when(n < 8, F.array(norm)).otherwise(
        F.transform(F.sequence(F.lit(1), n - 7),
                    lambda i: norm.substr(i, F.lit(8))))
    return F.array_min(F.transform(grams, lambda g: portable_hash(g, 7)))


def token_ngrams(text: Column, n: int = 2) -> Column:
    """ORDERED token n-grams WITH duplicates (unlike
    hashing.token_shingles, which distincts — repetition statistics
    need the multiset); texts shorter than n tokens yield themselves,
    mirroring the shingle convention. Built as substrings between
    token offsets (hashing._window_spans — value-identical, one copy
    per window instead of an interpreted slice+join, r6)."""
    from .hashing import _window_spans
    m = F.size(F.split(text, " "))
    return F.when(m < n, F.array(text)).otherwise(
        _window_spans(text, m, n))


def ngram_run_stats(text: Column, n: int = 2) -> Column:
    """``struct(total, distinct, top)`` of the token n-gram multiset —
    total occurrences, distinct n-grams, and the max multiplicity — in
    ONE fold over ONE sorted array.

    Equalities (the repetition suite's three signals from one pass):
    distinct values of a multiset = run boundaries of its sorted
    array; max multiplicity = longest equal-run. The r5 form built the
    n-gram array once per signal (size, array_distinct, sorted fold —
    higher-order functions are CodegenFallback, so nothing is shared
    across output columns); this builds and walks it once (r6 profile:
    q_repetition spent 21-26 s executor CPU per run on 5 000 docs,
    almost all in the duplicated interpreted array work).

    The first element is detected by ``total == 0``, not a sentinel
    ``prev`` value — an empty-string n-gram (empty doc) must still
    count as a new run."""
    g = F.array_sort(token_ngrams(text, n))
    zero = F.lit(0).cast("int")
    one = F.lit(1).cast("int")
    init = F.struct(F.lit("").alias("prev"), zero.alias("run"),
                    zero.alias("best"), zero.alias("total"),
                    zero.alias("distinct"))

    def step(acc: Column, x: Column) -> Column:
        same = (acc["total"] != zero) & (x == acc["prev"])
        run = F.when(same, acc["run"] + one).otherwise(one)
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
            (acc["total"] + one).alias("total"),
            (acc["distinct"] + F.when(same, zero).otherwise(one))
            .alias("distinct"))

    return F.aggregate(
        g, init, step,
        lambda a: F.struct(a["total"].alias("total"),
                           a["distinct"].alias("distinct"),
                           a["best"].alias("top")))


def dup_ngram_fraction(text: Column, n: int = 2) -> Column:
    """Gopher-style duplicate n-gram fraction: share of n-gram
    OCCURRENCES that are repeats of an earlier occurrence
    (1 - distinct/total). Pure in-row codegen — no explode, no
    shuffle; at corpus scale this is a map-only quality signal."""
    g = token_ngrams(text, n)
    return ((F.size(g) - F.size(F.array_distinct(g)))
            / F.size(g).cast("double"))


def top_ngram_fraction(text: Column, n: int = 2) -> Column:
    """Gopher-style top n-gram fraction: occurrences of the single
    most frequent n-gram / total n-grams. Computed IN-ROW as the
    longest equal-run of the SORTED n-gram array via a struct-
    accumulator fold — max run length of a sorted multiset IS the max
    multiplicity — so the corpus pays zero shuffle for it (the
    explode→groupBy formulation, which the DuckDB oracle uses as the
    closed form, would shuffle every n-gram occurrence)."""
    g = F.array_sort(token_ngrams(text, n))
    zero = F.lit(0).cast("int")
    init = F.struct(F.lit("").alias("prev"), zero.alias("run"),
                    zero.alias("best"))

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"],
                     acc["run"] + F.lit(1).cast("int")) \
            .otherwise(F.lit(1).cast("int"))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    best = F.aggregate(g, init, step, lambda a: a["best"])
    return best / F.size(g).cast("double")


# ------------------------------------------------------ memoized forms
# Column objects are immutable expression trees, so a builder keyed by
# the input COLUMN NAME can construct its expression once per process
# and hand the same object to every plan. Building these through py4j
# costs real driver wall time per call (quality_score ~60 ms, the
# repetition trio ~75 ms — r6 measurement), and the bench/driver
# rebuilds every query plan per run, so the memo removes a per-run
# fixed cost without touching semantics: the cached Column IS the
# expression the un-memoized call would have returned.

@lru_cache(maxsize=None)
def quality_score_named(name: str = "text") -> Column:
    """Memoized :func:`quality_score` over a named column."""
    return quality_score(F.col(name))


@lru_cache(maxsize=None)
def dup_ngram_fraction_named(name: str, n: int) -> Column:
    """Memoized :func:`dup_ngram_fraction` over a named column."""
    return dup_ngram_fraction(F.col(name), n)


@lru_cache(maxsize=None)
def top_ngram_fraction_named(name: str, n: int) -> Column:
    """Memoized :func:`top_ngram_fraction` over a named column."""
    return top_ngram_fraction(F.col(name), n)


__all__ = [
    "token_count", "bpe_ish_token_count", "avg_token_len",
    "stopword_ratio", "punct_ratio", "quality_score", "lang_id",
    "fingerprint", "token_ngrams", "ngram_run_stats",
    "dup_ngram_fraction",
    "top_ngram_fraction", "STOP_SUBSET", "ENGLISH_STOPWORDS",
    "quality_score_named", "dup_ngram_fraction_named",
    "top_ngram_fraction_named",
]
