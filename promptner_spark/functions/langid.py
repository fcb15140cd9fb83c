"""Character-trigram language identification — the model-based
upgrade of ``textstats.lang_id`` (r4 verdict Next #7: the stopword
heuristic was the one disclosed credibility gap in the quality-filter
family).

Design, in the repetition-fold tradition of this package: the model
is a LITERAL table of per-language character trigrams with small
integer weights, derived from public letter/function-word frequency
knowledge (the classic Cavnar-Trenkle n-gram profile idea reduced to
its discriminative head). Scoring is pure in-row codegen — per
trigram, the occurrence count is ``(len(s) - len(replace(s, t, '')))
/ 3`` — so the corpus pays ZERO shuffle and no Python for language
ID, and DuckDB replays the exact arithmetic for the value-exact
oracle (q_langid).

Two-stage rule, engine-identical in Spark and DuckDB:

1. **Script gate**: if ≥25% of characters are CJK-Unified Han, the
   text is ``zh`` (trigram profiles are a Latin-script instrument).
2. **Weighted trigram argmax** over the Latin profiles, first-wins
   on ties in PROFILE ORDER (a fixed tuple, not dict order), with an
   absolute floor: fewer than one weighted hit per 25 characters →
   ``und`` (too little evidence — hex dumps, word salad in no
   modeled language).

All counts and comparisons are integers (the one division, by 3, is
exact). Bit-identical across engines by construction.

Where the staging lives: here, in :func:`with_lang_pred`, the one
Spark form of the scorer. Every Spark caller (``q_langid``,
``operators/curate.py::curate_flags``, the tests) goes through it,
because the staging is what makes the plan compile: scores are
projected as columns before the decision rule reads them, and an
unstaged single expression outgrows whole-stage codegen's 64 KB
method limit. :func:`spark_lang_score_expr` is the one Spark spelling
of a score; the DuckDB mirror below (``sql_lang_score``,
``sql_lang_id``) is the independent oracle spelling.

Honest scope note: the synthetic sf corpus is English word-salad
under rotated lang labels, so THIS scorer (correctly) reads nearly
all of it as ``en`` — the confusion-matrix evaluation in
tests/test_langid.py shows exactly that, and the crafted
multilingual fixtures are where its discrimination is asserted.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, functions as F

# (language, ((trigram, weight), ...)) — order IS the tie-break.
# Trigrams include word-boundary spaces (text is space-padded before
# scoring); weights 2 mark near-unique markers (sch/ung for de,
# ció/ñ-free ión for es, zio/gli for it, the/th-family for en).
TRIGRAM_PROFILES: tuple[tuple[str, tuple[tuple[str, int], ...]], ...] = (
    ("en", ((" th", 2), ("the", 2), ("he ", 1), ("ing", 1), ("ng ", 1),
            ("and", 1), (" an", 1), ("nd ", 1), (" of", 2), ("of ", 1),
            (" to", 1), ("ed ", 1), (" is", 1), ("is ", 1), ("ion", 1))),
    ("de", (("der", 2), (" de", 1), ("ich", 2), ("sch", 2), ("die", 1),
            ("ie ", 1), ("und", 2), (" un", 1), ("ein", 2), (" ei", 1),
            ("en ", 1), ("ung", 2), (" ge", 1), ("cht", 1), ("das", 1))),
    ("fr", ((" le", 2), ("le ", 1), ("es ", 1), ("ent", 1), ("nt ", 1),
            ("que", 1), (" qu", 1), ("ue ", 1), (" la", 1), ("la ", 1),
            ("ais", 2), (" et", 2), ("et ", 1), ("ons", 1), ("eur", 1))),
    ("es", ((" de", 1), ("de ", 1), (" la", 1), ("la ", 1), ("os ", 2),
            ("as ", 1), ("ión", 2), ("ció", 2), ("que", 1), (" qu", 1),
            ("el ", 1), (" el", 1), ("ado", 1), (" en", 1), ("ent", 1))),
    ("it", ((" di", 2), ("di ", 1), ("che", 2), (" ch", 1), ("to ", 1),
            ("re ", 1), ("one", 1), ("zio", 2), ("gli", 2), ("ell", 1),
            ("ità", 2), (" co", 1), ("per", 1), ("del", 1), ("non", 1))),
)

LANGS: tuple[str, ...] = tuple(lang for lang, _ in TRIGRAM_PROFILES)

# at least one weighted trigram hit per this many characters, else und
MIN_CHARS_PER_HIT = 25
# Han fraction (in 1/4 units) at or above which the text is zh
HAN_NUM, HAN_DEN = 1, 4


def _norm(text: Column) -> Column:
    """lowercase, collapse whitespace, pad with boundary spaces —
    identical normalization on both engines (Spark regexp_replace is
    global; the DuckDB mirror passes the 'g' flag). The whitespace
    class is spelled out because Java's \\s includes vertical tab
    and RE2's does not (textstats.PORTABLE_WS)."""
    from .textstats import PORTABLE_WS, portable_lower

    return F.concat(F.lit(" "),
                    portable_lower(F.regexp_replace(
                        text, "[" + PORTABLE_WS + "]+", " ")),
                    F.lit(" "))


def spark_lang_score_expr(s_col: str, lang: str) -> str:
    """Weighted trigram hit count (int) of one language profile over
    the normalized column ``s_col``, as one Spark-SQL expression
    string for ``F.expr``. Per trigram, the non-overlapping occurrence
    count is the length delta of replace-with-empty, divided by 3.
    One string per language costs one py4j call per score; the
    Column-API spelling made ~7 round trips per trigram (~0.9 s of
    driver-side plan construction per q_langid build, measured r5).
    Spark's ``/`` yields DOUBLE and the INT cast truncates; the DuckDB
    mirror uses ``//``. Both agree because the length delta is an
    exact multiple of 3."""
    profile = dict(TRIGRAM_PROFILES)[lang]
    terms = []
    for trigram, weight in profile:
        lit = trigram.replace("'", "''")
        c = (f"CAST((length({s_col}) - "
             f"length(replace({s_col}, '{lit}', ''))) / 3 AS INT)")
        terms.append(c if weight == 1 else f"{c} * {weight}")
    return "CAST(" + " + ".join(terms) + " AS INT)"


@lru_cache(maxsize=None)
def _pred() -> Column:
    """Decision rule over the staged columns ``s_<lang>``, ``n_norm``
    and the raw ``text``: zh by script gate, else first-wins argmax
    over the trigram profiles, else und below the evidence floor.
    Memoized: the fold costs ~30 ms of py4j round trips to build, and
    every registry call rebuilds its plan (textstats memo note)."""
    best_score = F.lit(-1)
    best_lang = F.lit("und")
    for lang in LANGS:
        s = F.col(f"s_{lang}")
        is_better = s > best_score          # strict: first-wins ties
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    evidence_ok = best_score * F.lit(MIN_CHARS_PER_HIT) >= F.col("n_norm")
    latin = F.when(evidence_ok, best_lang).otherwise(F.lit("und"))
    text = F.col("text")
    # characters in the CJK-Unified-Ideographs block: a Java regex
    # class here, an RE2 \x{..} range in the DuckDB mirror
    han = F.length(F.regexp_replace(text, "[^一-鿿]", ""))
    # greatest(len, 1): an empty text must not satisfy 0 >= 0
    return F.when(
        han * F.lit(HAN_DEN)
        >= F.greatest(F.length(text), F.lit(1)) * F.lit(HAN_NUM),
        F.lit("zh")
    ).otherwise(latin)


def with_lang_pred(df: DataFrame) -> DataFrame:
    """``df``'s columns plus ``s_<lang>`` (int, one per profile, in
    ``LANGS`` order) and ``pred`` (the predicted language), scored
    from ``df.text``. ``df`` must not already carry ``norm``,
    ``n_norm``, ``s_<lang>`` or ``pred``.

    The one Spark form of the scorer, in three projections: ``norm``;
    then ``n_norm`` and one score column per language; then the
    decision rule. Each stage references the previous one's columns
    many times, so the optimizer keeps them apart, and each score is
    evaluated once per row as ONE column the argmax reads. Folded into
    a single expression, the argmax re-expands all 75 trigram counts
    and the generated code outgrows the JVM's 64 KB method limit:
    whole-stage codegen falls back on every call (one row took ~14 s
    warm on 4 cores) and raises when ``spark.sql.codegen.fallback`` is off."""
    cols = df.columns
    nrm = df.select(*cols, _norm(F.col("text")).alias("norm"))
    scored = nrm.select(
        *cols,
        F.greatest(F.length("norm"), F.lit(1)).alias("n_norm"),
        *[F.expr(spark_lang_score_expr("norm", lang)).alias(f"s_{lang}")
          for lang in LANGS],
    )
    return scored.select(
        *cols, *[f"s_{lang}" for lang in LANGS], _pred().alias("pred"))


# ------------------------------------------------- DuckDB SQL mirror
def _sql_norm(col: str) -> str:
    from .textstats import sql_portable_lower

    collapsed = (f"regexp_replace({col}, "
                 f"'[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')")
    return f"' ' || {sql_portable_lower(collapsed)} || ' '"


def _sql_count(s: str, trigram: str) -> str:
    lit = trigram.replace("'", "''")
    return f"((length({s}) - length(replace({s}, '{lit}', ''))) // 3)"


def sql_lang_score(s: str, lang: str) -> str:
    profile = dict(TRIGRAM_PROFILES)[lang]
    terms = []
    for trigram, weight in profile:
        c = _sql_count(s, trigram)
        terms.append(c if weight == 1 else f"{c} * {weight}")
    return "CAST(" + " + ".join(terms) + " AS INT)"


def sql_lang_id(text_col: str, norm_alias: str) -> str:
    """CASE expression over pre-computed score columns s_<lang> and a
    norm-length column ``n_norm`` (the caller's CTE provides them) —
    the same first-wins argmax + evidence floor + Han gate."""
    # first-wins argmax as a nested CASE: lang_i wins iff its score
    # strictly exceeds every earlier profile's and is >= every later
    # one's (exactly the fold's strict-> semantics)
    branches = []
    for i, lang in enumerate(LANGS):
        conds = [f"s_{lang} > s_{earlier}" for earlier in LANGS[:i]]
        conds += [f"s_{lang} >= s_{later}" for later in LANGS[i + 1:]]
        conds.append(f"s_{lang} * {MIN_CHARS_PER_HIT} >= n_norm")
        branches.append(
            "WHEN " + " AND ".join(conds) + f" THEN '{lang}'")
    han = (f"length(regexp_replace({text_col}, "
           f"'[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g'))")
    return (f"CASE WHEN {han} * {HAN_DEN} >= "
            f"greatest(length({text_col}), 1) * {HAN_NUM} "
            f"THEN 'zh' " + " ".join(branches) + " ELSE 'und' END")


__all__ = [
    "TRIGRAM_PROFILES", "LANGS", "MIN_CHARS_PER_HIT", "with_lang_pred",
    "sql_lang_score", "sql_lang_id", "_sql_norm",
]
