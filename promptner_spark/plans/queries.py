"""Driver-contract query registry: every SURVEY.md §2 operator exposed
as a (Spark callable, DuckDB oracle SQL) pair.

Design rules that make value-hash parity achievable cross-engine:

- integers everywhere the math is exact (counts, scaled ints via
  per-row round()); NO cross-row float sums (partial-agg order would
  change the last bits);
- hashing via functions/hashing.py portable md5 primitives, mirrored
  literally in the SQL;
- DuckDB aggregate sums cast back to BIGINT (DuckDB widens to
  HUGEINT);
- every computed column aliased identically on both sides.

The synthetic corpus has no natural near-duplicates (checked: consec
3-gram jaccard ≈ 0), so dedup/CC queries deterministically AUGMENT the
corpus with exact copies (doc_id%10==0 → +1M id) and 80%-prefix
near-copies (doc_id%5==0 → +2M id) — identically in both engines.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import textstats as TS
from ..functions.hashing import duckdb_portable_hash, portable_hash
from ..operators import (
    decontaminate as decon, dedup, lines as lines_op, linking,
    pii as pii_op, sample as smp, similarity, triples as triples_op,
)
from ..operators.components import connected_components
from ..operators.gazetteer import (
    ALIAS_ROWS, DUCKDB_ALIASES_CTE, ORACLE_GAZETTEER, duckdb_gazetteer_cte,
)
from ..operators.infer import extract_mentions
from ..operators.model import GazetteerBackend, RetryingBackend
from ..operators.verify import verify_types
from ..sources.pages import DUCKDB_PAGES_CTE, synthesize_pages
from .checkpoint import materialize

BIG_PRIME = 1_000_000_007

# ---------------------------------------------------------- cache hygiene
# The driver runs all 52 registry queries sequentially in ONE session.
# Queries that persist intermediates must release them, but only AFTER
# the driver has materialized the returned DataFrame — so releases are
# DEFERRED: each query registers its caches here, and the next query's
# entry (the _managed wrapper on every registry function) drains the
# list. Nothing cached survives past the following query call, so a
# 52-query session holds at most one query's caches at a time. Safe
# for checkpoint blocks too (checkpoint.materialize's handle): the
# driver materializes a query's result BEFORE calling the next query,
# so released data is never read again.
#
# Every call builds its plan afresh. The one DataFrame memo is
# scans.cached_parquet, stamped with the files' mtime and size; Column
# expression trees are memoized by the lru_cache builders. A returned
# DataFrame must not be memoized: collecting it again reuses the
# shuffle stages AQE already materialized, so it would serve the old
# rows after the corpus is rewritten.
_LIVE_CACHES: list[DataFrame] = []


def _release_pending() -> None:
    """Unpersist every cache registered by the PREVIOUS query."""
    while _LIVE_CACHES:
        df = _LIVE_CACHES.pop()
        try:
            df.unpersist()
        except Exception:
            pass   # session already stopped — nothing to release


def _defer_release(*dfs: DataFrame) -> None:
    _LIVE_CACHES.extend(dfs)


# span-F1 perturbed predictor: two misses (FN) + one type flip (FP+FN)
PRED_GAZ = {s: ("STRUCT" if s == "window" else t)
            for s, t in ORACLE_GAZETTEER.items()
            if s not in ("merge", "batch")}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # memoized scan plan — ~100 ms of per-call driver analysis saved
    # on every registry build; data still read per action (scans.py)
    from ..scans import cached_parquet
    return cached_parquet(spark, f"{sf_dir}/documents.parquet")


def _splits(sf_dir: str, table: str = "documents", scans: int = 1) -> int:
    """Driver-side scan-split estimate for a testdata table —
    ``scans`` multiplies for self-union plans that scan the file once
    per branch (os.stat only; see dedup.scan_splits_of — replaces the
    ~100 ms-per-call df.rdd probe, r6)."""
    from ..operators.dedup import scan_splits_of
    return scans * scan_splits_of(f"{sf_dir}/{table}.parquet")


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with splits-starvation repair (dedup._spread): the
    small local parquet yields 2 scan splits, which starves heavy
    per-row expressions (rolling-hash fingerprint measured 18.7s on
    2/32 cores vs 1.3s spread). No-op at real corpus sizes."""
    from ..operators.dedup import _spread
    return _spread(_docs(spark, sf_dir), splits_hint=_splits(sf_dir))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings with splits-starvation repair (dedup._spread): the
    small local parquet yields 1-2 scan splits, so the hyperplane/
    centroid/cosine expression work downstream of it ran on 2 of 32
    cores (r6 stage audit: the whole q_embdup_lsh body on 2 tasks).
    No-op at real corpus sizes."""
    from ..operators.dedup import _spread
    from ..scans import cached_parquet
    return _spread(cached_parquet(spark, f"{sf_dir}/embeddings.parquet"),
                   splits_hint=_splits(sf_dir, "embeddings"))


def _emb_dim(sf_dir: str) -> int:
    """Vector dimensionality from the parquet footer + first batch —
    driver-side pyarrow read, no Spark job (VERDICT r1 minor #5)."""
    import pyarrow.parquet as pq
    pf = pq.ParquetFile(f"{sf_dir}/embeddings.parquet")
    batch = next(pf.iter_batches(batch_size=1, columns=["embedding"]))
    return len(batch.column(0)[0])


# ------------------------------------------------------------------ S9/S10
def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical html→text extraction, summarized per lang."""
    from ..sources.pages import extract_text
    pages = synthesize_pages(spark, sf_dir)
    ext = extract_text(F.col("html"))
    return pages.select(
        "lang", "text",
        ext.alias("extracted"),
    ).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("extracted") == F.col("text"), 1).otherwise(0))
        .cast("long").alias("n_ok"),
        F.sum(F.pmod(portable_hash(F.col("extracted")), F.lit(BIG_PRIME)))
        .cast("long").alias("text_hash_sum"),
    )


def _sql_extract_text() -> str:
    h = duckdb_portable_hash("regexp_extract(decode(html), '<p>(.*)</p>', 1)")
    return f"""
WITH {DUCKDB_PAGES_CTE}
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN regexp_extract(decode(html), '<p>(.*)</p>', 1) = text
                THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
       CAST(sum({h} % {BIG_PRIME}) AS BIGINT) AS text_hash_sum
FROM pages GROUP BY lang"""


# ----------------------------------------------------- M4+A2+SP1 end-to-end
def _oracle_mentions(spark: SparkSession, sf_dir: str,
                     gaz: dict[str, str] | None = None,
                     carry: tuple[str, ...] = ()) -> DataFrame:
    """The full infer→parse→align→explode chain under the single-word
    gazetteer — the config whose end-to-end semantics have a SQL
    closed form (first occurrence of each present gazetteer word)."""
    gaz = gaz if gaz is not None else ORACLE_GAZETTEER
    pages = synthesize_pages(spark, sf_dir)
    sents = pages.select("url", F.lit(0).cast("int").alias("sent_id"), "text")
    # fused single-UDF stage (== unfused chain, tests/test_pipeline.py)
    return extract_mentions(
        sents, carry=carry,
        backend_factory=lambda: RetryingBackend(GazetteerBackend(gaz)))


def _sql_mentions_cte(gaz: dict[str, str] | None = None,
                      gaz_name: str = "gaz") -> str:
    """Closed form of the oracle-variant pipeline output."""
    return f"""mentions AS (
  SELECT p.url, g.surface,
         CAST(list_position(string_split(p.text, ' '), g.surface) - 1 AS INTEGER)
           AS begin_pos,
         g.type
  FROM pages p JOIN {gaz_name} g
    ON list_contains(string_split(p.text, ' '), g.surface))"""


def q_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _oracle_mentions(spark, sf_dir).select(
        "url", "surface", F.col("begin").alias("begin_pos"), "type")


def _sql_mentions() -> str:
    return f"""
WITH {DUCKDB_PAGES_CTE}, {duckdb_gazetteer_cte()}, {_sql_mentions_cte()}
SELECT url, surface, begin_pos, type FROM mentions"""


def q_mention_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _oracle_mentions(spark, sf_dir).groupBy("type").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("surface").alias("n_surfaces"),
        F.countDistinct("url").alias("n_docs"),
    )


def _sql_mention_type_counts() -> str:
    return f"""
WITH {DUCKDB_PAGES_CTE}, {duckdb_gazetteer_cte()}, {_sql_mentions_cte()}
SELECT type, count(*) AS n_mentions,
       count(DISTINCT surface) AS n_surfaces,
       count(DISTINCT url) AS n_docs
FROM mentions GROUP BY type"""


# ------------------------------------------------------------------- J1/J3
def q_link_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _oracle_mentions(spark, sf_dir)
    linked = linking.link_exact(m, linking.alias_df(spark))
    return linked.select("url", "surface", "entity_id", "canonical_name")


def q_link_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as q_link_exact via the salted skew-join path —
    checked against the SAME oracle SQL (strategy-independence)."""
    m = _oracle_mentions(spark, sf_dir)
    linked = linking.link_exact_salted(m, linking.alias_df(spark), salt=8)
    return linked.select("url", "surface", "entity_id", "canonical_name")


def _sql_link_exact() -> str:
    return f"""
WITH {DUCKDB_PAGES_CTE}, {duckdb_gazetteer_cte()}, {_sql_mentions_cte()},
{DUCKDB_ALIASES_CTE}
SELECT m.url, m.surface, a.entity_id, a.canonical_name
FROM mentions m LEFT JOIN aliases a ON m.surface = a.alias_norm"""


# --------------------------------------------------------------------- G3
def q_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialized: canonicalize feeds a self-join (emit_triples) plus the
    # counts agg — without the boundary the inference/parse UDF chain
    # would re-run once per plan branch.
    m, blocks = materialize(_oracle_mentions(spark, sf_dir))
    _defer_release(blocks)
    linked = linking.link_exact(m, linking.alias_df(spark))
    canonical = triples_op.canonicalize(linked)
    counts = triples_op.triple_counts(triples_op.emit_triples(canonical))
    return counts.select(
        "subj", "pred", "obj",
        F.col("n_sents").cast("long").alias("n_sents"),
        F.col("n_docs").cast("long").alias("n_docs"))


def _sql_triples() -> str:
    return f"""
WITH {DUCKDB_PAGES_CTE}, {duckdb_gazetteer_cte()}, {_sql_mentions_cte()},
{DUCKDB_ALIASES_CTE},
ents AS (
  SELECT DISTINCT m.url, a.canonical_name AS entity_name
  FROM mentions m JOIN aliases a ON m.surface = a.alias_norm)
SELECT a.entity_name AS subj, 'cooccurs_with' AS pred, b.entity_name AS obj,
       count(*) AS n_sents, count(DISTINCT a.url) AS n_docs
FROM ents a JOIN ents b ON a.url = b.url AND a.entity_name < b.entity_name
GROUP BY 1, 2, 3"""


# ----------------------------------------------------------------- E2 / J5
def q_span_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span P/R/F1 of the perturbed predictor vs gold. ONE inference
    pass AND one job (r4): PRED_GAZ differs from the oracle gazetteer
    only by dropped surfaces and a type flip, and single-word
    alignment is per-surface independent, so every pred span
    corresponds 1:1 to the gold row at the same (url, begin) — a
    kept row with matching type is a TP, a kept row with a flipped
    type is an FP (under the pred type) plus an FN (under the gold
    type), a dropped row is an FN. That turns span_prf's three
    join+agg branches (which needed the persisted base + eager fill —
    the r3 0.5 s tax) into a single explode + groupBy(type) over the
    un-persisted inference chain. The DuckDB oracle still computes
    pred from scratch and joins — hash_match proves the derivation;
    the general join path (operators/evaluate.py::span_prf) stays the
    library surface and is pytest- and evaluate_gold-covered."""
    base = _oracle_mentions(spark, sf_dir)
    dropped = [s for s in ORACLE_GAZETTEER if s not in PRED_GAZ]
    flipped = {s: t for s, t in PRED_GAZ.items()
               if ORACLE_GAZETTEER.get(s) != t}
    gtype = F.col("type")
    ptype = gtype
    for s, t in flipped.items():
        ptype = F.when(F.col("surface") == s, F.lit(t)).otherwise(ptype)
    kept = ~F.col("surface").isin(dropped)

    def contrib(ty, tp, fp, fn):
        return F.struct(ty.alias("type"),
                        F.lit(tp).alias("tp"), F.lit(fp).alias("fp"),
                        F.lit(fn).alias("fn"))

    contribs = (
        F.when(kept & (ptype == gtype), F.array(contrib(gtype, 1, 0, 0)))
        .when(kept, F.array(contrib(ptype, 0, 1, 0),
                            contrib(gtype, 0, 0, 1)))
        .otherwise(F.array(contrib(gtype, 0, 0, 1))))
    m = (base.select(F.explode(contribs).alias("c"))
         .groupBy(F.col("c.type").alias("type"))
         .agg(F.sum("c.tp").alias("tp"),
              F.sum("c.fp").alias("fp"),
              F.sum("c.fn").alias("fn")))
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    f1 = F.when(prec + rec > 0,
                2 * prec * rec / (prec + rec)).otherwise(F.lit(0.0))
    return m.select(
        "type",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.round(f1 * 1_000_000).cast("long").alias("f1_scaled"),
    )


def _sql_span_f1() -> str:
    pred_vals = ", ".join(f"('{s}', '{t}')" for s, t in PRED_GAZ.items())
    return f"""
WITH {DUCKDB_PAGES_CTE}, {duckdb_gazetteer_cte()},
pgaz(surface, type) AS (VALUES {pred_vals}),
{_sql_mentions_cte()},
pmentions AS (
  SELECT p.url, g.surface,
         CAST(list_position(string_split(p.text, ' '), g.surface) - 1 AS INTEGER)
           AS begin_pos,
         g.type
  FROM pages p JOIN pgaz g
    ON list_contains(string_split(p.text, ' '), g.surface)),
tp AS (SELECT p.type, count(*) AS tp FROM pmentions p
       WHERE EXISTS (SELECT 1 FROM mentions g WHERE g.url = p.url
                     AND g.begin_pos = p.begin_pos AND g.type = p.type)
       GROUP BY 1),
fp AS (SELECT p.type, count(*) AS fp FROM pmentions p
       WHERE NOT EXISTS (SELECT 1 FROM mentions g WHERE g.url = p.url
                         AND g.begin_pos = p.begin_pos AND g.type = p.type)
       GROUP BY 1),
fn AS (SELECT g.type, count(*) AS fn FROM mentions g
       WHERE NOT EXISTS (SELECT 1 FROM pmentions p WHERE p.url = g.url
                         AND p.begin_pos = g.begin_pos AND p.type = g.type)
       GROUP BY 1),
m AS (
  SELECT coalesce(tp.type, fp.type, fn.type) AS type,
         coalesce(tp.tp, 0) AS tp, coalesce(fp.fp, 0) AS fp,
         coalesce(fn.fn, 0) AS fn
  FROM tp FULL JOIN fp ON tp.type = fp.type
          FULL JOIN fn ON coalesce(tp.type, fp.type) = fn.type)
SELECT type, tp, fp, fn,
  CAST(round(CASE WHEN (tp / greatest(tp + fp, 1)::DOUBLE)
                     + (tp / greatest(tp + fn, 1)::DOUBLE) > 0
    THEN 2 * (tp / greatest(tp + fp, 1)::DOUBLE)
           * (tp / greatest(tp + fn, 1)::DOUBLE)
         / ((tp / greatest(tp + fp, 1)::DOUBLE)
            + (tp / greatest(tp + fn, 1)::DOUBLE))
    ELSE 0.0 END * 1000000) AS BIGINT) AS f1_scaled
FROM m"""


# ------------------------------------------------------------- text analysis
@functools.lru_cache(maxsize=None)
def _textstats_cols() -> tuple:
    """q_textstats' per-doc signal columns, memoized (immutable
    expression trees; ~150 ms of py4j build per call otherwise —
    see functions/textstats.py memo note)."""
    t = F.col("text")
    return (
        TS.token_count(t).alias("ntok"),
        TS.bpe_ish_token_count(t).alias("nbpe"),
        (TS.quality_score(t) >= 0.7).cast("int").alias("hi_q"),
        (TS.lang_id(t) == "en").cast("int").alias("is_en"),
    )


def q_textstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_spread(spark, sf_dir)
    return d.select("lang", *_textstats_cols()).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").cast("long").alias("sum_tokens"),
        F.sum("nbpe").cast("long").alias("sum_bpe_tokens"),
        F.sum("hi_q").cast("long").alias("n_hi_quality"),
        F.sum("is_en").cast("long").alias("n_langid_en"),
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per doc (duplicate
    2-/3-gram fraction, top-2-gram fraction). The Spark side is pure
    in-row work with NO shuffle — r6: each n-gram multiset is built,
    sorted and folded ONCE (textstats.ngram_run_stats gives total/
    distinct/max-multiplicity from a single pass; the r5 form built
    the array once per output column, and higher-order functions are
    CodegenFallback so nothing was shared). The two-step select keeps
    the fold single-evaluation: CollapseProject does not inline a
    non-cheap expression referenced by several outputs. The DuckDB
    oracle computes the explode+groupBy closed form and must agree
    exactly."""
    d = _docs_spread(spark, sf_dir)
    return d.select(*_repetition_stats_cols()) \
            .select(*_repetition_cols())


@functools.lru_cache(maxsize=None)
def _repetition_stats_cols() -> tuple:
    return (
        F.col("doc_id").cast("long").alias("doc_id"),
        TS.ngram_run_stats(F.col("text"), 2).alias("s2"),
        TS.ngram_run_stats(F.col("text"), 3).alias("s3"),
    )


@functools.lru_cache(maxsize=None)
def _repetition_cols() -> tuple:
    """q_repetition's output columns over the per-n stat structs,
    memoized (immutable expression trees — textstats memo note)."""
    s2, s3 = F.col("s2"), F.col("s3")

    def scaled(c):
        return F.round(c * 1_000_000).cast("long")

    def dup(s):
        return (s["total"] - s["distinct"]) / s["total"].cast("double")

    return (
        F.col("doc_id"),
        s2["total"].cast("long").alias("n_2grams"),
        scaled(dup(s2)).alias("dup2_scaled"),
        scaled(s2["top"] / s2["total"].cast("double"))
        .alias("top2_scaled"),
        scaled(dup(s3)).alias("dup3_scaled"),
    )


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language ID (functions/langid.py — the
    model-based upgrade of the stopword heuristic, r4 verdict Next
    #7) evaluated as a CONFUSION MATRIX against the corpus labels:
    (label, pred) cells with doc counts and summed per-language
    trigram scores. The scorer is pure in-row integer codegen (one
    length-delta replace per literal trigram — no explode, no
    shuffle, no Python); the one exchange here is the confusion-cell
    groupBy, whose cardinality is |langs|² regardless of corpus size.
    The honest result on the synthetic corpus: nearly every cell
    lands in pred='en', because the corpus is English word-salad
    under rotated labels — the crafted multilingual fixtures in
    tests/test_langid.py are where discrimination is asserted."""
    from ..functions import langid as L

    d = _docs_spread(spark, sf_dir)
    # three projections so each trigram score is ONE column the
    # decision rule references — not a re-expansion of the whole
    # 75-trigram expression tree inside the argmax (halves the plan /
    # task-binary size)
    nrm = d.select("lang", "text", L._norm(F.col("text")).alias("norm"))
    s = nrm.select(
        F.col("lang").alias("label"), "text",
        F.greatest(F.length("norm"), F.lit(1)).alias("n_norm"),
        *[F.expr(L.spark_lang_score_expr("norm", lang)).alias(f"s_{lang}")
          for lang in L.LANGS],
    )
    scored = s.select(
        "label",
        L.lang_pred_named("n_norm", "text").alias("pred"),
        *[f"s_{lang}" for lang in L.LANGS],
    )
    return scored.groupBy("label", "pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(f"s_{lang}").cast("long").alias(f"sum_s_{lang}")
          for lang in L.LANGS],
    )


def _sql_langid() -> str:
    from ..functions.langid import (
        LANGS, _sql_norm, sql_lang_id, sql_lang_score,
    )

    score_cols = ",\n         ".join(
        f"{sql_lang_score('norm', lang)} AS s_{lang}" for lang in LANGS)
    sums = ", ".join(
        f"CAST(SUM(s_{lang}) AS BIGINT) AS sum_s_{lang}" for lang in LANGS)
    return f"""
WITH nrm AS (
  SELECT doc_id, lang, text, {_sql_norm('text')} AS norm FROM documents),
s AS (
  SELECT doc_id, lang, text, length(norm) AS n_norm,
         {score_cols}
  FROM nrm),
p AS (
  SELECT lang AS label, {sql_lang_id('text', 'norm')} AS pred,
         {', '.join(f's_{lang}' for lang in LANGS)}
  FROM s)
SELECT label, pred, COUNT(*) AS n_docs, {sums}
FROM p GROUP BY label, pred"""


def _sql_token_ngrams(t: str, n: int) -> str:
    """Mirror of textstats.token_ngrams (multiset, NOT distinct)."""
    toks = f"string_split({t}, ' ')"
    return (
        f"(CASE WHEN len({toks}) < {n} THEN [{t}] "
        f"ELSE list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> array_to_string(list_slice({toks}, CAST(i AS INTEGER), "
        f"CAST(i AS INTEGER) + {n - 1}), ' ')) END)"
    )


def _sql_repetition() -> str:
    return f"""
WITH g AS (
  SELECT doc_id, {_sql_token_ngrams('text', 2)} AS g2,
         {_sql_token_ngrams('text', 3)} AS g3
  FROM documents),
base AS (
  SELECT doc_id, g2, len(g2) AS t2, len(list_distinct(g2)) AS d2,
         len(g3) AS t3, len(list_distinct(g3)) AS d3
  FROM g),
occ AS (SELECT doc_id, unnest(g2) AS gr FROM base),
cnt AS (SELECT doc_id, max(c) AS top FROM
          (SELECT doc_id, gr, count(*) AS c FROM occ GROUP BY doc_id, gr)
        GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.t2 AS BIGINT) AS n_2grams,
       CAST(round((b.t2 - b.d2) / b.t2::DOUBLE * 1000000) AS BIGINT)
         AS dup2_scaled,
       CAST(round(c.top / b.t2::DOUBLE * 1000000) AS BIGINT)
         AS top2_scaled,
       CAST(round((b.t3 - b.d3) / b.t3::DOUBLE * 1000000) AS BIGINT)
         AS dup3_scaled
FROM base b JOIN cnt c ON c.doc_id = b.doc_id"""


_STOPS_SQL = "[" + ", ".join(f"'{s}'" for s in TS.STOP_SUBSET) + "]"
# whitespace class spelled out: RE2's \s excludes \x0B, Java's
# includes it (see functions/textstats.py::PORTABLE_WS)
_BPE_PAT = r"[A-Za-z]{1,8}|[0-9]|[^A-Za-z0-9 \t\n\x0B\f\r]"
_PUNCT_NEG = r"[^!-/:-@\[-`{-~]"


def _sql_quality_expr(t: str = "text") -> str:
    toks = f"string_split({t}, ' ')"
    n = f"greatest(len({toks}), 1)"
    wl = f"(list_sum(list_transform({toks}, x -> length(x)))::DOUBLE / {n})"
    pr = (f"(length(regexp_replace({t}, '{_PUNCT_NEG}', '', 'g'))::DOUBLE"
          f" / greatest(length({t}), 1))")
    sr = (f"(len(list_filter({toks}, x -> list_contains({_STOPS_SQL},"
          f" {TS.sql_portable_lower('x')})))::DOUBLE / {n})")
    return (
        f"((CASE WHEN len({toks}) BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.5 END)"
        f" + (CASE WHEN {wl} BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)"
        f" + (1.0 - least({pr} * 5, 1.0))"
        f" + least({sr} * 4, 1.0)) / 4"
    )


def _sql_stop_ratio(t: str = "text") -> str:
    toks = f"string_split({t}, ' ')"
    return (f"(len(list_filter({toks}, x -> list_contains({_STOPS_SQL},"
            f" {TS.sql_portable_lower('x')})))::DOUBLE"
            f" / greatest(len({toks}), 1))")


def _sql_textstats() -> str:
    return f"""
SELECT lang, count(*) AS n_docs,
  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
  CAST(sum(len(regexp_extract_all(text, '{_BPE_PAT}'))) AS BIGINT)
    AS sum_bpe_tokens,
  CAST(sum(CASE WHEN {_sql_quality_expr()} >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hi_quality,
  CAST(sum(CASE WHEN {_sql_stop_ratio()} >= 0.05 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_langid_en
FROM documents GROUP BY lang"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_spread(spark, sf_dir)
    return (
        d.where((F.col("lang") == "en")
                & (TS.quality_score_named("text") >= 0.6))
        .groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"))
    )


def _sql_quality_filter() -> str:
    return f"""
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE lang = 'en' AND {_sql_quality_expr()} >= 0.6
GROUP BY source"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_spread(spark, sf_dir)
    return d.select("doc_id", TS.fingerprint(F.col("text")).alias("fp"))


def _sql_fingerprint() -> str:
    h = duckdb_portable_hash("substr(norm, CAST(i AS INTEGER), 8)", seed=7)
    collapsed = ("regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+'"
                 ", ' ', 'g')")
    norm = TS.sql_portable_lower(collapsed)
    return f"""
WITH n AS (SELECT doc_id, {norm} AS norm
           FROM documents)
SELECT doc_id,
  CASE WHEN length(norm) < 8
       THEN {duckdb_portable_hash("norm", seed=7)}
       ELSE list_min(list_transform(range(1, length(norm) - 6),
                     i -> {h}))
  END AS fp
FROM n"""


# ------------------------------------------------------------------- dedup
def _augmented_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dup = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    return d.unionByName(dup)


_SQL_AUG_EXACT = """aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = dedup.exact_dup_groups(_augmented_exact(spark, sf_dir))
    return groups.select(
        "content_md5",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("keeper_id").cast("long").alias("keeper_id"))


def _sql_dedup_exact() -> str:
    return f"""
WITH {_SQL_AUG_EXACT}
SELECT md5(text) AS content_md5, count(*) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keeper_id
FROM aug GROUP BY 1 HAVING count(*) > 1"""


def _augmented_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + 80%-prefix near-copies of every 5th doc."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    trunc = F.concat_ws(
        " ", F.slice(toks, 1, F.floor(F.size(toks) * 0.8).cast("int")))
    near = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), trunc.alias("text"))
    return d.unionByName(near)


_SQL_AUG_NEAR = """aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1,
           CAST(floor(len(string_split(text, ' ')) * 0.8) AS INTEGER)), ' ')
    AS text
  FROM documents WHERE doc_id % 5 = 0)"""

_MINHASH_N, _BAND_SIZE, _SHINGLE_K, _MIN_J = 16, 4, 3, 0.4


def _sql_shingles(t: str = "text", k: int = _SHINGLE_K) -> str:
    toks = f"string_split({t}, ' ')"
    return (
        f"(CASE WHEN len({toks}) < {k} THEN [{t}] "
        f"ELSE list_distinct(list_transform("
        f"range(1, len({toks}) - {k - 2}), "
        f"i -> array_to_string(list_slice({toks}, CAST(i AS INTEGER), "
        f"CAST(i AS INTEGER) + {k - 1}), ' '))) END)"
    )


def _sql_minhash_sig(shingles_expr: str, n_hashes: int = _MINHASH_N) -> list[str]:
    from ..functions.hashing import duckdb_portable_hash_half
    return [
        "list_min(list_transform(" + shingles_expr + ", s -> "
        + duckdb_portable_hash_half("s", seed=i // 2, half=i % 2) + "))"
        for i in range(n_hashes)
    ]


def _sql_bands(sig_cols: list[str], band_size: int = _BAND_SIZE) -> list[str]:
    out = []
    for b in range(len(sig_cols) // band_size):
        parts = sig_cols[b * band_size:(b + 1) * band_size]
        joined = ", ',', ".join(f"CAST({p} AS VARCHAR)" for p in parts)
        out.append(f"md5(concat({joined}))")
    return out


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = _augmented_near(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(
        aug, min_jaccard=_MIN_J, n_hashes=_MINHASH_N,
        band_size=_BAND_SIZE, shingle_k=_SHINGLE_K,
        splits_hint=_splits(sf_dir, scans=2))
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round(F.col("jaccard") * 1_000_000).cast("long").alias("j_scaled"))


def _sql_minhash_pairs() -> str:
    sig = _sql_minhash_sig("s")
    bands = _sql_bands(sig)
    band_rows = ", ".join(
        f"({i}, {b})" for i, b in enumerate(bands))
    return f"""
WITH {_SQL_AUG_NEAR},
sh AS (SELECT doc_id, {_sql_shingles('text')} AS s FROM aug),
bands AS (
  SELECT doc_id, s, band_id, digest
  FROM sh, LATERAL (VALUES {band_rows}) AS b(band_id, digest)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.digest = b.digest AND a.doc_id < b.doc_id),
verified AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(sa.s, sb.s))::DOUBLE /
         (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS j
  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
              JOIN sh sb ON sb.doc_id = c.id_b)
SELECT id_a, id_b, CAST(round(j * 1000000) AS BIGINT) AS j_scaled
FROM verified WHERE j >= {_MIN_J}"""


def _augmented_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation input: documents + exact copies of every 10th doc
    (doc_id+1M, the q_dedup_exact augmentation with lang carried) +
    80%-prefix near-copies of every 5th (doc_id+2M, the
    q_minhash_pairs augmentation likewise) — so every funnel stage
    of q_curate provably drops something."""
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    exact = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "lang", "text")
    toks = F.split(F.col("text"), " ")
    trunc = F.concat_ws(
        " ", F.slice(toks, 1, F.floor(F.size(toks) * 0.8).cast("int")))
    near = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "lang",
        trunc.alias("text"))
    return d.unionByName(exact).unionByName(near)


def q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation funnel (operators/curate.py):
    quality+language gate → exact-dedup keeper window → MinHash-LSH
    near-dup drop → per-language retention stats. The composite
    training-data prep job, as one declarative plan — every stage is
    a primitive this engine already oracle-checks in isolation
    (q_quality_filter, q_langid, q_dedup_exact, q_minhash_pairs);
    this query pins their COMPOSITION value-exactly."""
    from ..operators.curate import curate_flags, stats_from_flags
    from ..operators.dedup import _spread

    aug = _augmented_curate(spark, sf_dir)
    hint = _splits(sf_dir, scans=3)
    flags = curate_flags(_spread(aug, splits_hint=hint), quality_min=0.6,
                         min_jaccard=_MIN_J, n_hashes=_MINHASH_N,
                         band_size=_BAND_SIZE, shingle_k=_SHINGLE_K,
                         splits_hint=hint)
    return stats_from_flags(flags)


def _sql_curate_core(src: str) -> str:
    """CTE chain replaying curate_flags + the near-dup drop set over
    ``src`` (doc_id, lang, text): ends with ``flagged`` (doc_id, lang,
    text, pass_gate, is_keeper) and ``drops`` (doc_id of near-dup
    losers) — a keeper not in drops is kept."""
    from ..functions.langid import LANGS, _sql_norm, sql_lang_id, \
        sql_lang_score

    score_cols = ",\n         ".join(
        f"{sql_lang_score('norm', lang)} AS s_{lang}" for lang in LANGS)
    sig = _sql_minhash_sig("s")
    bands = _sql_bands(sig)
    band_rows = ", ".join(f"({i}, {b})" for i, b in enumerate(bands))
    return f"""nrm AS (
  SELECT doc_id, lang, text, {_sql_norm('text')} AS norm FROM {src}),
sig AS (
  SELECT doc_id, lang, text, greatest(length(norm), 1) AS n_norm,
         {score_cols}
  FROM nrm),
gated AS (
  SELECT doc_id, lang, text,
         ({_sql_quality_expr('text')} >= 0.6
          AND {sql_lang_id('text', 'norm')} <> 'und') AS pass_gate
  FROM sig),
flagged AS (
  SELECT doc_id, lang, text, pass_gate,
         (pass_gate AND doc_id = min(CASE WHEN pass_gate THEN doc_id END)
            OVER (PARTITION BY md5(text))) AS is_keeper
  FROM gated),
k AS (SELECT doc_id, text FROM flagged WHERE is_keeper),
sh AS (SELECT doc_id, {_sql_shingles('text')} AS s FROM k),
bands AS (
  SELECT doc_id, band_id, digest
  FROM sh, LATERAL (VALUES {band_rows}) AS b(band_id, digest)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.digest = b.digest
       AND a.doc_id < b.doc_id),
verified AS (
  SELECT c.id_b
  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
              JOIN sh sb ON sb.doc_id = c.id_b
  WHERE len(list_intersect(sa.s, sb.s))::DOUBLE /
        (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
        >= {_MIN_J}),
drops AS (SELECT DISTINCT id_b AS doc_id FROM verified)"""


def _sql_curate() -> str:
    return f"""
WITH aug AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, lang, text FROM documents
  WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, lang,
         array_to_string(list_slice(string_split(text, ' '), 1,
           CAST(floor(len(string_split(text, ' ')) * 0.8) AS INTEGER)), ' ')
    AS text
  FROM documents WHERE doc_id % 5 = 0),
{_sql_curate_core('aug')}
SELECT f.lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN f.pass_gate THEN 1 ELSE 0 END) AS BIGINT)
    AS n_quality,
  CAST(sum(CASE WHEN f.is_keeper THEN 1 ELSE 0 END) AS BIGINT)
    AS n_exact,
  CAST(sum(CASE WHEN f.is_keeper AND d.doc_id IS NULL THEN 1 ELSE 0 END)
    AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN f.is_keeper AND d.doc_id IS NULL
                THEN length(f.text) ELSE 0 END) AS BIGINT) AS chars_kept
FROM flagged f LEFT JOIN drops d ON f.doc_id = d.doc_id
GROUP BY f.lang"""


# -------------------------------------------------- decontamination
_DECON_N = 13   # the canonical GPT-3/Llama overlap width


def _synth_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stand-in benchmark set: the middle ~60% token
    slice of every 17th document (so contamination is real — those
    grams occur verbatim in the source docs — and the clean set is
    provably everything else)."""
    toks = F.split(F.col("text"), " ")
    width = F.greatest(
        F.floor(F.size(toks) * 0.6).cast("int"), F.lit(1))
    return _docs(spark, sf_dir).where(F.col("doc_id") % 17 == 3).select(
        F.col("doc_id").alias("bench_id"),
        F.concat_ws(" ", F.slice(toks, 3, width)).alias("text"))


_SQL_BENCH = """bench AS (
  SELECT doc_id AS bench_id,
         array_to_string(list_slice(string_split(text, ' '), 3,
           2 + greatest(CAST(floor(len(string_split(text, ' ')) * 0.6)
                             AS INTEGER), 1)), ' ') AS text
  FROM documents WHERE doc_id % 17 = 3)"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate.py): every
    training doc sharing a verbatim 13-token gram with the benchmark
    set, with its distinct-hit count — the report a pipeline acts on
    before shipping a training shard. The corpus side reads through
    _docs_spread: the 13-gram shingle+hash build is the heavy map
    work, and the small local parquet otherwise feeds it ONE scan
    split (r6 stage audit: 3.5 s single-task; no-op at corpus scale
    where splits exceed cores)."""
    docs = _docs_spread(spark, sf_dir).select("doc_id", "text")
    rep = decon.contamination_report(
        docs, _synth_bench(spark, sf_dir), n=_DECON_N,
        bench_splits_hint=_splits(sf_dir))
    return rep.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "n_hits")


def _sql_decontaminate() -> str:
    h = duckdb_portable_hash("g", seed=decon.GRAM_SEED)
    sh = _sql_shingles("text", _DECON_N)
    return f"""
WITH {_SQL_BENCH},
bg AS (SELECT DISTINCT {h} AS gram_h
       FROM (SELECT unnest({sh}) AS g FROM bench)),
dg AS (SELECT doc_id, {h} AS gram_h
       FROM (SELECT doc_id, unnest({sh}) AS g FROM documents))
SELECT CAST(dg.doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_hits
FROM dg JOIN bg ON dg.gram_h = bg.gram_h
GROUP BY dg.doc_id"""


# ----------------------------------------------------------- sampling
_QUOTA_N, _QUOTA_SEED = 40, 5
_MIX_RATES = {"en": 0.25, "de": 0.8, "fr": 0.5, "es": 0.1, "zh": 1.0}
_MIX_SEED = 7


def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language quota sample (operators/sample.py).
    The Spark side runs the TWO-PHASE plan (count → hash-threshold
    prefilter → rank over survivors); the oracle is the naive
    single-phase rank — the hash gate proves the prefilter is
    output-invariant."""
    sampled = smp.quota_sample(
        _docs(spark, sf_dir), "lang", _QUOTA_N, seed=_QUOTA_SEED)
    return sampled.select(F.col("doc_id").cast("long").alias("doc_id"),
                          "lang")


def _sql_quota_sample() -> str:
    h = smp.duckdb_sample_hash("doc_id", _QUOTA_SEED)
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
FROM (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY {h}, doc_id) AS rk
      FROM documents)
WHERE rk <= {_QUOTA_N}"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture rate sampling: per-language keep rates applied
    as a map-only deterministic-hash predicate, summarized as the
    per-language (docs, chars) the mixture contributes."""
    m = smp.mixture_sample(_docs(spark, sf_dir), _MIX_RATES,
                           group_col="lang", seed=_MIX_SEED)
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum(F.length("text")).cast("long").alias("chars_sampled"))


def _sql_mixture_sample() -> str:
    h = smp.duckdb_sample_hash("doc_id", _MIX_SEED)
    cases = " ".join(
        f"WHEN '{g}' THEN {int(r * smp.HASH_SPACE)}"
        for g, r in sorted(_MIX_RATES.items()))
    return f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(length(text)) AS BIGINT) AS chars_sampled
FROM documents
WHERE {h} < (CASE lang {cases} ELSE -1 END)
GROUP BY lang"""


_SHARD_BUDGET, _SHARD_SEED, _SHARD_BITS = 2000, 3, 4


def q_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (operators/shard.py): greedy packing
    of the hash-shuffled corpus into ~2000-token shards. The Spark
    side runs the bucketed TWO-PHASE prefix sum (per-bucket totals →
    driver offsets → within-bucket window); the oracle is the naive
    single-window global cumsum — the hash gate proves the
    decomposition exact."""
    from ..operators.shard import shard_manifest
    return shard_manifest(_docs(spark, sf_dir), budget=_SHARD_BUDGET,
                          seed=_SHARD_SEED, bucket_bits=_SHARD_BITS)


def _sql_shard_pack() -> str:
    h = smp.duckdb_sample_hash("doc_id", _SHARD_SEED)
    return f"""
WITH base AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         {h} AS h
  FROM documents),
packed AS (
  SELECT doc_id, n_tok,
         (coalesce(sum(n_tok) OVER (ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
         // {_SHARD_BUDGET} AS shard_id
  FROM base)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM packed GROUP BY shard_id"""


# ---------------------------------------------------------- PII scrub
# The synthetic corpus carries no PII, so the query deterministically
# DIRTIES it first (the _synth_bench precedent): emails on doc_id%3==0,
# dotted-quad IPs on %4==1, +-prefixed phones on %5==2 — identically in
# both engines, so the scrub regexes are exercised on real matches.


@functools.lru_cache(maxsize=None)
def _dirty_text() -> F.Column:
    # memoized: immutable expression tree, ~65 ms of py4j build per
    # call otherwise (see functions/textstats.py memo note)
    d = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(d % 3 == 0, F.concat(
            F.lit(" contact user"), d.cast("string"),
            F.lit("@example.com now"))).otherwise(F.lit("")),
        F.when(d % 4 == 1, F.concat(
            F.lit(" from 10."), (d % 200).cast("string"),
            F.lit(".3."), (d % 250).cast("string"))).otherwise(F.lit("")),
        F.when(d % 5 == 2, F.concat(
            F.lit(" call +1 555 01"),
            F.lpad((d % 100).cast("string"), 2, "0"),
            F.lit(" 23"))).otherwise(F.lit("")),
    )


def _sql_dirty(src: str = "documents", carry: str = "") -> str:
    """dirty CTE mirroring :func:`_dirty_text` over ``src``."""
    return f"""dirty AS (
  SELECT doc_id{carry}, concat(text,
    CASE WHEN doc_id % 3 = 0 THEN concat(' contact user',
      CAST(doc_id AS VARCHAR), '@example.com now') ELSE '' END,
    CASE WHEN doc_id % 4 = 1 THEN concat(' from 10.',
      CAST(doc_id % 200 AS VARCHAR), '.3.',
      CAST(doc_id % 250 AS VARCHAR)) ELSE '' END,
    CASE WHEN doc_id % 5 = 2 THEN concat(' call +1 555 01',
      lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'), ' 23') ELSE '' END
  ) AS text FROM {src})"""


_SQL_DIRTY = _sql_dirty()


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/pii.py): emails/IPv4s/phones replaced
    by placeholder tokens, with per-kind match counts — map-only
    regexp codegen inside the scan stage, zero shuffles."""
    dirty = _docs(spark, sf_dir).select("doc_id", _dirty_text().alias("text"))
    out = pii_op.scrub_pii(dirty)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "text", "n_email", "n_ipv4", "n_phone")


def _sql_pii_scrub() -> str:
    return f"""
WITH {_SQL_DIRTY}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {pii_op.duckdb_scrub_sql('text')} AS text,
       {pii_op.duckdb_count_sql('text', 'email')} AS n_email,
       {pii_op.duckdb_count_sql('text', 'ipv4')} AS n_ipv4,
       {pii_op.duckdb_count_sql('text', 'phone')} AS n_phone
FROM dirty"""


# ----------------------------------------------------- line-level dedup
# The corpus is single-line, so the query deterministically restructures
# each doc into lines first — constant boilerplate (cookie banner,
# footer, a newsletter line on doc_id%3==0) around the doc's two token
# halves — identically in both engines. strip_common_lines must remove
# exactly the lines whose normalized form occurs in >= _LINE_MIN_DOCS
# distinct docs (boilerplate always; content halves only where docs
# repeat). The oracle replays the semantics UNEXPLODED (list_filter
# against a scalar-subquery list), proving the explode/broadcast-join/
# reassemble decomposition exact.
_LINE_MIN_DOCS = 3


@functools.lru_cache(maxsize=None)
def _multiline_expr() -> F.Column:
    """The multi-line restructuring of the single-line ``text``
    column: constant boilerplate around the doc's two token halves.
    Memoized — immutable expression tree (textstats memo note)."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    k = F.floor(n / F.lit(2)).cast("int")
    return F.concat_ws(
        "\n",
        F.lit("cookie notice we use cookies"),
        F.concat_ws(" ", F.slice(toks, F.lit(1), k)),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("subscribe to the newsletter")),
        F.concat_ws(" ", F.slice(toks, k + 1, n - k)),
        F.lit("copyright webcorp all rights reserved"),
    )


def _sql_multiline(src: str, carry: str = "") -> str:
    """docs2 CTE mirroring :func:`_multiline_expr` over ``src``."""
    return f"""docs2 AS (
  SELECT doc_id{carry}, concat_ws(chr(10),
    'cookie notice we use cookies',
    array_to_string(l[1:k], ' '),
    CASE WHEN doc_id % 3 = 0 THEN 'subscribe to the newsletter' END,
    array_to_string(l[k+1:n], ' '),
    'copyright webcorp all rights reserved') AS text
  FROM (SELECT doc_id{carry}, l, len(l) AS n, len(l) // 2 AS k
        FROM (SELECT doc_id{carry}, string_split(text, ' ') AS l
              FROM {src})))"""


_SQL_MULTILINE = _sql_multiline("documents")


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup (operators/lines.py): boilerplate
    lines occurring in >= 3 distinct docs stripped, survivors
    re-joined in order."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", _multiline_expr().alias("text"))
    out = lines_op.strip_common_lines(docs, min_docs=_LINE_MIN_DOCS)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "text", "n_kept", "n_dropped")


def _sql_line_dedup_core(src: str, min_docs: int,
                         carry: str = "") -> tuple[str, str]:
    """(CTE chain, keep-predicate) replaying strip_common_lines over
    ``src`` (doc_id[, carry cols], text) UNEXPLODED: the final chain
    member ``ldpred`` carries (doc_id, ls, fl) — select
    ``array_to_string(list_filter(ls, l -> KEEP), chr(10))`` to get
    the cleaned text. ``carry`` names extra doc-constant columns to
    thread through (e.g. ", lang")."""
    key = TS.sql_portable_lower("trim(l)")
    h_inline = duckdb_portable_hash(key, seed=lines_op.LINE_SEED)
    keep = f"({key} = '' OR NOT list_contains(fl, {h_inline}))"
    ctes = f"""ls AS (SELECT doc_id{carry},
            string_split(text, chr(10)) AS ls FROM {src}),
dockeys AS (
  SELECT DISTINCT doc_id, {key} AS k
  FROM (SELECT doc_id, unnest(ls) AS l FROM ls)),
freq AS (
  SELECT {duckdb_portable_hash('k', seed=lines_op.LINE_SEED)} AS line_h
  FROM dockeys WHERE k <> ''
  GROUP BY 1 HAVING count(*) >= {min_docs}),
flist AS (SELECT coalesce(list(line_h), []) AS fl FROM freq),
ldpred AS (SELECT doc_id{carry}, ls, fl FROM ls, flist)"""
    return ctes, keep


def _sql_line_dedup() -> str:
    ctes, keep = _sql_line_dedup_core("docs2", _LINE_MIN_DOCS)
    return f"""
WITH {_SQL_MULTILINE},
{ctes}
SELECT doc_id,
       array_to_string(list_filter(ls, l -> {keep}), chr(10)) AS text,
       CAST(len(list_filter(ls, l -> {keep})) AS BIGINT) AS n_kept,
       CAST(len(ls) - len(list_filter(ls, l -> {keep})) AS BIGINT)
         AS n_dropped
FROM ldpred"""


# ------------------------------------------------- full prep funnel
# q_prep pins the COMPOSITION of the whole LLM-data prep chain
# (line dedup → PII scrub → curate → decontaminate → mixture →
# shard pack) value-exactly: the synthetic corpus is first dirtied
# with PII and restructured into boilerplate-framed lines (both
# engine-mirrored), then the oracle replays every stage in one SQL.
_PREP_RATES = {"en": 0.8, "de": 0.9, "fr": 0.7, "es": 0.85, "zh": 0.95}
_PREP_SEED, _PREP_BUDGET, _PREP_BITS = 9, 500, 3


def q_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep funnel (operators/prep.py):
    the per-shard manifest of the cleaned, curated, decontaminated,
    mixture-sampled, token-packed corpus."""
    from ..operators.dedup import _spread
    from ..operators.prep import prepare_training_data

    base = _docs(spark, sf_dir).select(
        "doc_id", "lang", _dirty_text().alias("text"))
    docs2 = base.select("doc_id", "lang", _multiline_expr().alias("text"))
    res = prepare_training_data(
        _spread(docs2, splits_hint=_splits(sf_dir)),
        bench=_synth_bench(spark, sf_dir),
        min_line_docs=_LINE_MIN_DOCS, quality_min=0.6,
        min_jaccard=_MIN_J, n_hashes=_MINHASH_N, band_size=_BAND_SIZE,
        shingle_k=_SHINGLE_K, decon_n=_DECON_N, mixture=_PREP_RATES,
        sample_seed=_PREP_SEED, shard_budget=_PREP_BUDGET,
        shard_seed=_PREP_SEED, bucket_bits=_PREP_BITS,
        splits_hint=_splits(sf_dir))
    return res.manifest


def _sql_prep() -> str:
    ld_ctes, keep = _sql_line_dedup_core(
        "docs2", _LINE_MIN_DOCS, carry=", lang")
    gh = duckdb_portable_hash("g", seed=decon.GRAM_SEED)
    sh13 = _sql_shingles("text", _DECON_N)
    mixh = smp.duckdb_sample_hash("doc_id", _PREP_SEED)
    cases = " ".join(
        f"WHEN '{g}' THEN {int(r * smp.HASH_SPACE)}"
        for g, r in sorted(_PREP_RATES.items()))
    packh = smp.duckdb_sample_hash("doc_id", _PREP_SEED)
    return f"""
WITH {_sql_dirty('documents', carry=', lang')},
{_sql_multiline('dirty', carry=', lang')},
{ld_ctes},
cleaned AS (
  SELECT doc_id, lang,
         array_to_string(list_filter(ls, l -> {keep}), chr(10)) AS text
  FROM ldpred),
scrubbed AS (
  SELECT doc_id, lang, {pii_op.duckdb_scrub_sql('text')} AS text
  FROM cleaned),
{_sql_curate_core('scrubbed')},
kept AS (
  SELECT f.doc_id, f.lang, f.text
  FROM flagged f LEFT JOIN drops d ON f.doc_id = d.doc_id
  WHERE f.is_keeper AND d.doc_id IS NULL),
{_SQL_BENCH},
bg AS (SELECT DISTINCT {gh} AS gram_h
       FROM (SELECT unnest({sh13}) AS g FROM bench)),
dg AS (SELECT doc_id, {gh} AS gram_h
       FROM (SELECT doc_id, unnest({sh13}) AS g FROM kept)),
contam AS (SELECT DISTINCT dg.doc_id FROM dg JOIN bg USING (gram_h)),
clean AS (
  SELECT k2.* FROM kept k2 LEFT JOIN contam c ON k2.doc_id = c.doc_id
  WHERE c.doc_id IS NULL),
mixed AS (
  SELECT * FROM clean
  WHERE {mixh} < (CASE lang {cases} ELSE -1 END)),
pbase AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         {packh} AS h
  FROM mixed),
ppacked AS (
  SELECT doc_id, n_tok,
         (coalesce(sum(n_tok) OVER (ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
         // {_PREP_BUDGET} AS shard_id
  FROM pbase)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM ppacked GROUP BY shard_id"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_table(_docs(spark, sf_dir), bits=32, shingle_k=2,
                               splits_hint=_splits(sf_dir))


def _sql_simhash_ctes(src: str) -> str:
    """CTE chain computing the 32-bit simhash digest per doc of ``src``
    — the literal DuckDB replay of dedup.simhash_table."""
    sh = _sql_shingles("text", 2)
    h = duckdb_portable_hash("s", seed=0)
    bits = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> {b}) & 1 = 1))"
        f" >= len(hs) THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(32))
    return f"""hsh AS (
  SELECT doc_id, list_transform({sh}, s -> {h}) AS hs FROM {src}),
sims AS (SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM hsh)"""


def _sql_simhash() -> str:
    return f"""
WITH {_sql_simhash_ctes('documents')}
SELECT doc_id, simhash FROM sims"""


_SIMHASH_MAX_HAMMING = 3


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pigeonhole-complete simhash near-dup pairs (max_hamming+1
    disjoint bit-bands) over the near-copy-augmented corpus; the
    DuckDB oracle replays digest, banding and Hamming verify exactly."""
    pairs = dedup.simhash_near_pairs(
        _augmented_near(spark, sf_dir),
        max_hamming=_SIMHASH_MAX_HAMMING, bits=32, shingle_k=2,
        splits_hint=_splits(sf_dir, scans=2))
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"))


def _sql_simhash_pairs() -> str:
    from ..operators.dedup import simhash_block_specs
    band_rows = ", ".join(
        f"({i}, {shift}, {(1 << width) - 1})"
        for i, (shift, width) in enumerate(
            simhash_block_specs(32, _SIMHASH_MAX_HAMMING)))
    return f"""
WITH {_SQL_AUG_NEAR},
{_sql_simhash_ctes('aug')},
bands AS (
  SELECT doc_id, simhash, band_id, (simhash >> shift) & mask AS band_val
  FROM sims, LATERAL (VALUES {band_rows}) AS b(band_id, shift, mask))
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_val = b.band_val
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}"""


# --------------------------------------------------- G2 connected components
def q_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = _augmented_near(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(
        aug, min_jaccard=_MIN_J, n_hashes=_MINHASH_N,
        band_size=_BAND_SIZE, shingle_k=_SHINGLE_K,
        splits_hint=_splits(sf_dir, scans=2))
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_nodes")).select(
        F.col("component").cast("long").alias("component"),
        F.col("n_nodes").cast("long"))


def _sql_components() -> str:
    return f"""
WITH {_SQL_AUG_NEAR},
sh AS (SELECT doc_id, {_sql_shingles('text')} AS s FROM aug),
bands AS (
  SELECT doc_id, s, band_id, digest
  FROM sh, LATERAL (VALUES {", ".join(f"({i}, {b})" for i, b in enumerate(_sql_bands(_sql_minhash_sig('s'))))}) AS b(band_id, digest)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.digest = b.digest AND a.doc_id < b.doc_id),
edges AS (
  SELECT c.id_a AS src, c.id_b AS dst
  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
              JOIN sh sb ON sb.doc_id = c.id_b
  WHERE len(list_intersect(sa.s, sb.s))::DOUBLE /
        (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= {_MIN_J}),
sym AS (SELECT src AS a, dst AS b FROM edges
        UNION SELECT dst, src FROM edges),
walk AS (
  WITH RECURSIVE w(node, reach) AS (
    SELECT a, a FROM sym
    UNION
    SELECT w.node, s.b FROM w JOIN sym s ON s.a = w.reach)
  SELECT node, min(reach) AS component FROM w GROUP BY node)
SELECT CAST(component AS BIGINT) AS component,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM walk GROUP BY component"""


# ------------------------------------------------------------- similarity
_KNN_QUERIES, _KNN_K = 8, 3


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    out = similarity.cosine_topk(
        e, e.where(F.col("vec_id") < _KNN_QUERIES), k=_KNN_K)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"))


_SQL_COS = ("list_dot_product(q.v, c.v) / "
            "(sqrt(list_dot_product(q.v, q.v)) * "
            "sqrt(list_dot_product(c.v, c.v)))")


def _sql_knn() -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_SQL_COS} AS sim
  FROM e q JOIN e c ON q.vec_id < {_KNN_QUERIES} AND c.vec_id <> q.vec_id),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
       CAST(neighbor_id AS BIGINT) AS neighbor_id
FROM ranked WHERE rank <= {_KNN_K}"""


_KNN_LSH_PLANES, _KNN_LSH_TABLES = 4, 8


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate LSH-bucketed top-k. Value-exact since round 2: the
    DuckDB oracle replays the literal hyperplane coefficients, the
    (table, bucket) candidate restriction, and the cosine ranking
    (same index-ordered double sums ⇒ identical sims ⇒ identical
    ranks; ties broken by neighbor_id in both engines). Approximate
    recall vs exact q_knn is additionally gated in pytest."""
    e = _emb(spark, sf_dir)
    dim = _emb_dim(sf_dir)
    out = similarity.lsh_topk(
        e, e.where(F.col("vec_id") < _KNN_QUERIES), dim=dim, k=_KNN_K,
        n_planes=_KNN_LSH_PLANES, n_tables=_KNN_LSH_TABLES)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"))


def _sql_knn_lsh() -> str:
    values = _sql_hyperplane_values(_KNN_LSH_TABLES, _KNN_LSH_PLANES)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, tbl, bucket
      FROM e, LATERAL (VALUES {values}) AS t(tbl, bucket)),
q AS (SELECT * FROM b WHERE vec_id < {_KNN_QUERIES}),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM b c JOIN q ON c.tbl = q.tbl AND c.bucket = q.bucket
  WHERE c.vec_id <> q.vec_id),
scored AS (
  SELECT cd.query_id, cd.neighbor_id,
         list_dot_product(qe.v, ce.v) /
         (sqrt(list_dot_product(qe.v, qe.v)) *
          sqrt(list_dot_product(ce.v, ce.v))) AS sim
  FROM cand cd JOIN e qe ON qe.vec_id = cd.query_id
               JOIN e ce ON ce.vec_id = cd.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
       CAST(neighbor_id AS BIGINT) AS neighbor_id
FROM ranked WHERE rank <= {_KNN_K}"""


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN. Value-exact since round 4: the
    2-iteration Lloyd quantizer is deterministic (seedless md5-hex
    init — engine-portable, unlike r3's Spark-specific xxhash64 —
    struct-min assignment, fixed iteration count), so the DuckDB
    oracle replays it as an unrolled CTE chain (the _sql_pagerank
    pattern): init → [assign → per-dim mean → empty-cluster
    carry]×2 → corpus/probe list assignment → candidate equi-join →
    exact-cosine ranking. Approximate recall vs exact q_knn is
    additionally gated in pytest."""
    e = _emb(spark, sf_dir)
    out = similarity.ivf_topk(
        e, e.where(F.col("vec_id") < _KNN_QUERIES), k=_KNN_K,
        n_centroids=8, nprobe=4, n_iter=2)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"))


def _sql_knn_ivf(n_centroids: int = 8, nprobe: int = 4,
                 n_iter: int = 2, dim: int = 64) -> str:
    """DuckDB replay of similarity.kmeans_centroids + ivf_topk as one
    unrolled CTE chain (fixed iteration count ⇒ SQL-expressible, the
    _sql_pagerank pattern). Faithful to the Spark recipe step by step:
    md5-hex init order, squared-L2 elementwise sum over normalized
    vectors, (d, cid)-lexicographic argmin, per-dimension FIXED-POINT
    mean update (int64-scaled, order-independent — see
    similarity.kmeans_centroids) with empty-cluster carry,
    rk≤1 corpus lists / rk≤nprobe probes,
    exact cosine over the ORIGINAL vectors, (sim desc, neighbor_id)
    ranking."""
    # elementwise squared-L2 as a vectorized list expression; list_sum
    # is a sequential left-to-right fold (verified: list_sum([1e16,
    # 1.0, -1e16, 1.0]) = 1.0), i.e. the same summation order as the
    # Spark side's F.aggregate fold in operators/similarity._sq_dist.
    # (An earlier correlated generate_series subquery was value-equal
    # but re-executed per (vector, centroid) row — 200+ s at sf0.001.)
    sqd = ("list_sum(list_transform(list_zip(n.nv, c.centroid), "
           "x -> (x[1] - x[2]) ^ 2))")
    parts = [f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
norm AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
  FROM e),
c0 AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
             - 1 AS cid,
         nv AS centroid
  FROM norm
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {n_centroids})"""]
    for i in range(1, n_iter + 1):
        parts.append(f""",
d{i} AS (
  SELECT n.vec_id, c.cid, {sqd} AS d
  FROM norm n CROSS JOIN c{i - 1} c),
a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM d{i}) WHERE rn = 1),
m{i} AS (
  -- fixed-point mean, replaying kmeans_centroids exactly: int64
  -- coordinate scale, exact SUM, one double division, half-up to
  -- 9 dp — order-independent, so centroid coords are bit-identical
  -- to Spark's regardless of partial-agg combine order
  SELECT a.cid, s.i AS dim,
         floor(CAST(SUM(CAST(floor(n.nv[s.i] * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / COUNT(*) + 0.5) / 1e9 AS m
  FROM a{i} a JOIN norm n USING (vec_id)
  CROSS JOIN generate_series(1, {dim}) s(i)
  GROUP BY a.cid, s.i),
u{i} AS (SELECT cid, list(m ORDER BY dim) AS centroid
         FROM m{i} GROUP BY cid),
c{i} AS (
  SELECT * FROM u{i}
  UNION ALL
  SELECT c.cid, c.centroid FROM c{i - 1} c
  WHERE c.cid NOT IN (SELECT cid FROM u{i}))""")
    parts.append(f""",
df AS (
  SELECT n.vec_id, c.cid, {sqd} AS d
  FROM norm n CROSS JOIN c{n_iter} c),
rkd AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
  FROM df),
lists AS (SELECT vec_id AS neighbor_id, cid FROM rkd WHERE rn <= 1),
probes AS (SELECT vec_id AS query_id, cid FROM rkd
           WHERE vec_id < {_KNN_QUERIES} AND rn <= {nprobe}),
cand AS (
  SELECT DISTINCT p.query_id, l.neighbor_id
  FROM lists l JOIN probes p USING (cid)
  WHERE p.query_id <> l.neighbor_id),
scored AS (
  SELECT cd.query_id, cd.neighbor_id, {_SQL_COS} AS sim
  FROM cand cd JOIN e q ON q.vec_id = cd.query_id
               JOIN e c ON c.vec_id = cd.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
       CAST(neighbor_id AS BIGINT) AS neighbor_id
FROM ranked WHERE rank <= {_KNN_K}""")
    return "".join(parts)


_EMBDUP_N_PLANES, _EMBDUP_N_TABLES, _EMBDUP_MIN_SIM = 8, 4, 0.8
_EMB_ORACLE_DIM = 64  # every testdata sf ships dim-64 embeddings


def _augmented_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings + exact copies of every 5th vector (deterministic
    near-dup planted identically in both engines)."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    dup = e.where(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding")
    return e.unionByName(dup)


def q_embdup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale embedding near-dup: hyperplane-bucket self-join +
    cosine verify (similarity.embedding_near_dup_pairs). The DuckDB
    oracle replays the ±1 coefficient literals, the bucket bitmask,
    the bucket join, and the verify — value-exact, no rows-only
    hedge (planted copies collide in every bucket; at min_sim=0.8
    only they survive on this data, so borderline-bucket float edge
    cases cannot change the output)."""
    dim = _emb_dim(sf_dir)
    pairs = similarity.embedding_near_dup_pairs(
        _augmented_emb(spark, sf_dir), dim=dim,
        min_sim=_EMBDUP_MIN_SIM, n_planes=_EMBDUP_N_PLANES,
        n_tables=_EMBDUP_N_TABLES)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round(F.col("sim") * 1_000_000).cast("long").alias("sim_scaled"))


def _sql_hyperplane_values(n_tables: int, n_planes: int,
                           vec: str = "v") -> str:
    """LATERAL VALUES rows ``(tbl, bucket)`` replaying the Spark
    hyperplane signatures in DuckDB — same ±1 coefficient literals
    (similarity.plane_coefficients), same sign→bitmask fold."""
    from ..operators.similarity import plane_coefficients
    table_rows = []
    for t in range(n_tables):
        coefs = plane_coefficients(_EMB_ORACLE_DIM, n_planes, t)
        bucket = " + ".join(
            f"(CASE WHEN list_dot_product({vec}, {[float(c) for c in row]})"
            f" >= 0 THEN {1 << p} ELSE 0 END)"
            for p, row in enumerate(coefs))
        table_rows.append(f"({t}, {bucket})")
    return ", ".join(table_rows)


def _sql_embdup_lsh() -> str:
    values = _sql_hyperplane_values(_EMBDUP_N_TABLES, _EMBDUP_N_PLANES)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
aug AS (SELECT vec_id, v FROM e
        UNION ALL
        SELECT vec_id + 100000 AS vec_id, v FROM e WHERE vec_id % 5 = 0),
b AS (SELECT vec_id, v, tbl, bucket
      FROM aug, LATERAL (VALUES {values}) AS t(tbl, bucket)),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM b x JOIN b y
    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
scored AS (
  SELECT c.id_a, c.id_b,
         list_dot_product(q.v, cc.v) /
         (sqrt(list_dot_product(q.v, q.v)) *
          sqrt(list_dot_product(cc.v, cc.v))) AS sim
  FROM cand c JOIN aug q ON q.vec_id = c.id_a
              JOIN aug cc ON cc.vec_id = c.id_b)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(round(sim * 1000000) AS BIGINT) AS sim_scaled
FROM scored WHERE sim >= {_EMBDUP_MIN_SIM}"""


def q_embdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = similarity.embedding_near_pairs(_emb(spark, sf_dir), min_sim=0.25)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"))


def _sql_embdup() -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT CAST(q.vec_id AS BIGINT) AS id_a, CAST(c.vec_id AS BIGINT) AS id_b
FROM e q JOIN e c ON c.vec_id = q.vec_id + 1
WHERE {_SQL_COS} >= 0.25"""


# ------------------------------------------------- relational breadth (TPC-H)
def q_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scans import cached_parquet
    li = cached_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
        F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                      * 100).cast("long")).cast("long").alias("revenue_cents"),
        F.sum(F.round(F.col("l_discount") * 10000).cast("long"))
        .cast("long").alias("sum_disc_bp"),
    )


def _sql_pricing() -> str:
    return """
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
    AS BIGINT) AS revenue_cents,
  CAST(sum(CAST(round(l_discount * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_bp
FROM lineitem GROUP BY l_returnflag, l_linestatus"""


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scans import cached_parquet
    o = cached_parquet(spark, f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (o.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("o_orderpriority",
                    F.col("rank").cast("long").alias("rank"),
                    F.col("o_orderkey").cast("long").alias("o_orderkey"),
                    F.round(F.col("o_totalprice") * 100).cast("long")
                    .alias("total_cents")))


def _sql_top_orders() -> str:
    return """
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders)
SELECT o_orderpriority, CAST(rank AS BIGINT) AS rank,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
FROM ranked WHERE rank <= 3"""


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scans import cached_parquet
    o = cached_parquet(spark, f"{sf_dir}/orders.parquet")
    from ..scans import cached_parquet
    li = cached_parquet(spark, f"{sf_dir}/lineitem.parquet")
    big = li.where(F.col("l_quantity") > 45).select("l_orderkey")
    return (o.join(big, o["o_orderkey"] == big["l_orderkey"], "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders")))


def _sql_order_priority() -> str:
    return """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o_orderpriority"""


def q_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scans import cached_parquet
    ev = cached_parquet(spark, f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long")
        .alias("value_cents"),
    )


def _sql_events() -> str:
    return """
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY event_type"""


# ---------------------------------------------------- full pipeline (no SQL)
def q_pipeline_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multiword-gazetteer KG pipeline (sentence chunking, SP1
    subsequence quirks, fuzzy linking, canonicalization, co-occurrence
    triple counting) — value-exact vs :func:`_sql_pipeline_triples`.

    ``portable_fuzzy`` switches the fuzzy-linking LSH band hash from
    xxhash64 to the md5 family DuckDB replays exactly (the q_knn_ivf
    pattern: an engine-portable config choice on an O(vocab) code
    path, not a semantics change — parity with the fast family is
    pinned by tests/test_pipeline_oracle.py)."""
    from .pipeline import build_pipeline
    res = build_pipeline(spark, sf_dir, portable_fuzzy=True)
    _defer_release(*res.cached)
    return res.triple_counts.select(
        "subj", "pred", "obj",
        F.col("n_sents").cast("long").alias("n_sents"),
        F.col("n_docs").cast("long").alias("n_docs"))


def q_pipeline_triples_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION flagship: identical plan to q_pipeline_triples
    but with the xxhash64 LSH band family (portable_fuzzy=False) —
    the family a real deployment runs, since it needs no md5 detour
    through string hex. This is what bench.py times as the headline
    flagship (r4 verdict Next #2); it is NOT in the driver QUERIES
    registry because the DuckDB oracle replays the md5 family —
    band-family parity is pinned instead by
    tests/test_pipeline_oracle.py (same verified pairs on the sf
    corpus) and the portable variant stays the correctness entry."""
    from .pipeline import build_pipeline
    res = build_pipeline(spark, sf_dir, portable_fuzzy=False)
    _defer_release(*res.cached)
    return res.triple_counts.select(
        "subj", "pred", "obj",
        F.col("n_sents").cast("long").alias("n_sents"),
        F.col("n_docs").cast("long").alias("n_docs"))


def _sql_pipeline_triples(sent_tokens: int = 25) -> str:
    """DuckDB closed form of the WHOLE default pipeline. Derivation
    (each step mirrors the engine stage named in the comment):

    - ``chunks``: sources/sentences.py::split_sentences — 25-token
      windows; join-then-resplit is the identity on a space-split
      token list, so the window's token slice is used directly.
    - ``sw``/``mw``: operators/model.py::GazetteerBackend._extract —
      single words propose their FIRST token occurrence (dedup by
      word), phrases their first contiguous-run start; answer order =
      (first index, gazetteer order). Because the backend dedups, each
      answer's ``claimed`` count in oracle/align.py::align_spans is
      always 0 → every n-th lookup is n=1.
    - ``wr``/``tagw``: the align_spans loop collapses to a closed
      form. A phrase occurring ONCE tags B at its start and I across
      the run; occurring MORE than once triggers the reference's
      utils.py:33-34 quirk (nth_subsequence_start → -1): B lands on
      the LAST token (tags[-1]) and the I-loop wraps to tokens
      0..width-2 (algorithms.py:119-129 has no -1 guard). Single
      words write only onto 'O' (algorithms.py:106), multiword spans
      overwrite freely — so the final tag at a position is the LAST
      multiword writer covering it in answer order, else the (unique)
      single-word writer at that position.
    - ``spans``: oracle/spans.py::tags_to_mentions — B starts a span,
      I continues iff the previous token carried the same type
      (orphan I starts a new span).
    - ``vocab``→``res`` (:func:`_sql_resolution_ctes`):
      operators/linking.py::build_resolution — exact broadcast alias
      join, then MinHash-LSH fuzzy fallback (md5 band family,
      portable_fuzzy) with true-Jaccard ≥ 0.5 verify. Every alias of
      every entity that shares a band is scored, and the pick is
      jaccard DESC, then entity_id ASC; NIL surfaces canonicalize to
      their normalized surface (operators/triples.py::canonicalize).
    - ``pairs``: triples.py::emit_triples / triple_counts — distinct
      canonical names per sentence, unordered pairs subj < obj,
      n_sents = co-occurring sentence count, n_docs = distinct urls.
    """
    from ..operators.gazetteer import GAZETTEER

    gaz_vals = ", ".join(
        f"('{s}', '{t}', {i}, {len(s.split(' '))})"
        for i, (s, t) in enumerate(GAZETTEER.items()))
    k = sent_tokens
    return f"""
WITH pages AS (
  SELECT concat('https://ex.com/', CAST(doc_id AS VARCHAR)) AS url, text
  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
pgaz(surface, gtype, gorder, width) AS (VALUES {gaz_vals}),
{DUCKDB_ALIASES_CTE},
ptoks AS (SELECT url, string_split(text, ' ') AS toks FROM pages),
chunks AS (
  SELECT url,
         CAST(unnest(range(0, CAST(ceil(len(toks) / {k}.0) AS BIGINT)))
              AS INTEGER) AS sent_id,
         toks FROM ptoks),
cw AS (SELECT url, sent_id,
              list_slice(toks, sent_id * {k} + 1, sent_id * {k} + {k}) AS w
       FROM chunks),
sw AS (
  SELECT c.url, c.sent_id,
         CAST(list_position(c.w, g.surface) - 1 AS INTEGER) AS first_idx,
         g.gorder, g.gtype
  FROM cw c JOIN pgaz g
    ON g.width = 1 AND list_contains(c.w, g.surface)),
mw0 AS (
  SELECT c.url, c.sent_id, g.gtype, g.gorder, g.width,
         CAST(len(c.w) AS INTEGER) AS n_words,
         list_filter(range(1, len(c.w) - g.width + 2),
                     i -> array_to_string(
                            list_slice(c.w, CAST(i AS INTEGER),
                                       CAST(i AS INTEGER) + g.width - 1),
                            ' ') = g.surface) AS starts
  FROM cw c JOIN pgaz g ON g.width > 1),
mw AS (SELECT url, sent_id, gtype, gorder, width, n_words,
              CAST(starts[1] - 1 AS INTEGER) AS first_idx,
              len(starts) AS n_occ
       FROM mw0 WHERE len(starts) > 0),
wr AS (
  SELECT url, sent_id, first_idx * 1000 + gorder AS ord, is_multi,
         unnest(writes) AS wx
  FROM (
    SELECT url, sent_id, first_idx, gorder, 1 AS is_multi,
           CASE WHEN n_occ = 1 THEN
             list_prepend(
               struct_pack(pos := first_idx, tag := 'B-' || gtype),
               list_transform(range(first_idx + 1, first_idx + width),
                 j -> struct_pack(pos := CAST(j AS INTEGER),
                                  tag := 'I-' || gtype)))
           ELSE
             list_prepend(
               struct_pack(pos := n_words - 1, tag := 'B-' || gtype),
               list_transform(range(0, width - 1),
                 j -> struct_pack(pos := CAST(j AS INTEGER),
                                  tag := 'I-' || gtype)))
           END AS writes
    FROM mw
    UNION ALL
    SELECT url, sent_id, first_idx, gorder, 0,
           [struct_pack(pos := first_idx, tag := 'B-' || gtype)]
    FROM sw)),
tagw AS (
  SELECT url, sent_id, wx.pos AS pos,
         coalesce(max_by(wx.tag, ord) FILTER (is_multi = 1),
                  min_by(wx.tag, ord) FILTER (is_multi = 0)) AS tag
  FROM wr GROUP BY url, sent_id, wx.pos),
tok AS (
  SELECT url, sent_id,
         CAST(unnest(range(0, len(w))) AS INTEGER) AS pos,
         unnest(w) AS token
  FROM cw),
tagged AS (
  SELECT t.url, t.sent_id, t.pos, t.token, coalesce(g.tag, 'O') AS tag,
         lag(coalesce(g.tag, 'O'))
           OVER (PARTITION BY t.url, t.sent_id ORDER BY t.pos) AS ptag
  FROM tok t LEFT JOIN tagw g
    ON g.url = t.url AND g.sent_id = t.sent_id AND g.pos = t.pos),
spans AS (
  SELECT url, sent_id, pos, token,
         sum(CASE WHEN tag LIKE 'B-%' THEN 1
                  WHEN ptag IS NULL OR ptag = 'O'
                    OR substr(ptag, 3) <> substr(tag, 3) THEN 1
                  ELSE 0 END)
           OVER (PARTITION BY url, sent_id ORDER BY pos) AS span_id
  FROM tagged WHERE tag <> 'O'),
ments AS (
  SELECT url, sent_id,
         {_sql_norm_surface("string_agg(token, ' ' ORDER BY pos)")} AS m_norm
  FROM spans GROUP BY url, sent_id, span_id),
vocab AS (SELECT DISTINCT m_norm FROM ments),
{_sql_resolution_ctes()},
sent_ents AS (
  SELECT DISTINCT m.url, m.sent_id, r.entity_name
  FROM ments m JOIN res r ON r.m_norm = m.m_norm),
pairs AS (
  SELECT a.entity_name AS subj, b.entity_name AS obj, a.url
  FROM sent_ents a JOIN sent_ents b
    ON a.url = b.url AND a.sent_id = b.sent_id
   AND a.entity_name < b.entity_name)
SELECT subj, 'cooccurs_with' AS pred, obj,
       count(*) AS n_sents, count(DISTINCT url) AS n_docs
FROM pairs GROUP BY subj, obj"""


def _sql_resolution_ctes() -> str:
    """The oracle's linking CTEs ``exact``→``fz``→``res`` over a
    ``vocab(m_norm)`` and an ``aliases`` relation: the closed form of
    operators/linking.py::build_resolution with the md5 band family
    (``portable_fuzzy``). ``res`` holds (m_norm, entity_name)."""
    bands_vals = ", ".join(
        f"({i}, {b})" for i, b in enumerate(_sql_char_minhash_bands()))
    return f"""exact AS (
  SELECT v.m_norm, a.entity_id, a.canonical_name
  FROM vocab v LEFT JOIN aliases a ON v.m_norm = a.alias_norm),
msh AS (SELECT m_norm, {_sql_char_shingles('m_norm')} AS sh
        FROM exact WHERE entity_id IS NULL),
mbands AS (SELECT m_norm, band_id, digest
           FROM msh, LATERAL (VALUES {bands_vals}) AS b(band_id, digest)),
ash AS (SELECT alias_norm, entity_id, canonical_name,
               {_sql_char_shingles('alias_norm')} AS sh
        FROM aliases),
abands AS (SELECT alias_norm, entity_id, canonical_name, band_id, digest
           FROM ash, LATERAL (VALUES {bands_vals}) AS b(band_id, digest)),
cand AS (
  SELECT DISTINCT m.m_norm, a.entity_id, a.canonical_name, a.alias_norm
  FROM mbands m JOIN abands a
    ON m.band_id = a.band_id AND m.digest = a.digest),
fz AS (
  SELECT m_norm, canonical_name FROM (
    SELECT j.m_norm, j.canonical_name,
           row_number() OVER (PARTITION BY j.m_norm
                              ORDER BY j.j DESC, j.entity_id ASC) AS rk
    FROM (SELECT c.m_norm, c.entity_id, c.canonical_name,
                 len(list_intersect(ms.sh, asx.sh))::DOUBLE /
                 (len(ms.sh) + len(asx.sh)
                  - len(list_intersect(ms.sh, asx.sh))) AS j
          FROM cand c
          JOIN msh ms ON ms.m_norm = c.m_norm
          JOIN ash asx ON asx.alias_norm = c.alias_norm) j
    WHERE j.j >= 0.5) WHERE rk = 1),
res AS (
  SELECT e.m_norm,
         coalesce(e.canonical_name, f.canonical_name, e.m_norm)
           AS entity_name
  FROM exact e LEFT JOIN fz f ON f.m_norm = e.m_norm)"""


def q_verified_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP3 type-verification pass, fused no-join path (text carried on
    the mention rows): the deterministic backend re-derives each
    mention's type, so type_final == type — checked against the
    mention oracle SQL (same closed form, type column renamed)."""
    m = _oracle_mentions(spark, sf_dir, carry=("text",))
    v = verify_types(m,
                     backend_factory=lambda: RetryingBackend(
                         GazetteerBackend(ORACLE_GAZETTEER)))
    return v.select("url", "surface",
                    F.col("begin").alias("begin_pos"),
                    F.col("type_final").alias("type"))


# wrong first-pass type for one surface — forces a C8 dispute per
# "window" mention; the dispute answer (oracle gazetteer) must win
DISPUTED_GAZ = {s: ("WRONG" if s == "window" else t)
                for s, t in ORACLE_GAZETTEER.items()}


def q_disputed_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 full dispute resolution (reference `algorithms.py:317-326`):
    first-pass extraction runs with a gazetteer that mislabels
    'window', the verifier disagrees, the third (dispute) query is
    issued and its parenthesized answer wins — so the final table
    equals the plain mention oracle closed form."""
    m = _oracle_mentions(spark, sf_dir, gaz=DISPUTED_GAZ, carry=("text",))
    v = verify_types(m, resolve_disputes=True,
                     backend_factory=lambda: RetryingBackend(
                         GazetteerBackend(ORACLE_GAZETTEER)))
    return v.select("url", "surface",
                    F.col("begin").alias("begin_pos"),
                    F.col("type_final").alias("type"))


# ------------------------------------------------------------- multimodal
def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata triage (operators/multimodal.py): byte
    length, magic prefix, content digest — all JVM expressions."""
    from ..operators import multimodal as MM
    return MM.media_metadata(MM.synthesize_media(spark, sf_dir)).select(
        "url", "media_type", "meta_width", "n_bytes", "content_md5")


def _sql_media_meta() -> str:
    from ..operators.multimodal import DUCKDB_MEDIA_CTE
    return f"""
WITH {DUCKDB_MEDIA_CTE}
SELECT url, media_type, meta_width,
       octet_length(encode(blob_text)) AS n_bytes,
       md5(blob_text) AS content_md5
FROM media"""


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame/window sampling over binary blobs: per-url frame counts
    and reassembly invariant (sum of frame bytes == blob bytes)."""
    from ..operators import multimodal as MM
    frames = MM.sample_frames(MM.synthesize_media(spark, sf_dir))
    return frames.groupBy("url", "media_type").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("frame_bytes").alias("total_bytes"),
    )


def _sql_media_frames() -> str:
    # frame digests need byte-level blob slicing (not SQL-expressible in
    # DuckDB for multi-byte text), but the count/reassembly invariants
    # are: n_frames = ceil(bytes/256); distinct digests <= n_frames is
    # checked Spark-side, so the oracle covers counts + total bytes.
    from ..operators.multimodal import DUCKDB_MEDIA_CTE, FRAME_BYTES
    return f"""
WITH {DUCKDB_MEDIA_CTE},
f AS (SELECT url, media_type, octet_length(encode(blob_text)) AS n
      FROM media)
SELECT url, media_type,
       CAST(ceil(n / {FRAME_BYTES}.0) AS BIGINT) AS n_frames,
       CAST(n AS BIGINT) AS total_bytes
FROM f WHERE n > 0"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract pandas-UDF path (deterministic fallback
    codec in-sandbox), exposed per (url, bin) as INTEGER byte counts:
    the codec emits normalized histogram floats c/n, and c is
    recovered exactly by round(f·n) (n < 2⁵² ⇒ round-trip is lossless)
    — so the DuckDB oracle (hex-pair byte extraction over the same
    blob) value-checks every bin of every vector, closing the r2
    ``no_oracle`` gap for this query."""
    from ..operators import multimodal as MM
    media = MM.synthesize_media(spark, sf_dir)
    feats = MM.extract_features(media)
    nb = media.select("url", F.octet_length("blob").alias("n_bytes"))
    return (
        feats.join(nb, "url")
        .select("url", "media_type", "n_bytes",
                F.posexplode("features").alias("bin", "f"))
        .select("url", "media_type",
                F.col("bin").cast("long").alias("bin"),
                F.round(F.col("f") * F.col("n_bytes")).cast("long")
                .alias("bin_count"))
    )


def _sql_media_features() -> str:
    from ..operators.multimodal import DUCKDB_MEDIA_CTE, N_FEATURE_BINS
    return f"""
WITH {DUCKDB_MEDIA_CTE},
b AS (SELECT url, media_type, hex(encode(blob_text)) AS h,
             octet_length(encode(blob_text)) AS n FROM media),
vals AS (
  SELECT url, media_type,
         list_transform(range(0, n),
           i -> CAST(('0x' || substr(h, CAST(2*i+1 AS INTEGER), 2))
                     AS INTEGER)) AS bytes
  FROM b)
SELECT url, media_type, CAST(bin AS BIGINT) AS bin,
       CAST(len(list_filter(bytes,
            v -> v * {N_FEATURE_BINS} // 256 = bin)) AS BIGINT) AS bin_count
FROM vals, (SELECT unnest(range(0, {N_FEATURE_BINS})) AS bin)"""


def q_hot_surfaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 groupBy-side skew handling: salted two-phase mention counts
    per surface + composite-key exact distinct — value-identical to
    the plain GROUP BY the oracle runs."""
    from ..operators.skew import hot_surface_counts
    # two agg branches (salted counts + composite-key distinct) read
    # the mention stream — materialized like every multi-consumer
    m, blocks = materialize(_oracle_mentions(spark, sf_dir))
    _defer_release(blocks)
    return hot_surface_counts(m, n_salts=8)


def _sql_hot_surfaces() -> str:
    return f"""
WITH {DUCKDB_PAGES_CTE}, {duckdb_gazetteer_cte()}, {_sql_mentions_cte()}
SELECT surface AS surface_norm, count(*) AS n_mentions,
       count(DISTINCT url) AS n_docs
FROM mentions GROUP BY surface"""


# ----------------------------------------------- NIL co-reference merge
def q_nil_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star NIL canonicalization end-to-end: the corpus token
    vocabulary augmented with plural variants (every token gains a
    near-duplicate) is clustered by triples_op.nil_components —
    char-shingle MinHash bands → band self-join → Jaccard verify →
    connected components → per-surface representative. The DuckDB
    oracle replays the hash family, banding, verify and the component
    walk exactly."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("t")).distinct()
    vocab = toks.select("t").unionByName(
        toks.select(F.concat(F.col("t"), F.lit("s")).alias("t"))).distinct()
    fake_linked = vocab.select(
        F.col("t").alias("surface"),
        F.lit(None).cast("long").alias("entity_id"))
    reps = triples_op.nil_components(fake_linked, min_jaccard=0.5,
                                     shingle_k=3, portable=True)
    return reps.select(F.col("m_norm").alias("surface"), "canonical_rep")


def _sql_char_shingles(s: str, k: int = 3) -> str:
    return (f"(CASE WHEN length({s}) < {k} THEN [{s}] "
            f"ELSE list_distinct(list_transform("
            f"range(1, length({s}) - {k - 2}), "
            f"i -> substr({s}, CAST(i AS INTEGER), {k}))) END)")


def _sql_char_minhash_bands(n_hashes: int = 16,
                            band_size: int = 4) -> list[str]:
    # mirror of functions/hashing.py::minhash_bands (FULL portable
    # hash per seed, unlike the dedup queries' half-digest variant)
    sig = ["list_min(list_transform(sh, s -> "
           + duckdb_portable_hash("s", seed=i) + "))"
           for i in range(n_hashes)]
    out = []
    for b in range(n_hashes // band_size):
        parts = sig[b * band_size:(b + 1) * band_size]
        joined = ", ',', ".join(f"CAST({p} AS VARCHAR)" for p in parts)
        out.append(f"md5(concat({joined}))")
    return out


_SQL_NORM_SURFACE_PAT = r"^[!-/:-@\[-`{-~\s]+|[!-/:-@\[-`{-~\s]+$"


def _sql_norm_surface(expr: str) -> str:
    """DuckDB mirror of linking.norm_surface (lower + strip wrapping
    punctuation). The 'g' flag matters: Spark's regexp_replace is
    replace-all, DuckDB's default is first-match-only — without it the
    suffix alternative would never fire once a prefix matched."""
    return (f"regexp_replace(lower(trim({expr})), "
            f"'{_SQL_NORM_SURFACE_PAT}', '', 'g')")


def _sql_nil_merge() -> str:
    bands_vals = ", ".join(
        f"({i}, {b})" for i, b in enumerate(_sql_char_minhash_bands()))
    return f"""
WITH toks AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS t FROM documents),
vocab0 AS (SELECT t AS s FROM toks
           UNION SELECT t || 's' FROM toks),
vocab AS (SELECT DISTINCT {_sql_norm_surface('s')} AS s FROM vocab0),
sh AS (SELECT s, {_sql_char_shingles('s')} AS sh FROM vocab),
bands AS (
  SELECT s, band_id, digest
  FROM sh, LATERAL (VALUES {bands_vals}) AS b(band_id, digest)),
cand AS (
  SELECT DISTINCT a.s AS surf_a, b.s AS surf_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.digest = b.digest AND a.s < b.s),
edges AS (
  SELECT c.surf_a AS src, c.surf_b AS dst
  FROM cand c JOIN sh sa ON sa.s = c.surf_a
              JOIN sh sb ON sb.s = c.surf_b
  WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE /
        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
        >= 0.5),
sym AS (SELECT src AS a, dst AS b FROM edges
        UNION SELECT dst, src FROM edges),
walk AS (
  WITH RECURSIVE w(node, reach) AS (
    SELECT a, a FROM sym
    UNION
    SELECT w.node, s.b FROM w JOIN sym s ON s.a = w.reach)
  SELECT node, min(reach) AS component FROM w GROUP BY node)
SELECT v.s AS surface, coalesce(walk.component, v.s) AS canonical_rep
FROM vocab v LEFT JOIN walk ON walk.node = v.s"""


# --------------------------------------------------- WARC ingest round-trip
def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC parser correctness as a closed form: each document is
    rendered as a spec-framed WARC response record (headers +
    Content-Length framing + an http header block) with pure SQL
    expressions, then pushed through the REAL record parser
    (sources/warc.py::parse_warc_bytes) in a pandas UDF. The DuckDB
    oracle computes the expected (url, n_bytes, digest) directly from
    the same synthesis — a hash_match proves the parser inverts the
    framing byte-exactly, http strip included."""
    import pandas as pd
    from pyspark.sql import types as T

    from ..sources.pages import html_of, url_of
    from ..sources.warc import parse_warc_bytes

    docs = _docs(spark, sf_dir)
    html = F.decode(html_of(F.col("doc_id"), F.col("lang"),
                            F.col("text")), "UTF-8")
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), html)
    record = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        url_of(F.col("doc_id")),
        F.lit("\r\nWARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: "),
        F.length(F.encode(http, "UTF-8")).cast("string"),
        F.lit("\r\n\r\n"), http, F.lit("\r\n\r\n"))
    rec = docs.select(F.encode(record, "UTF-8").alias("warc_bytes"))

    schema = T.StructType([
        T.StructField("url", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("html", T.BinaryType(), True),
    ])

    def parse(batches):
        for pdf in batches:
            rows = []
            for blob in pdf["warc_bytes"]:
                for url, _ts, payload in parse_warc_bytes(bytes(blob)):
                    rows.append((url, len(payload), payload))
            yield pd.DataFrame(rows, columns=["url", "n_bytes", "html"])

    parsed = rec.mapInPandas(parse, schema=schema)
    return parsed.select(
        "url",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.md5("html").alias("content_md5"))


def _sql_warc_roundtrip() -> str:
    return f"""
WITH {DUCKDB_PAGES_CTE}
SELECT url, CAST(octet_length(html) AS BIGINT) AS n_bytes,
       md5(decode(html)) AS content_md5
FROM pages"""


# ------------------------------------------------------ link graph

# Every href in every page, exploded — the DuckDB mirror of
# operators/linkgraph.py::outlink_edges' parse stage.
_SQL_LINKS_CTE = """lraw AS (
  SELECT url AS src,
         unnest(regexp_extract_all(decode(html),
                'href="([^"]+)"', 1)) AS dst
  FROM pages)"""


def q_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl link graph parsed from html hrefs
    (operators/linkgraph.py): one codegen regexp in the scan + a
    map-side explode — no shuffle anywhere in the plan."""
    from ..operators.linkgraph import outlink_edges

    return outlink_edges(synthesize_pages(spark, sf_dir))


def _sql_outlinks() -> str:
    return f"""
WITH {DUCKDB_PAGES_CTE}, {_SQL_LINKS_CTE}
SELECT src, dst, (dst LIKE 'https://ex.com/%') AS internal,
       regexp_extract(dst, '^https?://([^/]+)', 1) AS dst_host
FROM lraw"""


_HUB_MIN_INDEG = 10


def q_link_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub pages of the internal link graph: salted two-phase
    indegree (web indegree is Zipfian — hub pages own a constant
    fraction of all edges), hubs only (indeg >= 10). Value-equal to a
    plain groupBy count; the oracle checks exactly that."""
    from ..operators.linkgraph import indegree, outlink_edges

    edges = outlink_edges(synthesize_pages(spark, sf_dir)) \
        .where(F.col("internal"))
    deg = indegree(edges)
    return deg.where(F.col("indeg") >= _HUB_MIN_INDEG)


def _sql_link_hubs() -> str:
    return f"""
WITH {DUCKDB_PAGES_CTE}, {_SQL_LINKS_CTE}
SELECT dst, CAST(count(*) AS BIGINT) AS indeg
FROM lraw WHERE dst LIKE 'https://ex.com/%'
GROUP BY dst HAVING count(*) >= {_HUB_MIN_INDEG}"""


def q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The host-level crawl graph (linkgraph.host_link_stats): hosts
    are a vanishing vocabulary next to pages, so the aggregate's
    output is broadcast-sized at any corpus scale."""
    from ..operators.linkgraph import host_link_stats, outlink_edges

    return host_link_stats(outlink_edges(synthesize_pages(spark, sf_dir)))


def _sql_host_graph() -> str:
    return f"""
WITH {DUCKDB_PAGES_CTE}, {_SQL_LINKS_CTE}
SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS src_host,
       regexp_extract(dst, '^https?://([^/]+)', 1) AS dst_host,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT src) AS BIGINT) AS n_src_pages
FROM lraw GROUP BY 1, 2"""


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the internal page-link graph
    (operators/linkgraph.py::link_pagerank). Unlike q_pagerank's
    vocabulary-bounded entity graph, the node set here is the PAGE
    set — it grows with the corpus, so this runs the distributed
    path (the 100 TB shape), not driver-local mode."""
    from ..operators.linkgraph import link_pagerank

    return link_pagerank(synthesize_pages(spark, sf_dir), n_iter=4)


def _sql_link_pagerank(n_iter: int = 4, damping: float = 0.85) -> str:
    # literal replay of pagerank()'s symmetrize-then-distinct
    edge_ctes = f"""{DUCKDB_PAGES_CTE}, {_SQL_LINKS_CTE},
il AS (
  SELECT DISTINCT src AS s, dst AS t FROM lraw
  WHERE dst LIKE 'https://ex.com/%'),
edges AS (
  SELECT DISTINCT s, t FROM (
    SELECT s, t FROM il UNION ALL SELECT t AS s, s AS t FROM il))"""
    return _sql_pagerank_over(edge_ctes, n_iter, damping)


def _internal_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkgraph import outlink_edges

    return outlink_edges(synthesize_pages(spark, sf_dir)) \
        .where(F.col("internal")).select("src", "dst")


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the directed internal link graph
    (graph_analytics.hits): fixed-point integer trajectory with
    max-normalized half-steps — bit-identical across engines /
    partitionings by construction, like the fixed-point PageRank."""
    from ..operators.graph_analytics import hits

    return hits(_internal_link_edges(spark, sf_dir), n_iter=4)


def _sql_hits(n_iter: int = 4) -> str:
    # MATERIALIZED is load-bearing: each half-step CTE is referenced
    # twice (FROM + the scalar-subquery max), and DuckDB's default
    # CTE inlining would expand the 4-iteration chain into an
    # exponentially duplicated tree (measured: hangs on 4 edges).
    from ..operators.graph_analytics import HITS_SCALE
    steps, prev_h = [], "h0"
    for i in range(1, n_iter + 1):
        steps.append(f"""a{i}r AS MATERIALIZED (
  SELECT e.t AS node, CAST(sum(h.v) AS BIGINT) AS v
  FROM e JOIN {prev_h} h ON e.s = h.node GROUP BY e.t),
a{i} AS MATERIALIZED (
  SELECT node, (v * {HITS_SCALE}) // (SELECT max(v) FROM a{i}r) AS v
  FROM a{i}r),
h{i}r AS MATERIALIZED (
  SELECT e.s AS node, CAST(sum(a.v) AS BIGINT) AS v
  FROM e JOIN a{i} a ON e.t = a.node GROUP BY e.s),
h{i} AS MATERIALIZED (
  SELECT node, (v * {HITS_SCALE}) // (SELECT max(v) FROM h{i}r) AS v
  FROM h{i}r)""")
        prev_h = f"h{i}"
    chain = ",\n".join(steps)
    return f"""
WITH {DUCKDB_PAGES_CTE}, {_SQL_LINKS_CTE},
e AS MATERIALIZED (
  SELECT DISTINCT src AS s, dst AS t FROM lraw
  WHERE dst LIKE 'https://ex.com/%'),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT s AS node FROM e UNION ALL SELECT t FROM e)),
h0 AS (SELECT node, CAST({HITS_SCALE} AS BIGINT) AS v FROM nodes),
{chain}
SELECT n.node, coalesce(h.v, 0) / {HITS_SCALE}.0 AS hub,
       coalesce(a.v, 0) / {HITS_SCALE}.0 AS authority
FROM nodes n
LEFT JOIN h{n_iter} h ON n.node = h.node
LEFT JOIN a{n_iter} a ON n.node = a.node"""


def q_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation counts over the internal link graph
    (graph_analytics.cocitation_counts): in-row pair emission from
    per-source sorted link sets — no edge self-join."""
    from ..operators.graph_analytics import cocitation_counts

    return cocitation_counts(_internal_link_edges(spark, sf_dir),
                             min_count=2)


def _sql_cocitation(min_count: int = 2) -> str:
    return f"""
WITH {DUCKDB_PAGES_CTE}, {_SQL_LINKS_CTE},
il AS (
  SELECT DISTINCT src, dst FROM lraw
  WHERE dst LIKE 'https://ex.com/%')
SELECT l1.dst AS a, l2.dst AS b, CAST(count(*) AS BIGINT) AS n_cocited
FROM il l1 JOIN il l2 ON l1.src = l2.src AND l1.dst < l2.dst
GROUP BY 1, 2 HAVING count(*) >= {min_count}"""


# ------------------------------------------------- predicate extraction
def q_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical predicate triples: adjacent oracle-gazetteer mentions
    with a 1..3-token connector between them; the connector IS the
    predicate (triples_op.predicate_triples). Aggregated per triple."""
    m = _oracle_mentions(spark, sf_dir, carry=("text",))
    pt = triples_op.predicate_triples(m, name_col="surface", max_gap=3)
    return pt.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).alias("n_sents"),
        F.countDistinct("url").alias("n_docs"))


def _sql_predicates(max_gap: int = 3) -> str:
    # Adjacency: no third mention strictly between a and b; gap tokens
    # are 0-based [a.end, b.begin) = 1-based [begin_pos+2, b.begin_pos]
    # (single-word oracle mentions: end = begin_pos + 1).
    return f"""
WITH {DUCKDB_PAGES_CTE}, {duckdb_gazetteer_cte()}, {_sql_mentions_cte()},
adj AS (
  SELECT a.url, a.surface AS s_a, a.begin_pos AS b_a,
         b.surface AS s_b, b.begin_pos AS b_b
  FROM mentions a JOIN mentions b
    ON a.url = b.url AND b.begin_pos > a.begin_pos
  WHERE NOT EXISTS (
      SELECT 1 FROM mentions c
      WHERE c.url = a.url AND c.begin_pos > a.begin_pos
        AND c.begin_pos < b.begin_pos)
    AND b.begin_pos - a.begin_pos - 1 BETWEEN 1 AND {max_gap}),
pt AS (
  SELECT s_a AS subj,
         array_to_string(list_slice(string_split(p.text, ' '),
                                    b_a + 2, b_b), '_') AS pred,
         s_b AS obj, adj.url
  FROM adj JOIN pages p ON adj.url = p.url)
SELECT subj, pred, obj, count(*) AS n_sents,
       count(DISTINCT url) AS n_docs
FROM pt GROUP BY 1, 2, 3"""


# ------------------------------------------------------- graph analytics
_SQL_ENTS_CTE = """ents AS (
  SELECT DISTINCT m.url, a.canonical_name AS entity_name
  FROM mentions m JOIN aliases a ON m.surface = a.alias_norm)"""


def _doc_entity_sets(spark: SparkSession, sf_dir: str,
                     with_stats: bool = True
                     ) -> tuple[DataFrame, int, int]:
    """Persisted GROUPED incidence table — one row per url with its
    sorted-distinct entity set — plus two driver scalars
    (n_distinct_urls, max_entities_per_url) when the caller needs
    them (q_pmi does; q_pagerank passes ``with_stats=False`` — the
    eager checkpoint already fills the boundary, so the stats job was
    a pure extra action there, r6). Grouped beats the r3 flat
    distinct table for both consumers: the groupBy(url).collect_set IS
    the distinct pass, and the downstream pair emission becomes an
    in-row explode instead of a url-keyed self-join (r4: this halved
    the q_pmi / q_pagerank shuffle count)."""
    m = _oracle_mentions(spark, sf_dir)
    linked = linking.link_exact(m, linking.alias_df(spark))
    grouped = (linked.where(F.col("entity_id").isNotNull())
               .groupBy("url")
               .agg(F.sort_array(F.collect_set("canonical_name"))
                    .alias("ents"))
               .localCheckpoint(eager=True))
    if not with_stats:
        return grouped, 0, 0
    row = grouped.agg(F.count(F.lit(1)).alias("n_urls"),
                      F.max(F.size("ents")).alias("max_c")).collect()[0]
    n_urls = int(row["n_urls"] or 0)
    max_c = int(row["max_c"] or 0)
    return grouped, n_urls, max_c


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the doc-co-occurrence entity
    graph (operators/graph_analytics.py, fixed-point integer recipe —
    bit-identical under any summation order, so DuckDB replays it
    exactly). Edges are emitted in-row from the grouped incidence
    sets (no self-join; pagerank's own sym-distinct dedups). Local
    mode is FORCED here via the driver-known vocabulary bound — the
    canonical alias vocabulary has v entries, so the symmetric edge
    set is ≤ v(v-1) rows, known before any job — not silently by
    library default (r3 advisor note)."""
    from ..operators.gazetteer import ALIAS_ROWS
    from ..operators.graph_analytics import explode_pairs, pagerank
    grouped, _, _ = _doc_entity_sets(spark, sf_dir, with_stats=False)
    edges = explode_pairs(grouped, "ents", "src", "dst")
    v = len({row[2] for row in ALIAS_ROWS})
    return pagerank(edges, n_iter=4, damping=0.85,
                    force_local=v * (v - 1) <= 100_000,
                    local_max_edges=100_000)


def _sql_pagerank_over(edge_ctes: str, n_iter: int = 4,
                       damping: float = 0.85) -> str:
    """Unrolled-CTE replay of the FIXED-POINT integer PageRank
    (graph_analytics.py) over ANY edge set: ``edge_ctes`` is a WITH
    body whose last CTE is ``edges(s, t)`` — the already
    symmetrized+distinct edge list the operator builds internally.
    int64 numerators at PR_SCALE, integer division for contributions
    and damping — bit-identical under any summation order, so DuckDB
    reproduces Spark exactly without any rounding-boundary luck (r4:
    a property test showed the old 9-dp float pinning could flip the
    6th dp on larger graphs)."""
    from ..operators.graph_analytics import PR_SCALE, damping_ratio
    p, q = damping_ratio(damping)
    base = f"(({q - p}) * {PR_SCALE}) // ({q} * (SELECT c FROM nn))"
    steps, prev = [], "pr0"
    for i in range(1, n_iter + 1):
        steps.append(f"""pr{i} AS (
  SELECT e.t AS node,
         CAST({base} + ({p} * sum(p.pr // d.deg)) // {q} AS BIGINT) AS pr
  FROM edges e JOIN {prev} p ON e.s = p.node JOIN deg d ON e.s = d.s
  GROUP BY e.t)""")
        prev = f"pr{i}"
    chain = ",\n".join(steps)
    return f"""
WITH {edge_ctes},
deg AS (SELECT s, count(*) AS deg FROM edges GROUP BY s),
nn AS (SELECT count(*) AS c FROM deg),
pr0 AS (SELECT s AS node, {PR_SCALE} // (SELECT c FROM nn) AS pr FROM deg),
{chain}
SELECT node, ((pr + 500000) // 1000000) / 1e6 AS pagerank
FROM {prev}"""


def _sql_pagerank(n_iter: int = 4, damping: float = 0.85) -> str:
    """PageRank oracle over the doc-co-occurrence entity graph."""
    edge_ctes = f"""{DUCKDB_PAGES_CTE}, {duckdb_gazetteer_cte()}, {_sql_mentions_cte()},
{DUCKDB_ALIASES_CTE}, {_SQL_ENTS_CTE},
e0 AS (
  SELECT DISTINCT a.entity_name AS s, b.entity_name AS t
  FROM ents a JOIN ents b
    ON a.url = b.url AND a.entity_name < b.entity_name),
edges AS (SELECT s, t FROM e0 UNION ALL SELECT t AS s, s AS t FROM e0)"""
    return _sql_pagerank_over(edge_ctes, n_iter, damping)


_PMI_DOC_CAP = 16


def q_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-weighted entity co-occurrence edges (pure int counts →
    per-row float: exactly reproducible cross-engine). The per-doc
    entity cap (hub-document fanout bound) is active and replayed by
    the oracle; at this corpus no doc reaches it — the cache-fill job
    proves that (max_per_doc_hint), so the cap window costs nothing
    here — and the pytest hub test (tests/test_graph_analytics.py)
    carries the behavioral check."""
    from ..operators.graph_analytics import pmi_edges_from_docsets
    grouped, n_urls, max_c = _doc_entity_sets(spark, sf_dir)
    return pmi_edges_from_docsets(grouped, min_docs=2,
                                  max_entities_per_doc=_PMI_DOC_CAP,
                                  total_docs=n_urls,
                                  max_per_doc_hint=max_c)


def _sql_pmi() -> str:
    return f"""
WITH {DUCKDB_PAGES_CTE}, {duckdb_gazetteer_cte()}, {_sql_mentions_cte()},
{DUCKDB_ALIASES_CTE}, {_SQL_ENTS_CTE},
capped AS (
  SELECT url, entity_name FROM (
    SELECT url, entity_name,
           row_number() OVER (PARTITION BY url ORDER BY entity_name) AS rn
    FROM ents) WHERE rn <= {_PMI_DOC_CAP}),
tot AS (SELECT count(DISTINCT url) AS c FROM capped),
marg AS (SELECT entity_name, count(*) AS c FROM capped GROUP BY 1),
pairs AS (
  SELECT a.entity_name AS subj, b.entity_name AS obj,
         count(*) AS n_docs
  FROM capped a JOIN capped b
    ON a.url = b.url AND a.entity_name < b.entity_name
  GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT p.subj, p.obj, p.n_docs,
       round(ln((CAST(p.n_docs AS DOUBLE) * (SELECT c FROM tot))
                / (CAST(ma.c AS DOUBLE) * mb.c)), 6) AS pmi
FROM pairs p
JOIN marg ma ON ma.entity_name = p.subj
JOIN marg mb ON mb.entity_name = p.obj"""


# ------------------------------------------------------------------ registry
def _managed(fn):
    """Registry wrapper: drain the previous query's deferred caches on
    entry (see cache-hygiene note at the top of this module)."""
    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _release_pending()
        return fn(spark, sf_dir)
    return wrapped


QUERIES = {
    "q_hot_surfaces": q_hot_surfaces,
    "q_media_meta": q_media_meta,
    "q_media_frames": q_media_frames,
    "q_media_features": q_media_features,
    "q_extract_text": q_extract_text,
    "q_mentions": q_mentions,
    "q_mention_type_counts": q_mention_type_counts,
    "q_link_exact": q_link_exact,
    "q_link_salted": q_link_salted,
    "q_triples": q_triples,
    "q_span_f1": q_span_f1,
    "q_textstats": q_textstats,
    "q_repetition": q_repetition,
    "q_langid": q_langid,
    "q_quality_filter": q_quality_filter,
    "q_fingerprint": q_fingerprint,
    "q_dedup_exact": q_dedup_exact,
    "q_minhash_pairs": q_minhash_pairs,
    "q_curate": q_curate,
    "q_decontaminate": q_decontaminate,
    "q_quota_sample": q_quota_sample,
    "q_mixture_sample": q_mixture_sample,
    "q_shard_pack": q_shard_pack,
    "q_pii_scrub": q_pii_scrub,
    "q_line_dedup": q_line_dedup,
    "q_prep": q_prep,
    "q_simhash": q_simhash,
    "q_simhash_pairs": q_simhash_pairs,
    "q_components": q_components,
    "q_knn": q_knn,
    "q_knn_lsh": q_knn_lsh,
    "q_knn_ivf": q_knn_ivf,
    "q_embdup": q_embdup,
    "q_embdup_lsh": q_embdup_lsh,
    "q_pricing": q_pricing,
    "q_top_orders": q_top_orders,
    "q_order_priority": q_order_priority,
    "q_events": q_events,
    "q_pipeline_triples": q_pipeline_triples,
    "q_verified_mentions": q_verified_mentions,
    "q_disputed_mentions": q_disputed_mentions,
    "q_predicates": q_predicates,
    "q_pagerank": q_pagerank,
    "q_pmi": q_pmi,
    "q_nil_merge": q_nil_merge,
    "q_warc_roundtrip": q_warc_roundtrip,
    "q_outlinks": q_outlinks,
    "q_link_hubs": q_link_hubs,
    "q_host_graph": q_host_graph,
    "q_link_pagerank": q_link_pagerank,
    "q_hits": q_hits,
    "q_cocitation": q_cocitation,
}
QUERIES = {name: _managed(fn) for name, fn in QUERIES.items()}

ORACLE_SQL = {
    "q_hot_surfaces": _sql_hot_surfaces(),
    "q_media_meta": _sql_media_meta(),
    "q_media_frames": _sql_media_frames(),
    "q_media_features": _sql_media_features(),
    "q_extract_text": _sql_extract_text(),
    "q_mentions": _sql_mentions(),
    "q_mention_type_counts": _sql_mention_type_counts(),
    "q_link_exact": _sql_link_exact(),
    "q_link_salted": _sql_link_exact(),
    "q_triples": _sql_triples(),
    "q_span_f1": _sql_span_f1(),
    "q_textstats": _sql_textstats(),
    "q_repetition": _sql_repetition(),
    "q_langid": _sql_langid(),
    "q_quality_filter": _sql_quality_filter(),
    "q_fingerprint": _sql_fingerprint(),
    "q_dedup_exact": _sql_dedup_exact(),
    "q_minhash_pairs": _sql_minhash_pairs(),
    "q_curate": _sql_curate(),
    "q_decontaminate": _sql_decontaminate(),
    "q_quota_sample": _sql_quota_sample(),
    "q_mixture_sample": _sql_mixture_sample(),
    "q_shard_pack": _sql_shard_pack(),
    "q_pii_scrub": _sql_pii_scrub(),
    "q_line_dedup": _sql_line_dedup(),
    "q_prep": _sql_prep(),
    "q_simhash": _sql_simhash(),
    "q_simhash_pairs": _sql_simhash_pairs(),
    "q_components": _sql_components(),
    "q_knn": _sql_knn(),
    "q_knn_lsh": _sql_knn_lsh(),
    "q_embdup": _sql_embdup(),
    "q_embdup_lsh": _sql_embdup_lsh(),
    "q_pricing": _sql_pricing(),
    "q_top_orders": _sql_top_orders(),
    "q_order_priority": _sql_order_priority(),
    "q_events": _sql_events(),
    "q_verified_mentions": _sql_mentions(),
    "q_disputed_mentions": _sql_mentions(),
    "q_predicates": _sql_predicates(),
    "q_pagerank": _sql_pagerank(),
    "q_pmi": _sql_pmi(),
    "q_nil_merge": _sql_nil_merge(),
    "q_warc_roundtrip": _sql_warc_roundtrip(),
    "q_knn_ivf": _sql_knn_ivf(),
    "q_pipeline_triples": _sql_pipeline_triples(),
    "q_outlinks": _sql_outlinks(),
    "q_link_hubs": _sql_link_hubs(),
    "q_host_graph": _sql_host_graph(),
    "q_link_pagerank": _sql_link_pagerank(),
    "q_hits": _sql_hits(),
    "q_cocitation": _sql_cocitation(),
}
