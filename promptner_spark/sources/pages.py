"""The web-page corpus source (operators S9 + the html→text extractor).

``BASELINE.json:input_hint`` fixes the input as an Iceberg table
``(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
lang STRING)``. This sandbox has no Iceberg catalog jars, so the same
table is synthesized *deterministically* from the driver-provided
``documents.parquet`` (TESTDATA.md) with pure Spark SQL expressions —
no RNG, no Python — so the DuckDB oracle can rebuild it bit-identically
from the same parquet.

The html→text extractor is the north_rule's byte-identical invariant
("byte-identical extracted text per url"): html is the canonical
wrapping of ``text`` and extraction inverts it exactly; the pipeline
asserts ``extract(html) == text`` per url (tests + the
``q_extract_text`` oracle query).

Scale note: both synthesis and extraction are single narrow
projections — no shuffle, fully codegen'd, and column pruning means a
run that only needs ``text`` never deserializes ``html``
(SURVEY.md §4.2).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

# Canonical page template. Kept to one <p> element so the inverse is a
# single anchored regexp in BOTH engines (Spark regexp_extract /
# DuckDB regexp_extract). A <nav> of deterministic outlinks follows
# the article text — web pages carry links, and the link-graph
# operators (operators/linkgraph.py) parse them back out; the nav
# sits OUTSIDE <p>…</p> so the byte-identical text extractor is
# untouched.
_PREFIX = "<html><head><title>doc "
_MID = "</title></head><body><article><p>"

URL_PREFIX = "https://ex.com/"
EXTRACT_PATTERN = "<p>(.*)</p>"

# Deterministic outlink rule (pure integer function of doc_id, so the
# DuckDB oracle rebuilds the identical link graph):
#   parent  d -> d div 2            (d > 0; binary-tree "up" link)
#   hub     d -> d - d mod HUB_MOD  (skipped when self or == parent;
#                                    gives hub pages Zipf-ish indegree
#                                    ~HUB_MOD — the skew the salted
#                                    indegree aggregate exists for)
#   external d -> https://cdn{d mod EXT_HOST_MOD}.example/a/{d}
#                                   (dangling cross-host edge)
PARENT_DIV = 2
HUB_MOD = 50
EXT_HOST_MOD = 7


def url_of(doc_id: Column) -> Column:
    return F.concat(F.lit(URL_PREFIX), doc_id.cast("string"))


def _nav_of(doc_id: Column) -> Column:
    """The deterministic <nav> outlink block (see the rule above)."""
    d = doc_id.cast("long")
    parent = F.shiftright(d, 1)  # d div 2, exact for non-negative ids
    hub = (d - F.pmod(d, F.lit(HUB_MOD))).cast("long")
    a_parent = F.when(
        d > 0,
        F.concat(F.lit('<a href="' + URL_PREFIX), parent.cast("string"),
                 F.lit('">up</a>')),
    ).otherwise(F.lit(""))
    a_hub = F.when(
        (hub != d) & (hub != parent),
        F.concat(F.lit('<a href="' + URL_PREFIX), hub.cast("string"),
                 F.lit('">hub</a>')),
    ).otherwise(F.lit(""))
    a_ext = F.concat(
        F.lit('<a href="https://cdn'),
        F.pmod(d, F.lit(EXT_HOST_MOD)).cast("string"),
        F.lit(".example/a/"), d.cast("string"), F.lit('">x</a>'))
    return F.concat(F.lit("<nav>"), a_parent, a_hub, a_ext, F.lit("</nav>"))


def html_of(doc_id: Column, lang: Column, text: Column) -> Column:
    """Deterministic html wrapping of ``text`` (BINARY, UTF-8)."""
    page = F.concat(
        F.lit(_PREFIX), doc_id.cast("string"), F.lit(" ["), lang, F.lit("]"),
        F.lit(_MID), text, F.lit("</p>"), _nav_of(doc_id),
        F.lit("</article></body></html>"),
    )
    return F.encode(page, "UTF-8")


def extract_text(html: Column) -> Column:
    """Inverse of :func:`html_of` — the byte-identical extractor."""
    return F.regexp_extract(F.decode(html, "UTF-8"), EXTRACT_PATTERN, 1)


@functools.lru_cache(maxsize=None)
def _page_cols() -> tuple[Column, ...]:
    """The pages projection over documents' named columns. Memoized:
    an immutable expression tree, and building it through py4j on every
    call made a warm synthesize_pages take 161 ms instead of 57 ms
    (sf0.1, 4-core host; see the memo note in functions/textstats.py)."""
    return (
        url_of(F.col("doc_id")).alias("url"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id")  # 2024-01-01T00:00:00Z
        ).alias("warc_ts"),
        html_of(F.col("doc_id"), F.col("lang"), F.col("text")).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def synthesize_pages(spark: SparkSession, sf_dir: str,
                     replicate: int = 1,
                     perturb_vocab: bool = False) -> DataFrame:
    """documents.parquet → pages table per input_hint.

    ``warc_ts`` is a deterministic function of doc_id (one second per
    doc from a fixed epoch). ``text`` is kept alongside ``html``; the
    pipeline recomputes it from html and asserts equality.

    ``replicate=R`` deterministically blows the corpus up ×R (distinct
    doc_ids/urls, identical text) — the bench harness uses this to make
    the scaling measurement compute-dominated rather than
    fixed-overhead-dominated at sandbox data sizes.

    ``perturb_vocab`` (with ``replicate``) suffixes every single-word
    gazetteer token in replica r>0 with ``vr`` (``spark`` → ``sparkv3``)
    — one case-insensitive JVM regexp pass, still fully deterministic.
    Paired with ``operators/gazetteer.py::scaled_gazetteer`` this makes
    the surface VOCABULARY grow with the corpus (as a real Zipf corpus
    does) instead of repeating ~20 surfaces, so the vocabulary-level
    KG stages distribute in the scaling measurement.
    """
    from ..scans import cached_parquet
    docs = cached_parquet(spark, f"{sf_dir}/documents.parquet")
    if replicate > 1:
        # Spread the explode across the cluster first — a small parquet
        # is one input split, and a ×R Generate on one task is a serial
        # bottleneck.
        docs = docs.repartition(
            spark.sparkContext.defaultParallelism
        ).withColumn(
            "__rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
        ).withColumn(
            "doc_id", F.col("doc_id") * replicate + F.col("__rep")
        )
        if perturb_vocab:
            from ..operators.gazetteer import ORACLE_GAZETTEER
            pat = (r"(?i)\b(" + "|".join(ORACLE_GAZETTEER) + r")\b")
            docs = docs.withColumn(
                "text",
                F.when(F.col("__rep") == 0, F.col("text")).otherwise(
                    F.regexp_replace(
                        F.col("text"), F.lit(pat),
                        F.concat(F.lit("$1v"), F.col("__rep")))))
        docs = docs.drop("__rep")
    return docs.select(*_page_cols())


def pages_with_extracted_text(spark: SparkSession, sf_dir: str,
                              replicate: int = 1,
                              perturb_vocab: bool = False) -> DataFrame:
    """Pages + ``extracted`` column (coalesce(text, extract(html))) —
    the first pipeline stage. ``extract_ok`` flags the byte-identity
    invariant for the lineage manifest."""
    pages = synthesize_pages(spark, sf_dir, replicate=replicate,
                             perturb_vocab=perturb_vocab)
    extracted = extract_text(F.col("html"))
    return pages.select(
        "url", "warc_ts", "lang",
        F.coalesce(F.col("text"), extracted).alias("text"),
        (extracted == F.col("text")).alias("extract_ok"),
    )


# DuckDB mirror of the synthesis, used by oracle_sql() so the oracle
# rebuilds the identical pages table (nav outlinks included) from
# documents.parquet. `doc_id // 2` == shiftright(d,1) for the
# non-negative ids both corpora use.
_DUCKDB_NAV = (
    "'<nav>', "
    "CASE WHEN doc_id > 0 THEN concat('<a href=\"https://ex.com/', "
    f"CAST(doc_id // {PARENT_DIV} AS VARCHAR), '\">up</a>') ELSE '' END, "
    f"CASE WHEN (doc_id - doc_id % {HUB_MOD}) <> doc_id "
    f"AND (doc_id - doc_id % {HUB_MOD}) <> (doc_id // {PARENT_DIV}) "
    "THEN concat('<a href=\"https://ex.com/', "
    f"CAST(doc_id - doc_id % {HUB_MOD} AS VARCHAR), '\">hub</a>') ELSE '' END, "
    f"concat('<a href=\"https://cdn', CAST(doc_id % {EXT_HOST_MOD} AS VARCHAR), "
    "'.example/a/', CAST(doc_id AS VARCHAR), '\">x</a>'), "
    "'</nav>'"
)
DUCKDB_PAGES_CTE = (
    "pages AS (SELECT concat('https://ex.com/', CAST(doc_id AS VARCHAR)) AS url, "
    "encode(concat('<html><head><title>doc ', CAST(doc_id AS VARCHAR), ' [', lang, "
    "']</title></head><body><article><p>', text, '</p>', "
    + _DUCKDB_NAV +
    ", '</article></body></html>')) AS html, "
    "text, lang, doc_id FROM documents)"
)
