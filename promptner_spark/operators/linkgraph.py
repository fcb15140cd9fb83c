"""Web link-graph construction from crawled pages — outlink parsing,
host attribution, skew-safe indegree, and PageRank over the page
graph.

Reference scope: no counterpart in the reference (a pandas NER
harness, PromptNER). This belongs to the web-scale KG family the
north_star's Common-Crawl setting implies (SURVEY.md §2.10): the
hyperlink structure of the crawl is itself a first-class graph —
hub/authority signals feed quality priors, and the host graph is the
standard unit of crawl politeness and spam detection. Exercised as
`q_outlinks`, `q_link_hubs`, and `q_link_pagerank`, each with a full
DuckDB value-exact oracle (the synthetic corpus's nav links are a
pure integer function of doc_id — sources/pages.py — so the oracle
rebuilds the identical graph).

Scale shape (the 100 TB lens):

- Outlink parsing is ONE codegen regexp (`regexp_extract_all`) inside
  the scan stage — no Python, no shuffle; a run that only needs edges
  never materializes text (column pruning drops it at the reader).
- Edges explode map-side. At corpus scale dst urls would be
  dictionary-encoded to longs before any wide exchange — the same
  longs-not-names discipline as the KG pair emission
  (operators/triples.py); kept as strings here because every
  downstream consumer is either map-side or aggregates to the
  (small) hub/host vocabulary.
- Indegree uses the salted two-phase aggregate (operators/skew.py):
  web indegree is Zipfian — a handful of hub pages own a constant
  fraction of ALL edges, exactly the single-hot-key shape a plain
  groupBy would funnel into one reducer.
- PageRank reuses the int64 fixed-point operator
  (operators/graph_analytics.py): bit-identical under any summation
  order / partitioning / cluster size by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..sources.pages import URL_PREFIX

#: href values, first capture group. Attribute-quoted hrefs only —
#: the synthesis emits exactly this shape; a production extractor
#: would widen the pattern, not the plan.
HREF_PATTERN = r'href="([^"]+)"'

#: host part of an absolute http(s) url.
HOST_PATTERN = r"^https?://([^/]+)"


def host_of(url: Column) -> Column:
    """The url's host — one codegen regexp, no UDF."""
    return F.regexp_extract(url, HOST_PATTERN, 1)


def parse_outlinks(pages: DataFrame, html_col: str = "html",
                   url_col: str = "url") -> DataFrame:
    """(url, links array<string>): every href in the page, in document
    order. Pure projection — parsing rides inside the scan stage."""
    return pages.select(
        F.col(url_col).alias("url"),
        F.regexp_extract_all(
            F.decode(F.col(html_col), "UTF-8"), F.lit(HREF_PATTERN), 1
        ).alias("links"),
    )


def outlink_edges(pages: DataFrame, internal_prefix: str = URL_PREFIX,
                  html_col: str = "html",
                  url_col: str = "url") -> DataFrame:
    """The edge list (src, dst, internal, dst_host) — one map-side
    explode of the parsed links, no shuffle."""
    links = parse_outlinks(pages, html_col=html_col, url_col=url_col)
    return links.select(
        F.col("url").alias("src"),
        F.explode("links").alias("dst"),
    ).select(
        "src", "dst",
        F.col("dst").startswith(internal_prefix).alias("internal"),
        host_of(F.col("dst")).alias("dst_host"),
    )


def indegree(edges: DataFrame, dst_col: str = "dst",
             n_salts: int = 16) -> DataFrame:
    """(dst, indeg) via the salted two-phase aggregate — value-equal
    to a plain groupBy count (the oracle checks this), shape robust to
    hub pages owning most of the edge stream."""
    from .skew import salted_agg

    return salted_agg(
        edges.select(F.col(dst_col).alias("dst"), "src"),
        "dst", ["src"],
        {"indeg": (F.count(F.lit(1)).cast("long"),
                   F.sum("indeg").cast("long"))},
        n_salts=n_salts,
    )


def host_link_stats(edges: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links, n_src_pages): the host-level
    crawl graph. Hosts are a vanishing vocabulary next to pages, so
    the single aggregate's output is broadcast-sized."""
    return edges.select(
        host_of(F.col("src")).alias("src_host"), "dst_host", "src",
    ).groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.countDistinct("src").cast("long").alias("n_src_pages"),
    )


def link_pagerank(pages: DataFrame, n_iter: int = 4,
                  damping: float = 0.85) -> DataFrame:
    """PageRank over the internal page-link graph: (node, pagerank).
    Distinct directed edges feed the fixed-point operator (which
    symmetrizes, like the entity-graph caller)."""
    from .graph_analytics import pagerank

    edges = outlink_edges(pages).where(F.col("internal")) \
        .select("src", "dst").distinct()
    return pagerank(edges, n_iter=n_iter, damping=damping,
                    src="src", dst="dst")


__all__ = ["HREF_PATTERN", "HOST_PATTERN", "host_of", "parse_outlinks",
           "outlink_edges", "indegree", "host_link_stats",
           "link_pagerank"]
