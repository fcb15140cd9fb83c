"""Graph analytics + predicate extraction operators, pinned on
hand-checkable inputs (the driver queries cross-check the same
operators value-exactly against DuckDB at sf0.01)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_predicate_triples_adjacent_pairs_and_gap(spark):
    from promptner_spark.operators.triples import predicate_triples

    # tokens:   0     1    2     3    4      5     6
    text = "spark reads the table from stream now"
    mentions = spark.createDataFrame(
        [("u", 0, 0, 1, "spark", text),
         ("u", 0, 3, 4, "table", text),
         ("u", 0, 5, 6, "stream", text)],
        "url string, sent_id int, begin int, end int, surface string, "
        "text string")
    got = {(r["subj"], r["pred"], r["obj"])
           for r in predicate_triples(mentions, max_gap=3).collect()}
    # adjacent pairs only: (spark, table) gap 2; (table, stream) gap 1;
    # (spark, stream) is NOT adjacent (table lies between) — absent
    assert got == {("spark", "reads_the", "table"),
                   ("table", "from", "stream")}


def test_predicate_triples_gap_and_vocab_limits(spark):
    from promptner_spark.operators.triples import predicate_triples

    text = "spark a b c d table uses stream"
    mentions = spark.createDataFrame(
        [("u", 0, 0, 1, "spark", text),
         ("u", 0, 5, 6, "table", text),
         ("u", 0, 7, 8, "stream", text)],
        "url string, sent_id int, begin int, end int, surface string, "
        "text string")
    # gap 4 > max_gap=3 → (spark, table) dropped; (table, stream) kept
    got = {(r["subj"], r["pred"], r["obj"])
           for r in predicate_triples(mentions, max_gap=3).collect()}
    assert got == {("table", "uses", "stream")}
    # connector vocabulary filter
    none = predicate_triples(mentions, max_gap=3,
                             connector_vocab=("reads",)).count()
    assert none == 0


def test_pagerank_matches_reference_power_iteration(spark):
    from promptner_spark.operators.graph_analytics import pagerank

    # path graph a - b - c (undirected)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string")
    got = {r["node"]: r["pagerank"]
           for r in pagerank(edges, n_iter=4, damping=0.85).collect()}

    # reference: plain-python power iteration with the operator's
    # exact fixed-point integer recipe (PR_SCALE numerators,
    # pr//deg contributions, base + (17·sum)//20 damping)
    from promptner_spark.operators.graph_analytics import PR_SCALE
    base = (3 * PR_SCALE) // (20 * 3)   # ((20-17)·S) // (20·n)
    pr = {v: PR_SCALE // 3 for v in "abc"}
    deg = {"a": 1, "b": 2, "c": 1}
    nbrs = {"a": ["b"], "b": ["a", "c"], "c": ["b"]}
    for _ in range(4):
        pr = {v: base + (17 * sum(pr[u] // deg[u] for u in nbrs[v])) // 20
              for v in pr}
    want = {v: round(p / PR_SCALE, 6) for v, p in pr.items()}
    assert got == want
    # center of the path must dominate
    assert got["b"] > got["a"] == got["c"]
    assert abs(sum(got.values()) - 1.0) < 1e-4


def test_pmi_edges_hand_computed(spark):
    import math

    from promptner_spark.operators.graph_analytics import pmi_edges

    # 4 docs: (x,y) together twice, x alone once, y alone once
    ents = spark.createDataFrame(
        [("d1", "x"), ("d1", "y"),
         ("d2", "x"), ("d2", "y"),
         ("d3", "x"), ("d4", "y")],
        "url string, entity_name string")
    rows = pmi_edges(ents, min_docs=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["subj"], r["obj"], r["n_docs"]) == ("x", "y", 2)
    # pmi = ln( (2/4) / ((3/4)*(3/4)) ) = ln(8/9)
    assert r["pmi"] == pytest.approx(round(math.log((2 * 4) / (3 * 3)), 6))


def test_empty_inputs_yield_empty_outputs(spark):
    from promptner_spark.operators.graph_analytics import pagerank, pmi_edges
    from promptner_spark.operators.triples import predicate_triples

    no_edges = spark.createDataFrame([], "src string, dst string")
    assert pagerank(no_edges).count() == 0
    no_ents = spark.createDataFrame([], "url string, entity_name string")
    assert pmi_edges(no_ents).count() == 0
    lone = spark.createDataFrame(
        [("u", 0, 0, 1, "spark", "spark only")],
        "url string, sent_id int, begin int, end int, surface string, "
        "text string")
    assert predicate_triples(lone).count() == 0


def test_pagerank_independent_of_partitioning(spark):
    """North-rule determinism: same result at different parallelism
    (the per-iteration rounding pins the trajectory)."""
    from promptner_spark.operators.graph_analytics import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")],
        "src string, dst string")
    one = {(r["node"], r["pagerank"])
           for r in pagerank(edges.coalesce(1), n_iter=4).collect()}
    many = {(r["node"], r["pagerank"])
            for r in pagerank(edges.repartition(7), n_iter=4).collect()}
    assert one == many


def test_nil_components_merges_near_duplicate_surfaces(spark):
    """North-star NIL canonicalization on the resolution dictionary:
    near-duplicate NIL surfaces collapse to one representative; linked
    surfaces are untouched."""
    from promptner_spark import schema
    from promptner_spark.operators.linking import build_resolution
    from promptner_spark.operators.triples import (
        merge_nil_surfaces, nil_components,
    )

    mentions = spark.createDataFrame(
        [("kafka",),        # NIL cluster {kafka, kafkas}
         ("kafkas",),
         ("zookeeper",),    # NIL singleton
         ("spark",)],
        "surface string")
    aliases = spark.createDataFrame([("spark", 1, "Apache Spark", 0.9)],
                                    schema.ALIASES)
    resolution = build_resolution(mentions, aliases, fuzzy=False)

    reps = {r["m_norm"]: r["canonical_rep"]
            for r in nil_components(
                resolution.where("entity_id IS NULL")).collect()}
    assert reps == {"kafka": "kafka", "kafkas": "kafka",
                    "zookeeper": "zookeeper"}

    by_surface = {r["m_norm"]: r
                  for r in merge_nil_surfaces(resolution).collect()}
    # both kafka variants share ONE canonical entity (key and name)
    assert (by_surface["kafka"]["entity_key"]
            == by_surface["kafkas"]["entity_key"])
    assert (by_surface["kafka"]["entity_name"]
            == by_surface["kafkas"]["entity_name"] == "kafka")
    # singleton keeps itself, linked surface keeps its alias entity
    assert by_surface["zookeeper"]["entity_name"] == "zookeeper"
    assert by_surface["spark"]["entity_name"] == "Apache Spark"
    assert by_surface["spark"]["entity_key"] == 1
    # the unmerged dictionary leaves the variants distinct (regression
    # guard)
    plain = {r["m_norm"]: r["entity_name"] for r in resolution.collect()}
    assert plain["kafkas"] == "kafkas" != plain["kafka"]


def test_pmi_hub_document_cap(spark):
    """max_entities_per_doc bounds hub-document pair fanout: a doc
    listing many entities contributes only its capped top-N, selected
    deterministically (n_mentions desc when present, else entity_name
    asc)."""
    from promptner_spark.operators.graph_analytics import pmi_edges

    hub = [("hub", f"e{i:02d}") for i in range(10)]
    normal = [("d1", "e00"), ("d1", "e01"),
              ("d2", "e00"), ("d2", "e01")]
    ents = spark.createDataFrame(hub + normal,
                                 "url string, entity_name string")
    capped = pmi_edges(ents, min_docs=1, max_entities_per_doc=3)
    pairs = {(r["subj"], r["obj"]) for r in capped.collect()}
    # hub contributes only C(3,2)=3 pairs from e00..e02 (name-asc cap)
    assert pairs == {("e00", "e01"), ("e00", "e02"), ("e01", "e02")}
    uncapped = pmi_edges(ents, min_docs=1)
    assert uncapped.count() == 45  # C(10,2) hub pairs ⊇ the d1/d2 pair
    # n_mentions ordering wins over name order when provided
    ranked = spark.createDataFrame(
        [("hub", "zz_popular", 100), ("hub", "aa_rare", 1),
         ("hub", "mm_mid", 10),
         ("d1", "zz_popular", 2), ("d1", "mm_mid", 2)],
        "url string, entity_name string, n_mentions int")
    kept = pmi_edges(ranked, min_docs=1, max_entities_per_doc=2)
    got = {(r["subj"], r["obj"]) for r in kept.collect()}
    # cap keeps (zz_popular, mm_mid) on the hub — aa_rare dropped
    assert got == {("mm_mid", "zz_popular")}, got


def test_pagerank_local_mode_matches_distributed(spark):
    """The small-graph local fast path must reproduce the distributed
    loop exactly (same rounded trajectory) — selected by
    force_local=True on the same input. Local mode is opt-in
    (default force_local=False): library callers are never silently
    switched to driver-side execution (r3 advisor note)."""
    from promptner_spark.operators.graph_analytics import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"),
         ("d", "e"), ("e", "a")],
        "src string, dst string")
    local = {(r["node"], r["pagerank"])
             for r in pagerank(edges, n_iter=4,
                               force_local=True).collect()}
    dist = {(r["node"], r["pagerank"])
            for r in pagerank(edges, n_iter=4).collect()}
    assert local == dist


def test_pagerank_local_mode_property_random_graphs(spark):
    """Local ≡ distributed on larger RANDOM graphs (r3 advisor: the
    single 7-edge parity case was too thin a base for the claim that
    round(·, 9) absorbs summation-order differences). Three seeded
    Erdős–Rényi-ish graphs, a few hundred nodes / ~2k edges each,
    exact set equality of the rounded ranks."""
    import random

    from promptner_spark.operators.graph_analytics import pagerank

    for seed in (7, 41, 1913):
        rng = random.Random(seed)
        n = rng.randint(150, 300)
        m = rng.randint(1200, 2400)
        edges_py = {(f"n{rng.randrange(n)}", f"n{rng.randrange(n)}")
                    for _ in range(m)}
        edges_py = [(s, t) for s, t in edges_py if s != t]
        edges = spark.createDataFrame(edges_py, "src string, dst string")
        local = {(r["node"], r["pagerank"])
                 for r in pagerank(edges, n_iter=4,
                                   force_local=True).collect()}
        dist = {(r["node"], r["pagerank"])
                for r in pagerank(edges, n_iter=4).collect()}
        assert local == dist, f"seed {seed}: local/distributed diverge"


# --------------------------------------------------- HITS / co-citation

def _py_hits(edges, n_iter=4, scale=10**6):
    """Pure-Python mirror of graph_analytics.hits' integer recipe."""
    from collections import defaultdict

    e = sorted(set(edges))
    nodes = sorted({s for s, _ in e} | {t for _, t in e})
    h, a = {n: scale for n in nodes}, {}
    for _ in range(n_iter):
        a_raw = defaultdict(int)
        for s, t in e:
            a_raw[t] += h.get(s, 0)
        m = max(a_raw.values())
        a = {n: v * scale // m for n, v in a_raw.items()}
        h_raw = defaultdict(int)
        for s, t in e:
            h_raw[s] += a.get(t, 0)
        m = max(h_raw.values())
        h = {n: v * scale // m for n, v in h_raw.items()}
    return {n: (h.get(n, 0) / scale, a.get(n, 0) / scale) for n in nodes}


def test_hits_hand_structure(spark):
    """x->a, y->a, y->b, z->b: y links BOTH authorities so it is the
    top hub; pure-sink nodes have hub 0; the symmetric authorities
    tie exactly."""
    from promptner_spark.operators.graph_analytics import hits

    edges = [("x", "a"), ("y", "a"), ("y", "b"), ("z", "b")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: (r["hub"], r["authority"]) for r in hits(df).collect()}
    assert got == _py_hits(edges)
    assert got["y"][0] == 1.0                      # max-normalized top hub
    assert got["y"][0] > got["x"][0] > 0
    assert got["x"][0] == got["z"][0]
    assert got["a"][0] == 0.0 and got["b"][0] == 0.0   # sinks: no hub
    assert got["a"][1] == got["b"][1] == 1.0           # symmetric tie


def test_hits_matches_python_mirror_on_random_graph(spark):
    import random

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(40)]
    edges = sorted({(rng.choice(nodes), rng.choice(nodes))
                    for _ in range(150)})
    edges = [(s, t) for s, t in edges if s != t]
    from promptner_spark.operators.graph_analytics import hits

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: (r["hub"], r["authority"]) for r in hits(df).collect()}
    assert got == _py_hits(edges)


def test_hits_partition_independent(spark):
    """The fixed-point claim: identical output under different input
    partitionings."""
    import random

    rng = random.Random(11)
    edges = sorted({(f"s{rng.randrange(30)}", f"t{rng.randrange(30)}")
                    for _ in range(120)})
    from promptner_spark.operators.graph_analytics import hits

    outs = []
    for parts in (1, 7):
        df = spark.createDataFrame(edges, ["src", "dst"]).repartition(parts)
        outs.append(sorted(
            (r["node"], r["hub"], r["authority"])
            for r in hits(df).collect()))
    assert outs[0] == outs[1]


def test_cocitation_hand_case(spark):
    from promptner_spark.operators.graph_analytics import cocitation_counts

    edges = [("s1", "a"), ("s1", "b"), ("s2", "a"), ("s2", "b"),
             ("s3", "a"), ("s3", "c"), ("s3", "a")]   # dup link dedups
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {(r["a"], r["b"]): r["n_cocited"]
           for r in cocitation_counts(df, min_count=2).collect()}
    assert got == {("a", "b"): 2}
    got1 = {(r["a"], r["b"]): r["n_cocited"]
            for r in cocitation_counts(df, min_count=1).collect()}
    assert got1 == {("a", "b"): 2, ("a", "c"): 1}


def test_cocitation_cap_bounds_fanout(spark):
    from promptner_spark.operators.graph_analytics import cocitation_counts

    edges = [("hub", f"d{i}") for i in range(10)] + \
            [("s2", "d0"), ("s2", "d1")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    capped = cocitation_counts(df, min_count=1, max_links_per_src=2)
    # sorted dsts: hub contributes only (d0, d1); s2 the same pair
    got = {(r["a"], r["b"]): r["n_cocited"] for r in capped.collect()}
    assert got == {("d0", "d1"): 2}
