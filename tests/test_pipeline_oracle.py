"""q_pipeline_triples' DuckDB closed form on a CRAFTED corpus that
forces every branch the synthetic sf corpus happens not to take:

- the reference -1 quirk (`utils.py:33-34` via `algorithms.py:119-129`):
  a phrase occurring MORE than once in a chunk tags B- on the LAST
  token and I- on tokens 0..width-2, manufacturing mention surfaces
  out of arbitrary corpus tokens;
- NIL surfaces (no alias hit) flowing through the fuzzy MinHash-LSH
  fallback, both a true fuzzy HIT (jaccard ≥ 0.5: "customers" →
  Customer) and fuzzy misses that canonicalize to themselves;
- multiword-over-single overwrite ("sort merge" covering the single
  word "merge", `algorithms.py:106` vs free multiword overwrite);
- multi-chunk documents (chunking boundary).

The sf-corpus hash_match in CORRECTNESS proves the common path; this
test proves the closed form models the quirk semantics rather than
relying on the corpus never triggering them. Also pins the
portable-vs-fast fuzzy band family parity that justifies
q_pipeline_triples opting into the md5 family.
"""

import os

import duckdb
import pandas as pd
import pytest

CRAFTED = [
    # -1 quirk: "hash join" occurs twice in the single chunk ->
    # B-OP on last token ("join"), I-OP on token 0 ("hash").
    (1, "hash join alpha beta hash join"),
    # quirk + fuzzy HIT: "table scan" twice; I-OP lands on token 0
    # "customers" (jaccard 6/7 vs alias "customer"), B-OP on "scan".
    (2, "customers table scan beta gamma table scan"),
    # multiword-over-single overwrite: "sort merge" covers the single
    # word "merge"; only the phrase mention must survive.
    (3, "alpha sort merge beta"),
    # multi-chunk doc: 30 tokens -> 2 chunks; "spark" in chunk 0 and
    # chunk 1 both emit (per-chunk first occurrence), "filter" chunk 1.
    (4, " ".join(["spark"] + ["w%d" % i for i in range(24)]
                 + ["spark", "filter", "x", "y", "z"])),
    # plain co-occurrence control row.
    (5, "spark customer window"),
]


@pytest.fixture(scope="module")
def crafted_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("crafted_sf")
    pd.DataFrame(
        [{"doc_id": i, "text": t, "lang": "en", "source": "crafted",
          "n_chars": len(t)} for i, t in CRAFTED]
    ).to_parquet(os.path.join(d, "documents.parquet"))
    return str(d)


def _oracle_rows(sf_dir):
    from promptner_spark.plans.queries import _sql_pipeline_triples

    con = duckdb.connect()
    path = os.path.join(sf_dir, "documents.parquet")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{path}')")
    out = con.execute(_sql_pipeline_triples()).fetchdf()
    return sorted(map(tuple, out.itertuples(index=False)))


def _spark_rows(spark, sf_dir):
    from promptner_spark.plans.queries import q_pipeline_triples

    return sorted(map(tuple, (
        q_pipeline_triples(spark, sf_dir).toPandas()
        .itertuples(index=False))))


def test_crafted_quirk_corpus_matches_oracle(spark, crafted_dir):
    got = _spark_rows(spark, crafted_dir)
    want = _oracle_rows(crafted_dir)
    assert got == want
    # sanity on the quirk semantics themselves (guards BOTH sides
    # against agreeing on the wrong thing):
    trip = {(s, o) for s, _, o, _, _ in got}
    # doc 1: quirk surfaces "hash"/"join" stay NIL and co-occur
    assert ("hash", "join") in trip
    # doc 2: "customers" fuzzy-links to Customer, co-occurs with the
    # NIL quirk surface "scan"
    assert ("Customer", "scan") in trip
    # doc 3: the single-word "merge" mention is overwritten by the
    # phrase span: Sort Merge never co-occurs with Merge Operator
    assert not any("Merge Operator" in p for p in trip
                   if "Sort Merge" in p)


def test_portable_fuzzy_band_family_parity_on_sf(spark, sf_dir):
    """On the synthetic sf corpus the md5 (oracle-replayable) and
    xxhash64 (hot-path) LSH band families produce identical pipelines
    — every surface exact-hits the alias table, so the fuzzy stage's
    band family cannot matter. This pins that q_pipeline_triples'
    portable_fuzzy=True changes nothing about what CORRECTNESS
    measures on the driver corpus."""
    from promptner_spark.plans.pipeline import build_pipeline

    fast = build_pipeline(spark, sf_dir)
    port = build_pipeline(spark, sf_dir, portable_fuzzy=True)
    cols = ["subj", "pred", "obj", "n_sents", "n_docs"]
    a = sorted(map(tuple, fast.triple_counts.select(*cols)
                   .toPandas().itertuples(index=False)))
    b = sorted(map(tuple, port.triple_counts.select(*cols)
                   .toPandas().itertuples(index=False)))
    for r in (fast, port):
        r.unpersist()
    assert a == b


def test_band_families_diverge_only_as_lsh_false_negatives(spark):
    """The two band families implement the SAME (16,4)-LSH scheme but
    different hash functions, so they may disagree on near-threshold
    pairs (each can false-negative pairs the other banding catches) —
    the measured case: jaccard("customers","customer") = 6/7, caught
    by the md5 family, missed by xxhash64 (all 4 bands differ). This
    is WHY q_pipeline_triples pins ONE family (portable) and the
    DuckDB oracle replays exactly that family: value-exactness of an
    LSH pipeline requires fixing the hash family, not hoping two
    families agree. The verified-Jaccard stage means neither family
    ever emits a FALSE POSITIVE."""
    from promptner_spark.operators import linking

    aliases = linking.alias_df(spark)
    miss = spark.createDataFrame([("customers",)], ["surface"])
    fast = linking.link_fuzzy_candidates(miss, aliases).collect()
    port = linking.link_fuzzy_candidates(
        miss, aliases, portable=True).collect()
    assert [(r["m_norm"], r["canonical_name"]) for r in port] == \
        [("customers", "Customer")]
    assert fast == []   # the documented xxhash64 false negative


def test_random_quirk_dense_corpus_matches_oracle(spark, tmp_path):
    """Seeded-random corpus stress: 60 docs sampled from a vocabulary
    DENSE in gazetteer words, phrase fragments, and full phrases, with
    doc lengths straddling the 25-token chunk boundary — so phrase
    repeats, quirk spans, chunk-edge splits, and overwrite collisions
    occur in combinations the hand-crafted cases don't enumerate. The
    Spark pipeline and the DuckDB closed form must agree row-for-row."""
    import random

    rng = random.Random(20260817)
    vocab = (["spark", "customer", "table", "column", "merge", "filter",
              "window", "hash", "join", "scan", "sort", "batch", "stream",
              "alpha", "beta", "gamma", "delta", "w1", "w2", "w3"]
             + ["hash join", "table scan", "sort merge"] * 3)
    rows = []
    for doc_id in range(60):
        n = rng.choice([3, 10, 24, 25, 26, 40, 60])
        toks = []
        while len(toks) < n:
            toks.extend(rng.choice(vocab).split(" "))
        text = " ".join(toks[:n])
        rows.append({"doc_id": doc_id, "text": text, "lang": "en",
                     "source": "rand", "n_chars": len(text)})
    d = tmp_path / "rand_sf"
    d.mkdir()
    pd.DataFrame(rows).to_parquet(str(d / "documents.parquet"))

    got = _spark_rows(spark, str(d))
    want = _oracle_rows(str(d))
    assert got, "corpus must produce triples"
    assert got == want


def test_bench_fast_flagship_matches_registry_entry(spark, sf_dir):
    """bench.py times q_pipeline_triples_fast (production xxhash64
    band family) as the headline flagship while the registry keeps
    the portable entry for the oracle harness (r4 verdict Next #2):
    on the driver corpus the two must emit identical triple counts,
    and the fast variant must NOT be in the driver QUERIES registry
    (CORRECTNESS stays value-exact on every entry)."""
    from promptner_spark.plans.queries import (
        QUERIES, q_pipeline_triples, q_pipeline_triples_fast,
    )

    assert q_pipeline_triples_fast not in QUERIES.values()
    cols = ["subj", "pred", "obj", "n_sents", "n_docs"]
    a = sorted(map(tuple, q_pipeline_triples_fast(spark, sf_dir)
                   .select(*cols).toPandas().itertuples(index=False)))
    b = sorted(map(tuple, q_pipeline_triples(spark, sf_dir)
                   .select(*cols).toPandas().itertuples(index=False)))
    assert a == b
