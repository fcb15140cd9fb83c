"""Canonicalization + (subj, pred, obj) triple emission
(operators G1, G3 — SURVEY.md §2.9) **[NORTH]**.

Semantics (deterministic, dependency-free — the reference has no
relation extractor, so the north-rule triple emission is co-occurrence
based):

- **nodes**: one canonical entity per linked cluster. Linked mentions
  carry their alias ``entity_id``; NIL mentions get an id from their
  normalized surface in a disjoint hash space, and with NIL merging
  near-duplicate NIL surfaces first collapse to one representative by
  connected components (G2, :func:`merge_nil_surfaces`).
- **edges/triples**: within each sentence, every unordered pair of
  distinct canonical entities co-occurring emits
  ``(subj, 'cooccurs_with', obj)`` with ``subj < obj`` (canonical-name
  order) — plus provenance (url, sent_id).

Scale: pair generation is in-row — one ``groupBy(url, sent_id)``
gathers each sentence's distinct entities and
graph_analytics.explode_pairs emits the (i < j) pairs. Sentences hold
O(10) mentions so fanout is bounded; the group key is fine-grained
(url × sent) — no hub-key blowup. Triple counting shuffles once on
(subj, pred, obj).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

PRED_COOCCUR = "cooccurs_with"
NIL_ID_OFFSET = 1_000_000_000


def entity_columns(nil_surface: Column) -> list[Column]:
    """The canonical entity of a row carrying (entity_id,
    canonical_name): ``entity_name`` (the alias name, else
    ``nil_surface``), ``entity_key`` (the alias id, else the NIL
    hash-space id of ``nil_surface``) and ``eid`` (xxhash64 of the
    name, the integer the keyed pair emission shuffles). The one
    definition of the NIL key: the resolution dictionary applies it
    per vocabulary row, :func:`canonicalize` per mention row."""
    from ..functions.hashing import portable_hash

    ename = F.coalesce(F.col("canonical_name"), nil_surface)
    return [
        ename.alias("entity_name"),
        F.when(F.col("entity_id").isNotNull(), F.col("entity_id"))
        .otherwise(NIL_ID_OFFSET
                   + F.pmod(portable_hash(nil_surface),
                            F.lit(NIL_ID_OFFSET))).alias("entity_key"),
        F.xxhash64(ename).alias("eid"),
    ]


def nil_components(nil_vocab: DataFrame, min_jaccard: float = 0.5,
                   shingle_k: int = 3,
                   portable: bool = False) -> DataFrame:
    """Cross-surface NIL co-reference (north_star "connected-components
    canonicalization over the mention co-reference graph"): cluster
    the NIL surface VOCABULARY — ``nil_vocab``, one row per distinct
    normalized surface ``m_norm`` — by char-shingle similarity and map
    each surface to its component representative (the component's
    minimum surface — stable across cluster sizes).

    Output: (m_norm, canonical_rep), one row per input surface;
    vocabulary-sized, so callers broadcast it. Surfaces with no
    near-duplicate keep themselves."""
    from .components import connected_components
    from .linking import fuzzy_surface_pairs

    nil_vocab = nil_vocab.select("m_norm")
    pairs = fuzzy_surface_pairs(nil_vocab, col="m_norm",
                                shingle_k=shingle_k,
                                min_jaccard=min_jaccard,
                                portable=portable)
    comp = connected_components(
        pairs.select(F.col("surf_a").alias("src"),
                     F.col("surf_b").alias("dst")))
    return (
        nil_vocab.join(comp.withColumnRenamed("node", "m_norm"),
                       "m_norm", "left")
        .select("m_norm",
                F.coalesce("component", "m_norm").alias("canonical_rep"))
    )


def merge_nil_surfaces(resolution: DataFrame) -> DataFrame:
    """NIL merging on the resolution dictionary
    (linking.build_resolution): its NIL rows (``entity_id`` NULL) are
    clustered by :func:`nil_components`, and every row's
    :func:`entity_columns` are recomputed from its representative, so
    near-duplicate NIL surfaces share one entity. All of it is
    O(vocab); the mention stream only meets the result through the
    usual broadcast join."""
    reps = nil_components(resolution.where(F.col("entity_id").isNull()))
    base = resolution.drop("entity_name", "entity_key", "eid")
    return base.join(F.broadcast(reps), "m_norm", "left").select(
        *base.columns,
        *entity_columns(F.coalesce(F.col("canonical_rep"), F.col("m_norm"))))


def canonicalize(linked: DataFrame) -> DataFrame:
    """linked mention table → + canonical (entity_name, entity_key,
    eid), by :func:`entity_columns` over the normalized surface.

    When the input already carries (entity_key, entity_name) — the
    linking dictionary precomputed them vocabulary-side — this is a
    no-op: the corpus-wide stream pays zero per-row regexp/hash work
    here."""
    from .linking import norm_surface

    if {"entity_key", "entity_name"} <= set(linked.columns):
        return linked
    return linked.select(
        "*", *entity_columns(norm_surface(F.col("surface"))))


def nodes_table(canonical: DataFrame) -> DataFrame:
    """Canonical entity (nodes) table with mention counts."""
    return canonical.groupBy("entity_key", "entity_name").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.min("type").alias("type"),
    )


def emit_triples(canonical: DataFrame,
                 name_dict: DataFrame | None = None) -> DataFrame:
    """Sentence-scoped co-occurrence pairs → triples table
    (schema.TRIPLES). ``subj < obj`` by canonical name for a stable
    orientation.

    ONE shuffle: ``groupBy(url, sent_id).collect_set`` gathers the
    distinct entities per sentence, and the (i < j) pairs are
    generated from the set by graph_analytics.explode_pairs (two
    chained Generates, whole-stage codegen'd — a nested
    transform/flatten is CodegenFallback, interpreted per row, and was
    the KG reduce stage's CPU hog, r6) — no distinct pass and no
    self-join. Fanout is bounded by per-sentence entity count (O(10)),
    so no row blows up; at web scale this halves the exchanges of the
    equivalent distinct+self-join plan and cannot skew (the key is the
    fine-grained sentence, never the entity).

    ``name_dict`` (vocabulary-sized rows of (eid, entity_name), e.g.
    derived from the linking resolution dictionary) enables the
    narrow-shuffle variant: when the input also carries ``eid``
    (xxhash64 of the canonical name, precomputed vocabulary-side by
    the linking dictionary), the collect_set / pair Generate move
    8-byte longs instead of name strings, and names are reattached
    AFTER aggregation by two broadcast-hash joins against the
    dictionary — orientation restored with least/greatest. Same rows
    out; the corpus-wide exchange carries a fraction of the bytes,
    which is what the memory-bandwidth-bound reduce stage scales
    with. Without ``name_dict`` (or when ``eid`` is absent) the
    string plan runs — the DuckDB-oracle-replayable form."""
    from .graph_analytics import explode_pairs

    if name_dict is not None and "eid" in canonical.columns:
        return _emit_triples_keyed(canonical, name_dict)
    sets = canonical.groupBy("url", "sent_id").agg(
        F.sort_array(F.collect_set("entity_name")).alias("ents"))
    return (
        explode_pairs(
            sets.select("url",
                        F.col("sent_id").cast("int").alias("sent_id"),
                        "ents"),
            "ents", "subj", "obj", carry=("url", "sent_id"))
        .select(
            "subj",
            F.lit(PRED_COOCCUR).alias("pred"),
            "obj",
            "url", "sent_id",
        )
    )


def _emit_triples_keyed(canonical: DataFrame,
                        name_dict: DataFrame) -> DataFrame:
    """Long-keyed pair emission (see :func:`emit_triples`): distinct
    eids per sentence through the exchange, unordered (i < j by array
    position) pairs from explode_pairs, names reattached post-explode
    by broadcast and the subj < obj (by name) orientation applied
    last. eid↔name is a bijection up to a 64-bit hash collision within
    the entity vocabulary — negligible at any real vocabulary size and
    absent at test scale (the parity test asserts exact equality with
    the string plan). No ``sort_array``: the pair set is
    order-independent and the orientation is applied by name at the
    end."""
    from .graph_analytics import explode_pairs

    sets = canonical.groupBy("url", "sent_id").agg(
        F.collect_set("eid").alias("ents"))
    exploded = explode_pairs(
        sets.select("url", F.col("sent_id").cast("int").alias("sent_id"),
                    "ents"),
        "ents", "ea", "eb", carry=("url", "sent_id"))
    d = name_dict.select(F.col("eid").alias("_k"),
                         F.col("entity_name").alias("_n"))
    na = exploded.join(F.broadcast(d), F.col("ea") == F.col("_k")) \
        .withColumnRenamed("_n", "name_a").drop("_k")
    nb = na.join(F.broadcast(d), F.col("eb") == F.col("_k")) \
        .withColumnRenamed("_n", "name_b").drop("_k")
    return nb.select(
        F.least("name_a", "name_b").alias("subj"),
        F.lit(PRED_COOCCUR).alias("pred"),
        F.greatest("name_a", "name_b").alias("obj"),
        "url", "sent_id",
    )


def triple_counts(triples: DataFrame) -> DataFrame:
    """Corpus-level aggregated edge weights (one shuffle)."""
    return triples.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).alias("n_sents"),
        F.countDistinct("url").alias("n_docs"),
    )


def predicate_triples(
    mentions: DataFrame,
    name_col: str = "surface",
    max_gap: int = 3,
    connector_vocab: tuple[str, ...] | None = None,
) -> DataFrame:
    """Surface-pattern predicate extraction (ReVerb-style, lexical):
    for each pair of POSITIONALLY ADJACENT mentions in a sentence, the
    tokens strictly between them become the predicate when the gap is
    1..``max_gap`` tokens — emitting ``(subj, connector, obj)`` with
    real lexical predicates instead of the generic ``cooccurs_with``.

    Input must carry (url, sent_id, begin, end, <name_col>, text) —
    the fused extractor's ``carry=("text",)`` provides text without a
    join. ``connector_vocab`` optionally restricts predicates to a
    closed relation lexicon (a POS gate would slot in the same place
    for a natural corpus).

    Plan shape: ONE shuffle — groupBy(sentence) collects the mention
    structs, array_sort orders them by position in-row, and the
    adjacent-pair + token-slice generation is pure codegen'd array
    work (transform/filter/slice); fanout is bounded by per-sentence
    mention count. Same scale discipline as :func:`emit_triples`."""
    ents = mentions.groupBy("url", "sent_id", "text").agg(
        F.array_sort(
            F.collect_list(F.struct("begin", "end",
                                    F.col(name_col).alias("name")))
        ).alias("ms"))
    toks = F.split(F.col("text"), " ")
    n = F.size("ms")
    # adjacent pairs via ONE Generate (posexplode of the first n-1
    # mentions) + element_at for the successor, instead of the
    # filter(transform(...)) expression — higher-order functions are
    # CodegenFallback (interpreted per row) while GenerateExec and
    # element_at are whole-stage-codegen'd (r6; same rewrite as the
    # pair emission in emit_triples/graph_analytics.explode_pairs).
    # Same pair set: a = ms[i], b = ms[i+1], gap-gated.
    exploded = (
        ents.where(n >= 2)
        .select("url", F.col("sent_id").cast("int").alias("sent_id"),
                toks.alias("toks"), "ms",
                F.posexplode(F.slice(F.col("ms"), 1, n - 1))
                .alias("__i", "a"))
        .withColumn("b", F.element_at(F.col("ms"), F.col("__i") + 2))
    )
    gap = F.col("b.begin") - F.col("a.end")
    out = (
        exploded.where((gap >= 1) & (gap <= max_gap))
        .select(
            F.col("a.name").alias("subj"),
            F.array_join(
                F.slice(F.col("toks"), F.col("a.end") + 1,
                        F.col("b.begin") - F.col("a.end")),
                "_").alias("pred"),
            F.col("b.name").alias("obj"),
            "url", "sent_id",
        )
    )
    if connector_vocab is not None:
        out = out.where(F.col("pred").isin(*connector_vocab))
    return out
