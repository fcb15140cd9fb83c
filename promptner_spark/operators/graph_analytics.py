"""Analytics over the emitted entity graph (post-G3 consumers)
**[NORTH]**: PageRank centrality and PMI edge weighting — the two
queries a KG consumer runs first ("which entities matter" / "which
edges are informative vs frequency artifacts").

Both are expressed as pure DataFrame plans:

- :func:`pagerank` — fixed-iteration power method over the symmetrized
  edge set. Each iteration is ONE join (contributions along edges) +
  ONE groupBy (sum per target) — both AQE-managed, hub skew handled
  the same way as every other hot-key agg here. Lineage is truncated
  every other iteration (localCheckpoint locally; at cluster scale the
  materialized iteration table). The trajectory is int64 fixed-point
  (scale 10^12) end to end — integer sums are exactly associative, so
  the result is bit-identical across engines and cluster sizes by
  construction, and the final 6-dp rounding is ALSO integer-space
  half-up so no engine's round() semantics can leak in (r4 ADVICE).
- :func:`pmi_edges` — pointwise mutual information per co-occurring
  entity pair: log(p(a,b) / (p(a)p(b))) over document co-occurrence.
  Entity marginals are vocabulary-sized, so they broadcast back onto
  the pair table: the big pair relation is never shuffled twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(
    edges: DataFrame,
    n_iter: int = 4,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    force_local: bool = False,
) -> DataFrame:
    """(src, dst) undirected edge list → (node, pagerank).

    Fixed ``n_iter`` power iterations (deterministic, oracle-checkable
    — a convergence loop would couple the result to float tolerance).
    The edge list is symmetrized, so every node has degree ≥ 1 and the
    dangling-mass term vanishes; ``n`` (node count) is one count job,
    the same driver-scalar pattern as the components fixpoint test.

    **Fixed-point arithmetic (r4):** ranks are int64 numerators at
    scale 10^12 and every per-iteration op is integer (``pr div deg``
    contributions, exact integer sum, ``(p·sum) div q`` damping with
    damping reduced to the rational p/q). Integer addition is exactly
    associative/commutative, so the trajectory is bit-identical under
    ANY summation order — any partitioning, any cluster size, any
    engine (Spark / driver-local / DuckDB) — by construction. The r3
    design rounded float sums to 9 dp per step, which a property test
    over random graphs showed can still flip the 6th dp when a 1-ulp
    order difference lands on a rounding boundary. Max magnitude:
    p·sum ≤ 850·10^12 ≪ 2^63. Floor-division mass loss per node per
    step is < (deg+1)/10^12 — invisible at 6 output dp.

    ``force_local`` runs the same recipe on the driver; only a caller
    that bounds the edge count before any job should set it."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    # force_local: the caller PROVES the graph is small from outside
    # knowledge (e.g. the registry's vocabulary bound: edges over a
    # v-entity vocabulary number ≤ v(v-1), known driver-side before
    # any job). Then the edge set is consumed exactly once — straight
    # into the driver, with no checkpoint job: one Spark job total, and
    # 4 power iterations on the driver beat ~10 distributed stage
    # round trips of scheduler latency. r6: collect the DIRECTED distinct
    # set and symmetrize driver-side — the distributed
    # union(e, reverse(e)).distinct() evaluates the (often expensive,
    # e.g. in-row pair-exploding) `e` subtree once per union child
    # (measured: the sym stage was 2x the work of `e` itself), while
    # a driver loop over an already-small edge list is free. The
    # resulting symmetric set is identical: {(s,t)} ∪ {(t,s)}.
    if force_local:
        head = e.distinct().collect()
        seen = {(r["s"], r["t"]) for r in head}
        seen |= {(t, s) for s, t in list(seen)}
        return _pagerank_local(
            edges.sparkSession, sorted(seen),
            n_iter, damping, node_type=e.schema["s"].dataType)
    sym = e.unionByName(
        e.select(F.col("t").alias("s"), F.col("s").alias("t"))
    ).distinct()
    # Materialize the symmetrized edge set ONCE: the degree agg and the
    # adjacency build both hang off sym, and each would otherwise
    # recompute the union+distinct shuffle.
    sym = sym.localCheckpoint(eager=True)
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    # Degrees of BOTH endpoints ride on the adjacency table, attached
    # once before the loop: each iteration is then ONE join (ranks
    # onto sources) + ONE groupBy (sum per target) — the r2 version
    # paid a second degree join per iteration. Checkpointed eagerly:
    # it is the loop-invariant input of every iteration.
    adj = (
        sym.join(deg, "s")
        .join(deg.select(F.col("s").alias("t"),
                         F.col("deg").alias("deg_t")), "t")
        .select("s", "t", F.col("deg").alias("deg_s"), "deg_t")
    )
    adj = adj.localCheckpoint(eager=True)   # the loop invariant
    nodes = adj.select(F.col("t").alias("node"),
                       F.col("deg_t").alias("deg")).distinct()
    n = nodes.count()
    if n == 0:   # empty graph: empty result, not a division by zero
        return nodes.select("node", F.lit(0.0).alias("pagerank"))
    # Per-iteration lineage truncation only pays off when an iteration
    # materializes real data: below PR_CHECKPOINT_MIN_NODES the loop is
    # plan-latency-bound and lazy iterations in one final job beat
    # eager materializations (values identical either way — the n
    # count above already sized the graph, so the decision is free).
    truncate = n >= PR_CHECKPOINT_MIN_NODES
    p_num, p_den = damping_ratio(damping)
    # exact integer scalars, computed driver-side with arbitrary
    # precision — every engine replaying the recipe gets the same two
    # literals from the same (n, damping)
    base = ((p_den - p_num) * PR_SCALE) // (p_den * n)
    pr = nodes.withColumn("pr", F.lit(PR_SCALE // n).cast("long"))
    for i in range(n_iter):
        contrib = adj.join(
            pr.select("node", "pr"), adj["s"] == F.col("node")
        ).select("t", "deg_t", F.expr("pr div deg_s").alias("c"))
        # deg of the target rides through the groupBy key, so the new
        # rank table already carries next iteration's divisor.
        pr = contrib.groupBy(
            F.col("t").alias("node"), F.col("deg_t").alias("deg")
        ).agg(F.expr(f"cast({base} + ({p_num} * sum(c)) div {p_den} "
                     "as long)").alias("pr"))
        # Truncate lineage every OTHER iteration: one eager job per two
        # iterations bounds plan growth without paying a
        # materialization per step (r2 checkpointed every iteration).
        if truncate and (i % 2 == 1 or i == n_iter - 1):
            pr = pr.localCheckpoint(eager=True)
    # Final 6-dp rounding in INTEGER space (half-up on the numerator):
    # Python round() is half-to-even on the binary double, Spark
    # F.round is HALF_UP on the decimal repr, DuckDB differs again —
    # a numerator ≡ 500000 (mod 10^6) could round to different 6th
    # decimals across the three paths (r4 ADVICE). (pr+500000) div
    # 10^6 is exact and engine-independent; the final /1e6 is a single
    # IEEE division on identical operands — deterministic everywhere.
    return pr.select(
        "node",
        (F.expr("(pr + 500000) div 1000000") / F.lit(1e6))
        .alias("pagerank"))


# int64 fixed-point scale for PageRank numerators. 10^12 keeps every
# intermediate ≤ ~10^15 (exact in double for the final division, far
# below 2^63 for the integer ops) while floor-loss stays ≥6 decimal
# orders below the 6-dp output.
PR_SCALE = 10**12

# Node count from which pagerank's distributed loop truncates lineage
# every other iteration.
PR_CHECKPOINT_MIN_NODES = 10_000


def damping_ratio(damping: float) -> tuple[int, int]:
    """damping as the reduced rational p/q the integer recipe uses
    (0.85 → 17/20); shared with the DuckDB oracle builder."""
    from fractions import Fraction

    fr = Fraction(damping).limit_denominator(10**6)
    return fr.numerator, fr.denominator


def _pagerank_local(spark, sym_edges: list[tuple], n_iter: int,
                    damping: float, node_type=None) -> DataFrame:
    """Driver-side power iteration over an already-symmetrized edge
    list — the exact fixed-point integer recipe of the distributed
    loop (pr//deg contributions, integer sum, base + (p·sum)//q per
    step, integer half-up to 6 dp at the end — same rounding recipe
    as the distributed select, NOT Python round(), which is
    half-to-even and could differ on a numerator ≡ 500000 mod 10^6)."""
    from collections import defaultdict

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("node", node_type or T.StringType(), True),
        T.StructField("pagerank", T.DoubleType(), True),
    ])
    out_edges: dict = defaultdict(list)
    deg: dict = defaultdict(int)
    for s, t in sym_edges:
        out_edges[s].append(t)
        deg[s] += 1
    nodes = sorted(deg)
    n = len(nodes)
    if n == 0:
        return spark.createDataFrame([], schema)
    p_num, p_den = damping_ratio(damping)
    base = ((p_den - p_num) * PR_SCALE) // (p_den * n)
    pr = {v: PR_SCALE // n for v in nodes}
    for _ in range(n_iter):
        acc: dict = defaultdict(int)
        for s in nodes:
            c = pr[s] // deg[s]
            for t in out_edges[s]:
                acc[t] += c
        pr = {v: base + (p_num * acc[v]) // p_den for v in nodes}
    return spark.createDataFrame(
        [(v, ((pr[v] + 500_000) // 1_000_000) / 1e6) for v in nodes],
        schema)


def pmi_edges(doc_entities: DataFrame, min_docs: int = 2,
              max_entities_per_doc: int | None = None) -> DataFrame:
    """(url, entity_name) doc-entity incidence → PMI-weighted
    co-occurrence edges (subj < obj, n_docs, pmi).

    PMI = ln( (c_ab/T) / ((c_a/T)(c_b/T)) ) with doc-level counts;
    ``min_docs`` drops pairs too rare to score. The pair self-join is
    keyed on url (fine-grained — bounded by per-doc entity count, no
    hub key) — ``max_entities_per_doc`` enforces that bound: a hub
    document listing 10⁴ entities would otherwise fan out 10⁸ pair
    rows from one key. The cap keeps the per-doc top-N by mention
    count when the input carries ``n_mentions`` (ties → entity_name
    ascending), else the first N entity names — deterministic either
    way, and a per-url window, so the filter itself cannot skew.
    When ``n_mentions`` is present it is summed per (url, entity)
    BEFORE ranking, so duplicate incidence rows with differing counts
    can't each consume a cap slot (r3 advisor note).

    The flat form is the one that can weight the cap by mention
    count; a caller holding per-url entity sets (and the doc count
    and max set size) uses :func:`pmi_edges_from_docsets`, which
    takes those as hints. Both marginal joins broadcast
    (vocabulary-sized)."""
    has_counts = "n_mentions" in doc_entities.columns
    if has_counts:
        # one row per (url, entity) with the summed mention count —
        # this is also the dedup pass, no extra distinct needed
        ents = doc_entities.groupBy("url", "entity_name").agg(
            F.sum("n_mentions").alias("n_mentions"))
    else:
        ents = doc_entities.select("url", "entity_name").distinct()
    if max_entities_per_doc is not None:
        from pyspark.sql import Window
        order = ([F.desc("n_mentions")] if has_counts else []) + [
            F.asc("entity_name")]
        w = Window.partitionBy("url").orderBy(*order)
        ents = (ents.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") <= max_entities_per_doc)
                .drop("__rn"))
    # rows are distinct on (url, entity_name) by construction here —
    # groupBy output / distinct input, filtered by a per-key window —
    # so no second distinct pass (r3 verdict: it cost a full shuffle)
    ents = ents.select("url", "entity_name")
    # the cap keeps ≥1 entity per url, so this count is the pre-cap one
    total = max(ents.select("url").distinct().count(), 1)
    marg = ents.groupBy("entity_name").agg(
        F.count(F.lit(1)).alias("c_single"))
    a, b = ents.alias("a"), ents.alias("b")
    pairs = (
        a.join(b, "url")
        .where(F.col("a.entity_name") < F.col("b.entity_name"))
        .groupBy(F.col("a.entity_name").alias("subj"),
                 F.col("b.entity_name").alias("obj"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )
    return _pmi_score(pairs, marg, total)


def _pmi_score(pairs: DataFrame, marg: DataFrame, total: int) -> DataFrame:
    """(subj, obj, n_docs) × broadcast marginals → scored PMI edges."""
    return (
        pairs
        .join(F.broadcast(marg.withColumnRenamed("entity_name", "subj")
                          .withColumnRenamed("c_single", "c_a")), "subj")
        .join(F.broadcast(marg.withColumnRenamed("entity_name", "obj")
                          .withColumnRenamed("c_single", "c_b")), "obj")
        .select(
            "subj", "obj", "n_docs",
            F.round(
                F.log((F.col("n_docs").cast("double") * total)
                      / (F.col("c_a").cast("double") * F.col("c_b"))),
                6).alias("pmi"),
        )
    )


def explode_pairs(df: DataFrame, ents_col: str = "ents",
                  subj: str = "subj", obj: str = "obj",
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """All (i < j) pairs of a distinct array column (by array
    position), one output row per pair, emitted by two chained
    ``explode``s (posexplode + explode over a slice = GenerateExec,
    whole-stage codegen) instead of a nested transform/flatten
    expression, which is CodegenFallback and evaluated interpreted per
    row (r6: the interpreted form was the dominant CPU of the
    pair-emitting graph queries and of the triple emission). A sorted
    array gives pairs with ``subj < obj``. ``carry`` threads extra
    columns onto every pair row."""
    ents = F.col(ents_col)
    s1 = df.where(F.size(ents) >= 2).select(
        *[F.col(c) for c in carry], ents,
        F.posexplode(ents).alias("__i", subj))
    return s1.select(
        *[F.col(c) for c in carry], F.col(subj),
        F.explode(F.slice(ents, F.col("__i") + 2, F.size(ents))).alias(obj))


def pmi_edges_from_docsets(doc_sets: DataFrame, min_docs: int = 2,
                           max_entities_per_doc: int | None = None,
                           total_docs: int | None = None,
                           max_per_doc_hint: int | None = None,
                           ents_col: str = "ents") -> DataFrame:
    """PMI edges from the GROUPED incidence form: one row per url with
    its sorted-distinct entity set. Same output as :func:`pmi_edges`
    on the flat form, with a strictly smaller plan:

    - the per-doc cap is an in-row ``slice`` of the name-sorted set —
      identical to the row_number window ordered by entity_name, with
      zero shuffle;
    - pairs are emitted in-row (``explode_pairs``) — the url-keyed
      self-join disappears; the only wide exchanges left are the
      (subj, obj) count and the entity marginal count, both
      vocabulary-bounded aggregations with map-side partials.

    This is the 100-TB-preferred shape: the grouped table is what the
    canonicalization stage naturally produces, it is ~|docs| rows
    regardless of entity fanout, and nothing here keys on a hub
    entity. (Mention-count-weighted capping needs the flat form —
    use pmi_edges.)

    ``total_docs`` (the url count) and ``max_per_doc_hint`` (the
    largest set size) are answers a caller may already hold, as q_pmi
    does: given them, the operator runs no count job, and skips the
    cap slice when no set exceeds ``max_entities_per_doc``."""
    ents = doc_sets.select("url", F.col(ents_col).alias("ents"))
    cap_needed = max_entities_per_doc is not None and not (
        max_per_doc_hint is not None
        and max_per_doc_hint <= max_entities_per_doc)
    if cap_needed:
        ents = ents.select(
            "url", F.slice("ents", 1, max_entities_per_doc).alias("ents"))
    total = total_docs if total_docs is not None else ents.count()
    total = max(total, 1)
    flat = ents.select(F.explode("ents").alias("entity_name"))
    marg = flat.groupBy("entity_name").agg(
        F.count(F.lit(1)).alias("c_single"))
    pairs = (
        explode_pairs(ents, "ents", "subj", "obj")
        .groupBy("subj", "obj")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )
    return _pmi_score(pairs, marg, total)


# --------------------------------------------------------------- HITS

HITS_SCALE = 10**6


def hits(edges: DataFrame, n_iter: int = 4, src: str = "src",
         dst: str = "dst") -> DataFrame:
    """HITS hubs/authorities over a DIRECTED edge list →
    (node, hub, authority), fixed-point integer arithmetic.

    Fixed ``n_iter`` mutual-reinforcement iterations (deterministic,
    oracle-checkable — same rationale as :func:`pagerank`):
    authority(v) = Σ hub(u) over u→v, hub(u) = Σ authority(v) over
    u→v, each half-step max-normalized to ``HITS_SCALE``.

    **Determinism by construction:** scores are int64 at HITS_SCALE;
    each half-step is an exact integer sum (associative/commutative
    under ANY partitioning), a max (order-free), and a floor division
    by that max pulled to the driver — so the trajectory is
    bit-identical across engines and cluster sizes, like the
    fixed-point PageRank. The conventional L2 normalization is
    replaced by max-normalization precisely because sqrt has no exact
    integer form; rankings are unaffected (normalization is a
    positive scalar either way).

    **Magnitude bound:** raw sums ≤ max_degree · HITS_SCALE and the
    rescale multiplies by HITS_SCALE again, so int64 holds while
    max_degree < 2^63 / HITS_SCALE² ≈ 9.2e6. Beyond that (extreme web
    hubs), shard the hub key first (operators/skew.py) or drop
    HITS_SCALE a decade.

    The per-half-step driver max is 2 small actions per iteration
    over node-sized aggregates — the same driver-scalar pattern as
    pagerank's node count, paid n_iter times; each half-step is
    localCheckpointed so the next join reads materialized blocks, not
    recomputed lineage."""
    if n_iter < 1:
        raise ValueError(f"hits() needs n_iter >= 1, got {n_iter}")
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t")) \
        .distinct().localCheckpoint(eager=True)
    nodes = e.select(F.col("s").alias("node")).unionByName(
        e.select(F.col("t").alias("node"))).distinct() \
        .localCheckpoint(eager=True)

    def _normalized(raw: DataFrame) -> DataFrame:
        # raw: (node, v) integer sums; rescale so max == HITS_SCALE
        raw = raw.localCheckpoint(eager=True)
        m = raw.agg(F.max("v")).collect()[0][0]
        if not m:   # no edges at all
            return raw
        return raw.select(
            "node", F.expr(f"(v * {HITS_SCALE}) div {m}").alias("v"))

    h = nodes.select("node", F.lit(HITS_SCALE).cast("long").alias("v"))
    a = None
    for _ in range(n_iter):
        a = _normalized(
            e.join(h.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("t").alias("node"))
            .agg(F.sum("v").cast("long").alias("v")))
        h = _normalized(
            e.join(a.withColumnRenamed("node", "t"), "t")
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum("v").cast("long").alias("v")))
    return (
        nodes
        .join(h.withColumnRenamed("v", "hv"), "node", "left")
        .join(a.withColumnRenamed("v", "av"), "node", "left")
        .select(
            "node",
            (F.coalesce(F.col("hv"), F.lit(0)) / HITS_SCALE).alias("hub"),
            (F.coalesce(F.col("av"), F.lit(0)) / HITS_SCALE)
            .alias("authority"))
    )


def cocitation_counts(edges: DataFrame, min_count: int = 2,
                      src: str = "src", dst: str = "dst",
                      max_links_per_src: int | None = None) -> DataFrame:
    """Co-citation: (a, b, n_cocited) — how many sources link to BOTH
    a and b (a < b). The in-row pair-emission shape (explode_pairs, the
    PMI/triples trick): group links per source into a sorted distinct
    array, emit pairs inside the row, ONE count shuffle — no edge
    self-join, which at web scale would square the hub fanout.
    ``max_links_per_src`` bounds the per-row pair fanout the same way
    PMI's per-doc cap does (directory-page sources link to
    thousands; their pairs are quadratic in that cap)."""
    sets = edges.groupBy(F.col(src).alias("s")).agg(
        F.array_sort(F.collect_set(F.col(dst))).alias("dsts"))
    if max_links_per_src is not None:
        sets = sets.select(
            "s", F.slice("dsts", 1, max_links_per_src).alias("dsts"))
    return (
        explode_pairs(sets, "dsts", "a", "b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cocited"))
        .where(F.col("n_cocited") >= min_count)
    )
