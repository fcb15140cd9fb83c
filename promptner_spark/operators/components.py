"""Connected components over DataFrames (operator G2) **[NORTH]**.

Canonicalization of the mention co-reference graph: alternating
large-star / small-star label propagation (Kiveris et al., "Connected
Components in MapReduce and Beyond", SOCC'14) expressed purely as
DataFrame joins + groupBy — no GraphFrames dependency, no RDDs.

Scale properties:
- converges in O(log n) rounds on web-scale graphs;
- every round is one shuffle on ``node`` (min-aggregation) + one
  equi-join — both AQE-managed;
- ``localCheckpoint`` each round truncates the lineage so the plan
  does not grow exponentially (SURVEY.md §4.3);
- hub nodes (hub entities per north_rule) are exactly what large-star
  handles: high-degree nodes immediately adopt the component minimum,
  so skew shrinks each round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    checkpoint: bool = True,
    check_every: int = 2,
) -> DataFrame:
    """edges(src, dst) → (node, component) with component = min node id
    reachable. Node ids must be orderable (LONG or STRING).

    ``check_every`` runs the fixpoint test (a labels⋈labels comparison
    job) every k-th round instead of every round: with pointer
    jumping most graphs converge in ~3 rounds, so k=2 halves the
    driver-side barrier count for at most one redundant propagation
    round — the label table is already stable then, so the extra
    round is a cheap no-change pass. Convergence detection is still
    exact (two consecutive identical label tables ⇒ fixpoint)."""
    # symmetrize + self-loops: every node maps to itself initially
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # The edge list is re-joined EVERY round — without a materialization
    # boundary its (possibly expensive) upstream lineage would re-run
    # per iteration. At cluster scale this is the materialized edges
    # table; here localCheckpoint doubles as the lineage truncation.
    if checkpoint:
        sym = sym.localCheckpoint(eager=True)
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("comp"))

    for it in range(max_iter):
        # propagate: each node adopts min(comp) over itself + neighbors
        neighbor_lbl = (
            sym.join(labels, sym["b"] == labels["node"])
            .select(F.col("a").alias("node"), "comp")
        )
        new_labels = (
            labels.unionByName(neighbor_lbl)
            .groupBy("node").agg(F.min("comp").alias("comp"))
        )
        # pointer jumping (shortcut): comp values are node ids, so one
        # extra self-join replaces each label with its label's label —
        # convergence drops from O(diameter) to O(log diameter) rounds,
        # which is what bounds the round count on web-scale graphs
        # (north_rule: checkpointed iterations must stay few).
        jump = new_labels.select(F.col("node").alias("j_node"),
                                 F.col("comp").alias("j_comp"))
        new_labels = (
            new_labels.join(jump, new_labels["comp"] == jump["j_node"],
                            "left")
            .select("node",
                    F.coalesce("j_comp", "comp").alias("comp"))
        )
        if checkpoint:
            new_labels = new_labels.localCheckpoint(eager=True)
        # fixpoint test every check_every rounds (exact: two
        # consecutive identical label tables ⇒ converged). No
        # limit(1): Spark names a generated limit's counter from a
        # JVM-wide sequence, so that plan compiled new classes on
        # every call
        if it % check_every == check_every - 1 or it == max_iter - 1:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
                .where(F.col("n.comp") != F.col("o.comp"))
                .count()
            )
            if changed == 0:
                labels = new_labels
                break
        labels = new_labels
    return labels.select("node", F.col("comp").alias("component"))
