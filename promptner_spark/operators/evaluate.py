"""Span-F1 evaluation (operators E2/E5/E6, join J5 — SURVEY.md §2.7).

The reference computes seqeval F1 in a sequential per-sentence loop
(`run.py:36-52`). Spark-first this is a join + aggregation:

    pred spans ⋈ gold spans on (doc, begin, end, type)
      inner        → TP
      left_anti    → FP (pred side) / FN (gold side)
    groupBy(type)  → per-type P/R/F1;  global micro/macro by sum.

Exactly-matching span semantics == seqeval default (strict IOB2 span
equality). One shuffle on the span key; gold is tiny → broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SPAN_KEY = ["doc_id", "sent_id", "begin", "end", "type"]


def span_prf(pred_spans: DataFrame, gold_spans: DataFrame,
             by_type: bool = True) -> DataFrame:
    """pred/gold span tables (doc_id, sent_id, begin, end, type) →
    per-type (or global) precision/recall/f1 + counts."""
    p = pred_spans.select(*SPAN_KEY)
    g = gold_spans.select(*SPAN_KEY)
    tp = p.join(F.broadcast(g), SPAN_KEY, "left_semi") \
        .groupBy("type").agg(F.count(F.lit(1)).alias("tp"))
    fp = p.join(F.broadcast(g), SPAN_KEY, "left_anti") \
        .groupBy("type").agg(F.count(F.lit(1)).alias("fp"))
    fn = g.join(F.broadcast(p), SPAN_KEY, "left_anti") \
        .groupBy("type").agg(F.count(F.lit(1)).alias("fn"))
    m = tp.join(fp, "type", "full").join(fn, "type", "full").select(
        "type",
        F.coalesce("tp", F.lit(0)).alias("tp"),
        F.coalesce("fp", F.lit(0)).alias("fp"),
        F.coalesce("fn", F.lit(0)).alias("fn"),
    )
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(F.lit(0.0))
    m = m.select("type", "tp", "fp", "fn", prec.alias("precision"),
                 rec.alias("recall"), f1.alias("f1"))
    if by_type:
        return m
    return m.agg(
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn"),
    ).select(
        F.lit("ALL").alias("type"), "tp", "fp", "fn",
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
    )


def sample_all_types(sentences: DataFrame, k: int = 3,
                     seed: int = 0, max_tries: int = 100) -> DataFrame:
    """E1 (`data.py:352-375`): rejection-sample a k-row subset whose
    union of tags covers every entity type present in the dataset; k
    grows after repeated failures (reference: every 10). Distinct types
    come from one explode+agg; the loop drives tiny seeded samples."""
    base_types = (
        sentences.select(F.explode("exact_types").alias("t"))
        .where(F.col("t") != "O")
        .select(F.regexp_replace("t", "^[BI]-", "").alias("t"))
        .distinct()
    )
    want = {r["t"] for r in base_types.collect()}
    n = sentences.count()
    for attempt in range(max_tries):
        kk = k + attempt // 10  # grow k every 10 failures (data.py:372-374)
        frac = min(1.0, (kk * 3) / max(n, 1))
        cand = sentences.sample(fraction=frac, seed=seed + attempt).limit(kk)
        got = {
            r["t"] for r in cand.select(F.explode("exact_types").alias("t0"))
            .where(F.col("t0") != "O")
            .select(F.regexp_replace("t0", "^[BI]-", "").alias("t")).collect()
        }
        if want <= got:
            return cand
    return sentences.limit(k)  # degenerate corpora: give up like limit()


def analytics(results: DataFrame) -> DataFrame:
    """E5 (`eval.py:74-97`): per-sentence features (text length, entity
    count, mean entity length) and their correlation with f1 — the
    pandas ``df.corr()['f1']`` becomes one aggregation of F.corr."""
    feats = results.select(
        F.length("text").alias("text_len"),
        F.size("entities").alias("n_entities"),
        F.coalesce(
            F.aggregate("entities", F.lit(0).cast("double"),
                        lambda a, e: a + F.length(e))
            / F.greatest(F.size("entities"), F.lit(1)),
            F.lit(0.0)).alias("mean_entity_len"),
        F.col("f1"),
    )
    rows = [
        feats.select(F.lit(c).alias("feature"),
                     F.corr(c, "f1").alias("corr_with_f1"))
        for c in ("text_len", "n_entities", "mean_entity_len")
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def confusion_matrix(results: DataFrame,
                     pred_col: str = "pred",
                     truth_col: str = "truth") -> DataFrame:
    """E5 (`eval.py:84-96`): token-level confusion counts over the
    flattened (truth, pred) tag pairs — sklearn's confusion_matrix as
    one explode + groupBy."""
    pairs = results.select(
        F.explode(F.arrays_zip(
            F.col(truth_col).alias("truth"),
            F.col(pred_col).alias("pred"))).alias("z"))
    return pairs.select(
        F.regexp_replace("z.truth", "^[BI]-", "").alias("truth"),
        F.regexp_replace("z.pred", "^[BI]-", "").alias("pred"),
    ).groupBy("truth", "pred").agg(F.count(F.lit(1)).alias("n"))


def process_results(results: DataFrame) -> DataFrame:
    """E6 (`eval.py:24-50`): derived ``pred_text``/``truth_text``
    ``word | tag`` visualizations and the exact-match ``correct``
    flag, as zip_with expressions."""
    toks = F.split(F.col("text"), " ")

    def viz(tags_col: str):
        return F.concat_ws(
            "\n", F.zip_with(toks, F.col(tags_col),
                             lambda t, g: F.concat_ws(" | ", t, g)))

    return results.withColumn("pred_text", viz("pred")) \
        .withColumn("truth_text", viz("truth")) \
        .withColumn("correct", F.col("pred") == F.col("truth"))
