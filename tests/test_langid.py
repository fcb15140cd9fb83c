"""Char-trigram language ID (functions/langid.py), all through
``with_lang_pred`` — the one Spark form q_langid and curate_flags run:
discrimination on crafted multilingual fixtures (the synthetic corpus is English
word-salad under rotated labels, so it cannot reward a real scorer),
engine parity of the arithmetic, the confusion-matrix evaluation
path, and the shuffle-free plan contract."""

from __future__ import annotations

import pytest

# natural-language snippets, one per modeled language + the two
# rejection classes (script gate, evidence floor)
FIXTURES = [
    ("en", "The results of the experiment showed that the new method "
           "is performing well and scaling to larger datasets."),
    ("de", "Die Ergebnisse der Untersuchung zeigen, dass das neue "
           "Verfahren eine deutliche Verbesserung der Leistung bringt "
           "und sich gut skalieren lässt."),
    ("fr", "Les résultats de cette étude montrent que la nouvelle "
           "méthode apporte une amélioration et que le système est "
           "plus rapide."),
    ("es", "Los resultados de la investigación muestran que el nuevo "
           "método ofrece una mejora de la calidad de los datos."),
    ("it", "I risultati di questa ricerca mostrano che il nuovo "
           "metodo offre una chiara soluzione per la gestione delle "
           "informazioni."),
    ("zh", "这项研究的结果表明新方法在大规模数据上表现良好并且能够扩展。"),
    ("und", "qzx wvk jqp zzt xkcv bnm qqw pzx vkj"),   # no evidence
]


def test_trigram_langid_discriminates_fixtures(spark):
    from promptner_spark.functions.langid import with_lang_pred

    df = spark.createDataFrame(
        [(lbl, txt) for lbl, txt in FIXTURES], ["label", "text"])
    got = {r["label"]: r["pred"]
           for r in with_lang_pred(df).select("label", "pred").collect()}
    for lbl, _ in FIXTURES:
        assert got[lbl] == lbl, (lbl, got)


def test_langid_scores_match_python_replay(spark):
    """The helper's own score columns (length-delta replace counts,
    weighted sum — the production spelling) must equal a direct Python
    count over the same normalized text — pins the occurrence-count
    recipe both engines replay."""
    import re

    from promptner_spark.functions.langid import (
        LANGS, TRIGRAM_PROFILES, with_lang_pred,
    )

    texts = [t for _, t in FIXTURES]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    rows = with_lang_pred(df).collect()
    assert len(rows) == len(texts)
    profiles = dict(TRIGRAM_PROFILES)
    for r in rows:
        norm = " " + re.sub(r"\s+", " ", r["text"].lower()) + " "
        for lang in LANGS:
            expect = sum(w * norm.count(t) for t, w in profiles[lang])
            # str.count is non-overlapping, same as replace-delta
            assert r[f"s_{lang}"] == expect, (lang, r["text"])


def test_langid_confusion_matrix_on_synthetic_corpus(spark, sf_dir):
    """The evaluation path over the documents table: cells sum to the
    corpus, and the scorer reads the English word-salad honestly —
    'en' where enough function-word trigrams occur, 'und' where the
    salad carries too little evidence — regardless of the rotated
    labels. It must NOT confidently assign a non-English Latin
    language to any large share of English-token salad."""
    from promptner_spark.plans.queries import q_langid

    cells = q_langid(spark, sf_dir).collect()
    total = sum(r["n_docs"] for r in cells)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert total == n_docs
    en_oder_und = sum(r["n_docs"] for r in cells
                      if r["pred"] in ("en", "und"))
    assert en_oder_und >= 0.85 * total
    labels = {r["label"] for r in cells}
    assert {"en", "de", "fr", "es", "zh"} <= labels


def test_langid_query_has_no_key_shuffle_before_cells(spark, sf_dir):
    """Scale contract: scoring is map-only; the only key exchange is
    the final |langs|²-cardinality confusion-cell aggregate (whose
    partial agg runs map-side), plus _docs_spread's round-robin
    repair. No per-trigram explode, no join."""
    from promptner_spark.plans.queries import q_langid

    plan = q_langid(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    key_exchanges = [ln for ln in plan.splitlines()
                     if "Exchange hashpartitioning" in ln]
    assert len(key_exchanges) == 1, plan   # the confusion-cell agg
    assert "label" in key_exchanges[0] and "pred" in key_exchanges[0]
    assert "Generate" not in plan          # no explode
    assert "Join" not in plan


@pytest.mark.parametrize("weird", ["", " ", "\n\t", "a", "…—¿"])
def test_langid_degenerate_inputs(spark, weird):
    from promptner_spark.functions.langid import with_lang_pred

    df = spark.createDataFrame([(weird,)], ["text"])
    assert with_lang_pred(df).collect()[0]["pred"] == "und"
