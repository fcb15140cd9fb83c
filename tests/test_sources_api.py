"""Tests for the tagged-dataset decoders (S2-S5), distributed IOB2 I/O
(S1/S7), the user-facing API (custom.get_ner_system parity), CoT
exemplar autogeneration (C4-C6), and the E1/E5/E6 evaluation helpers.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from .conftest import REFERENCE_DIR, needs_reference

GENIA_SAMPLE = os.path.join(REFERENCE_DIR, "data", "Genia",
                            "sampletest1.iob2")


# --------------------------------------------------------------- S2-S5
def test_decode_tagged_conll(spark):
    from promptner_spark.sources.tagged import decode_tagged

    df = spark.createDataFrame(
        [(["EU", "rejects", "German", "call"], [3, 0, 7, 0]),
         (["Peter", "Blackburn"], [1, 2])],
        "tokens array<string>, ner_tags array<int>")
    out = decode_tagged(df, "conll2003").orderBy("text").collect()
    eu = next(r for r in out if r["text"].startswith("EU"))
    assert eu["exact_types"] == ["B-ORG", "O", "B-MISC", "O"]
    assert eu["entities"] == ["EU", "German"]
    assert eu["types"] == {"EU": "org", "German": "misc"}
    pb = next(r for r in out if r["text"].startswith("Peter"))
    # trailing open entity is dropped (reference data.py quirk: the
    # loop never flushes after the last token)
    assert pb["entities"] == []
    assert pb["exact_types"] == ["B-PER", "I-PER"]


def test_decode_tagged_keeps_raw_b_label_for_tweetner(spark):
    from promptner_spark.sources.tagged import decode_tagged

    df = spark.createDataFrame(
        [(["Justin", "Bieber", "sings", "."], [5, 12, 14, 14])],
        "tokens array<string>, ner_tags array<int>")
    row = decode_tagged(df, "tweetner7").collect()[0]
    assert row["exact_types"] == ["B-person", "I-person", "O", "O"]
    # reference keeps the full B-label as the type value (data.py:152)
    assert row["types"] == {"Justin Bieber": "B-person"}
    assert row["true_tokens"] == ["Justin", "Bieber", "sings", "."]


# --------------------------------------------------------------- S1/S7
@needs_reference
def test_iob2_read_reference_sample_and_roundtrip(spark, tmp_path):
    from promptner_spark.sources.iob2_io import read_iob2, write_iob2

    df = read_iob2(spark, GENIA_SAMPLE)
    n = df.count()
    assert n > 0
    # invariant from the reference loader: tag list aligns with tokens
    bad = df.where(
        F.size("exact_types") != F.size(F.split("text", " "))).count()
    assert bad == 0

    out = str(tmp_path / "iob2_out")
    write_iob2(df, out)
    back = read_iob2(spark, out)
    a = sorted((r["text"], r["exact_types"]) for r in df.collect())
    b = sorted((r["text"], r["exact_types"]) for r in back.collect())
    assert a == b


# ------------------------------------------------------------ custom API
def test_get_ner_system_matches_pipeline_chain():
    from promptner_spark.custom import get_ner_system, get_tagging_system

    sentence = "the stream joins a vector to the filter operator"
    ner = get_ner_system(identify_types=True)
    entities, typestrings, raw = ner(sentence)
    assert "stream" in entities and "vector" in entities
    assert len(entities) == len(typestrings)
    assert isinstance(raw, str) and raw

    tags = get_tagging_system()(sentence)
    assert len(tags) == len(sentence.split(" "))
    assert any(t != "O" for t in tags)


def test_get_ner_system_split_phrases():
    from promptner_spark.custom import get_ner_system

    ents, _, _ = get_ner_system(split_phrases=True)(
        "a hash join reads rows")
    # multi-word gazetteer phrase exploded into single words
    assert "hash" in ents and "join" in ents


def test_get_ner_system_no_types():
    """identify_types=False returns (entities, raw) — the documented
    reference-parity flag (`custom.py:85-94`, `algorithms.py:181-184`);
    regression for the two-value unpack crash (ADVICE round 1)."""
    from promptner_spark.custom import get_ner_system

    sentence = "the stream joins a vector to the filter operator"
    ents, raw = get_ner_system(identify_types=False)(sentence)
    assert "stream" in ents and "vector" in ents
    assert isinstance(raw, str) and raw
    # and with split_phrases stacked on top it still returns 2 values
    ents2, _ = get_ner_system(identify_types=False, split_phrases=True)(
        "a hash join reads rows")
    assert "hash" in ents2 and "join" in ents2


# --------------------------------------------------------------- C4-C6
def test_autogenerate_exemplars_deterministic():
    from promptner_spark.operators.annotate import autogenerate_exemplars

    rows = [("the stream joins a vector",
             ["the", "stream", "joins", "a", "vector"],
             ["O", "B-SRC", "O", "O", "B-DATA"])]
    a = autogenerate_exemplars(rows, seed=7)
    b = autogenerate_exemplars(rows, seed=7)
    assert a == b
    assert len(a) == 1
    assert "stream | True |" in a[0] and "(SRC)" in a[0]
    # negatives rendered with False
    assert "| False |" in a[0]


# --------------------------------------------------------------- E1/E5/E6
def test_sample_all_types_covers_types(spark):
    from promptner_spark.operators.evaluate import sample_all_types

    rows = [
        ("a b", ["B-X", "O"]), ("c d", ["B-Y", "O"]),
        ("e f", ["B-Z", "O"]), ("g h", ["O", "O"]),
        ("i j", ["B-X", "B-Y"]), ("k l", ["B-Z", "B-X"]),
    ]
    df = spark.createDataFrame(rows, "text string, exact_types array<string>")
    got = sample_all_types(df, k=3, seed=1)
    types = {r["t"] for r in got.select(
        F.explode("exact_types").alias("t0")).where(F.col("t0") != "O")
        .select(F.regexp_replace("t0", "^[BI]-", "").alias("t")).collect()}
    assert {"X", "Y", "Z"} <= types


def test_analytics_and_process_results(spark):
    from promptner_spark.operators.evaluate import (
        analytics, confusion_matrix, process_results)

    rows = [
        ("a big cat", ["big cat"], ["O", "B-A", "I-A"], ["O", "B-A", "I-A"], 1.0),
        ("x y", [], ["O", "O"], ["O", "B-A"], 0.0),
    ]
    df = spark.createDataFrame(
        rows, "text string, entities array<string>, truth array<string>, "
              "pred array<string>, f1 double")
    corr = {r["feature"]: r["corr_with_f1"] for r in analytics(df).collect()}
    assert set(corr) == {"text_len", "n_entities", "mean_entity_len"}

    cm = {(r["truth"], r["pred"]): r["n"]
          for r in confusion_matrix(df).collect()}
    assert cm[("O", "O")] == 2 and cm[("A", "A")] == 2 and cm[("O", "A")] == 1

    pr = process_results(df).collect()
    by_text = {r["text"]: r for r in pr}
    assert by_text["a big cat"]["correct"] is True
    assert by_text["x y"]["correct"] is False
    assert by_text["a big cat"]["pred_text"] == "a | O\nbig | B-A\ncat | I-A"


# ------------------------------------------------------------------- P3
def test_split_phrases(spark):
    from promptner_spark.operators.parse import split_phrases

    m = spark.createDataFrame(
        [("u", 0, 0, "filter operator", 2, 4, "OP", None),
         ("u", 0, 1, "vector", 6, 7, "DATA", None)],
        "url string, sent_id int, mention_id int, surface string, "
        "begin int, end int, type string, raw_output string")
    out = sorted((r["surface"], r["begin"], r["end"], r["mention_id"])
                 for r in split_phrases(m).collect())
    assert out == [("filter", 2, 3, 0), ("operator", 3, 4, 1),
                   ("vector", 6, 7, 2)]


# ------------------------------------------------------------- E2/E3 harness
@needs_reference
def test_evaluate_gold_on_reference_sample(spark):
    from promptner_spark.operators.model import GazetteerBackend, RetryingBackend
    from promptner_spark.plans.evaluate_gold import evaluate_gold_iob2

    # gazetteer primed with two real Genia surfaces so TP > 0
    gaz = {"il-2": "protein", "nf-kappa b": "protein"}
    res = evaluate_gold_iob2(
        spark, GENIA_SAMPLE,
        backend_factory=lambda: RetryingBackend(GazetteerBackend(gaz)))
    micro = res.micro.collect()[0]
    n_gold = res.gold_spans.count()
    assert micro["tp"] + micro["fn"] == n_gold > 0
    assert micro["tp"] > 0                      # the primed surfaces hit
    assert 0.0 <= micro["f1"] <= 1.0
    sf1 = res.sentence_f1
    assert sf1.where((F.col("f1") < 0) | (F.col("f1") > 1)).count() == 0
    # perfect-oracle backend == F1 1.0 would need a full gazetteer; the
    # machinery itself must be exact: a self-evaluation of gold vs gold
    from promptner_spark.operators.evaluate import span_prf
    self_eval = span_prf(res.gold_spans, res.gold_spans, by_type=False).collect()[0]
    assert self_eval["f1"] == 1.0 and self_eval["fp"] == 0 and self_eval["fn"] == 0


def test_sentence_f1_keeps_empty_sentences(spark):
    """A sentence with zero gold AND zero predicted spans still gets a
    row with f1 = 1.0 (the reference keeps every sentence, `run.py:36`)."""
    from promptner_spark.plans.evaluate_gold import sentence_f1

    spans = "doc_id string, sent_id int, begin int, end int, type string"
    pred = spark.createDataFrame([("d", 0, 0, 1, "X")], spans)
    gold = spark.createDataFrame([("d", 0, 0, 1, "X")], spans)
    sents = spark.createDataFrame(
        [("d", 0), ("d", 1), ("e", 0)], "doc_id string, sent_id int")
    rows = {(r["doc_id"], r["sent_id"]): r
            for r in sentence_f1(pred, gold, sentences=sents).collect()}
    assert len(rows) == 3
    assert rows[("d", 0)]["f1"] == 1.0 and rows[("d", 0)]["tp"] == 1
    # empty sentences present, zero counts, f1 = 1.0 (vacuous perfection)
    for key in [("d", 1), ("e", 0)]:
        r = rows[key]
        assert (r["tp"], r["n_pred"], r["n_gold"], r["f1"]) == (0, 0, 0, 1.0)


def test_quick_helpers(spark):
    """Quick interactive sugar (reference `main.py:9-73`): one-shot
    span tagging, single-row annotation, single-sentence analyze."""
    from promptner_spark.quick import Quick

    tags = Quick.example_span("the stream joins a vector")
    assert len(tags) == 5 and any(t != "O" for t in tags)

    gold = spark.createDataFrame(
        [("the stream joins a vector",
          ["the", "stream", "joins", "a", "vector"],
          ["O", "B-SRC", "O", "O", "B-DATA"])],
        "text string, true_tokens array<string>, exact_types array<string>")
    ann = Quick.dataset(0, gold, verbose=False)
    assert "stream | True |" in ann and "(SRC)" in ann

    f1 = Quick.analyze(["O", "B-SRC", "O"], ["O", "B-SRC", "O"],
                       verbose=False)
    assert f1 == 1.0
    assert Quick.analyze(["O", "B-SRC"], ["O", "O"], verbose=False) == 0.0


def test_quick_genia_reads_row_from_given_iob2_file(spark, tmp_path):
    """``Quick.genia`` takes the IOB2 path from the caller and annotates
    row ``i`` of it, as ``Quick.dataset`` does for an in-memory row."""
    from promptner_spark.quick import Quick

    src = tmp_path / "two_sentences.iob2"
    src.write_text("the\tO\nstream\tB-SRC\njoins\tO\na\tO\nvector\tB-DATA\n\n"
                   "a\tO\nwindow\tB-STRUCT\ncloses\tO\n\n")
    ann = Quick.genia(0, str(src), verbose=False)
    assert "stream | True |" in ann and "(SRC)" in ann
    assert "window" not in ann
    gold = spark.createDataFrame(
        [("the stream joins a vector",
          ["O", "B-SRC", "O", "O", "B-DATA"])],
        "text string, exact_types array<string>")
    assert ann == Quick.dataset(0, gold, verbose=False)
