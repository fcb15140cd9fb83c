"""SP3/C8 verification + dispute resolution semantics and plan shape.

Reference parity targets:
- query mode (`algorithms.py:300-308`): verifier answer wins,
  unparseable (-1) falls back to the first-pass type;
- resolve_disputes (`algorithms.py:309-326`): any disagreement issues
  the C8 dispute prompt; its parenthesized answer wins, unparseable
  falls back to the FIRST opinion.
The fused path (text carried on mention rows) must contain no join
and no shuffle — one mapInPandas over the mention table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from promptner_spark.functions.prompts import DISPUTE_Q, TYPE_Q


class ScriptedBackend:
    """Answers C7 prompts from `verify_by_surface` and C8 prompts from
    `dispute_by_surface`; records every prompt for assertions."""

    def __init__(self, verify_by_surface, dispute_by_surface):
        self.verify = verify_by_surface
        self.dispute = dispute_by_surface
        self.prompts: list[str] = []

    def _surface(self, prompt: str) -> str:
        s = prompt.split("Entity Phrase: ")[1].split(" \nAnswer:")[0]
        return s.split(", Options:")[0].strip()

    def generate(self, prompts):
        self.prompts.extend(prompts)
        out = []
        for p in prompts:
            table = self.dispute if DISPUTE_Q in p else self.verify
            out.append(table.get(self._surface(p), ""))
        return out


def _mentions(spark, rows):
    return spark.createDataFrame(
        rows,
        "url string, sent_id int, mention_id int, surface string, "
        "begin int, end int, type string, raw_output string, text string")


def test_dispute_resolution_three_way(spark):
    from promptner_spark.operators.verify import verify_types

    rows = [
        # agreement: verifier confirms -> no dispute, keeps type
        ("u", 0, 0, "spark", 0, 1, "SYS", None, "spark joins a window"),
        # disagreement, dispute parseable -> dispute answer wins
        ("u", 0, 1, "window", 3, 4, "WRONG", None, "spark joins a window"),
        # disagreement, dispute unparseable -> FIRST opinion wins
        ("u", 0, 2, "joins", 1, 2, "ACT", None, "spark joins a window"),
    ]
    backend = ScriptedBackend(
        verify_by_surface={"spark": "spark is a (SYS)",
                           "window": "window is a (OP)",
                           "joins": "joins is a (VERB)"},
        dispute_by_surface={"window": "it is a (STRUCT)",
                            "joins": "no parentheses here"},
    )
    out = {r["surface"]: r for r in verify_types(
        _mentions(spark, rows), resolve_disputes=True,
        backend_factory=lambda: backend).collect()}
    assert out["spark"]["type_final"] == "SYS"
    assert out["window"]["type_verified"] == "OP"
    assert out["window"]["type_final"] == "STRUCT"   # dispute wins
    assert out["joins"]["type_final"] == "ACT"       # fallback to first

    # prompt accounting on the pure batch core (the Spark-side backend
    # copy lives in the UDF worker, so its log is not visible here)
    from promptner_spark.operators.verify import _verify_batch
    texts = [r[8] for r in rows]
    surfaces = [r[3] for r in rows]
    first = [r[6] for r in rows]
    verified, final = _verify_batch(backend, texts, surfaces, first, True)
    assert verified == ["SYS", "OP", "VERB"]
    assert final == ["SYS", "STRUCT", "ACT"]
    # exactly 3 verify prompts and 2 dispute prompts were issued
    assert sum(TYPE_Q in p for p in backend.prompts) == 3
    assert sum(DISPUTE_Q in p for p in backend.prompts) == 2
    # dispute options carry (first opinion, verifier opinion) in order
    wp = [p for p in backend.prompts
          if DISPUTE_Q in p and "window" in p][0]
    assert "Options: (WRONG), (OP)" in wp


def test_query_mode_verifier_wins(spark):
    from promptner_spark.operators.verify import verify_types

    rows = [("u", 0, 0, "window", 3, 4, "WRONG", None, "a window here"),
            ("u", 0, 1, "spark", 0, 1, "SYS", None, "spark and more")]
    backend = ScriptedBackend(
        verify_by_surface={"window": "window is a (OP)",
                           "spark": "unparseable"}, dispute_by_surface={})
    out = {r["surface"]: r for r in verify_types(
        _mentions(spark, rows), resolve_disputes=False,
        backend_factory=lambda: backend).collect()}
    assert out["window"]["type_final"] == "OP"   # verifier wins
    assert out["spark"]["type_final"] == "SYS"   # -1 -> first-pass type
    assert all(DISPUTE_Q not in p for p in backend.prompts)


def test_fused_verify_has_no_join_or_shuffle(spark, sf_dir):
    """Text carried out of the extractor ⇒ the verify stage adds no
    Exchange and no Join to the plan (VERDICT r1 defect #4)."""
    from promptner_spark.operators.infer import extract_mentions
    from promptner_spark.operators.verify import verify_types
    from promptner_spark.sources.pages import pages_with_extracted_text
    from promptner_spark.sources.sentences import split_sentences

    sents = split_sentences(pages_with_extracted_text(spark, sf_dir))
    m = extract_mentions(sents, carry=("text",))
    plan_before = m._jdf.queryExecution().executedPlan().toString()
    v = verify_types(m, resolve_disputes=True)
    plan_after = v._jdf.queryExecution().executedPlan().toString()

    def count(plan, token):
        return plan.count(token)

    for token in ("Exchange", "Join"):
        assert count(plan_after, token) == count(plan_before, token), token
    # and it actually verifies: deterministic backend agrees with itself
    assert v.where(F.col("type_final") != F.col("type")).count() == 0
    assert v.count() > 0


def test_mentions_without_text_are_rejected(spark):
    """There is no join path: a mention table that does not carry the
    sentence text is refused before any plan is built."""
    import pytest

    from promptner_spark.operators.verify import verify_types

    rows = [("u", 0, 0, "spark", 0, 1, "SYS", None, "spark joins")]
    with pytest.raises(ValueError, match="text"):
        verify_types(_mentions(spark, rows).drop("text"))


def test_verify_spec_default_matches_bare_templates():
    """VerifySpec() must render byte-identically to the bare C7/C8
    templates the oracle queries pin."""
    from promptner_spark.functions.prompts import (
        VerifySpec, dispute_prompt_str, type_verify_prompt_str)

    vs = VerifySpec()
    assert vs.type_prompt("a b c", "b") == type_verify_prompt_str("a b c", "b")
    assert vs.dispute_prompt("a b", "b", "X", "Y") == \
        dispute_prompt_str("a b", "b", "X", "Y")


def test_verify_spec_interleaves_exemplars():
    """set_config MultiAlgorithm branch parity (`algorithms.py:455-476`):
    defn first, then task+exemplar per exemplar, then the task once
    more ahead of the final paragraph."""
    from promptner_spark.functions.prompts import DISPUTE_Q, TYPE_Q, VerifySpec

    vs = VerifySpec(
        defn="DEFN.",
        type_exemplars=("Paragraph: x \nEntity Phrase: x \nAnswer: x is a (T)",),
        dispute_exemplars=("Paragraph: y \nEntity Phrase: y, Options: (A), (B)"
                           " \nAnswer: y is a (A)",))
    tp = vs.type_prompt("the para", "phrase")
    assert tp.startswith("DEFN.\n" + TYPE_Q)
    assert tp.count(TYPE_Q) == 2          # once per exemplar + final
    assert tp.endswith("\nParagraph: the para \nEntity Phrase: phrase \nAnswer:")
    dp = vs.dispute_prompt("the para", "phrase", "A", "B")
    assert dp.count(DISPUTE_Q) == 2
    assert ", Options: (A), (B) \nAnswer:" in dp

    # and the gazetteer backend still parses the phrase out of the
    # exemplar-laden prompt (rfind semantics, `algorithms.py:192`)
    from promptner_spark.operators.model import GazetteerBackend
    gb = GazetteerBackend({"phrase": "T9"})
    assert gb.generate([tp]) == ["phrase is a (T9)"]
    assert gb.generate([dp]) == ["phrase is a (T9)"]
