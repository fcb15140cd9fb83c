"""Differential fuzzing of the span-alignment core (SURVEY.md §5.2
item 1): our ``align_spans``/``clean_answers``/``parse_exemplar_answers``
run against the REFERENCE'S OWN functions imported from the
reference checkout (``conftest.REFERENCE_DIR``, read-only; the module
skips where it is absent), with its missing heavy deps (nltk,
openai, transformers) stubbed by equivalent shims. Property: for
randomized paragraphs + mention lists — duplicates, ``'s``/``:``
splits, absent mentions, dashed FewNERD types, overlapping surfaces —
the IOB2 tag output is byte-identical.
"""

from __future__ import annotations

import sys
import types

import pytest
from hypothesis import given, settings, strategies as st

from .conftest import REFERENCE_DIR, needs_reference

pytestmark = needs_reference


@pytest.fixture(scope="module")
def reference():
    """Import the reference Algorithm with dependency shims."""
    from promptner_spark.oracle.stopwords import ENGLISH_STOPWORDS

    # nltk.corpus.stopwords.words('english') -> vendored list
    nltk = types.ModuleType("nltk")
    corpus = types.ModuleType("nltk.corpus")

    class _SW:
        @staticmethod
        def words(lang):
            assert lang == "english"
            return list(ENGLISH_STOPWORDS)

    corpus.stopwords = _SW()
    nltk.corpus = corpus

    openai = types.ModuleType("openai")
    openai.api_key = None

    class _Err(Exception):
        ...

    openai.error = types.SimpleNamespace(RateLimitError=_Err)
    transformers = types.ModuleType("transformers")
    transformers.AutoModelForSeq2SeqLM = object
    transformers.AutoTokenizer = object

    saved = {k: sys.modules.get(k) for k in
             ("nltk", "nltk.corpus", "openai", "transformers",
              "utils", "models", "algorithms")}
    sys.modules["nltk"] = nltk
    sys.modules["nltk.corpus"] = corpus
    sys.modules["openai"] = openai
    sys.modules["transformers"] = transformers
    sys.path.insert(0, REFERENCE_DIR)
    try:
        import algorithms  # noqa: F401  (reference module)
        yield algorithms
    finally:
        sys.path.remove(REFERENCE_DIR)
        for k, v in saved.items():
            if v is None:
                sys.modules.pop(k, None)
            else:
                sys.modules[k] = v


WORDS = ["spark", "table", "scan's", "Merge", "a:b", "big-data", "the",
         "vector", "12", "op", "x"]
TYPES = ["SYS", "loc", "art-broadcastprogram", "T"]

paragraphs = st.lists(st.sampled_from(WORDS), min_size=1, max_size=12) \
    .map(lambda ws: " ".join(ws))
answer_lists = st.lists(
    st.tuples(st.lists(st.sampled_from(WORDS), min_size=1, max_size=3)
              .map(lambda ws: " ".join(ws)),
              st.sampled_from(TYPES)),
    min_size=0, max_size=6)


@settings(max_examples=300, deadline=None)
@given(para=paragraphs, answers=answer_lists)
def test_align_matches_reference_parse_span(reference, para, answers):
    from promptner_spark.oracle.align import align_spans

    alg = reference.Algorithm(identify_types=True)
    alg.para = para
    surfaces = [s for s, _ in answers]
    typestrings = [f"x ({t})" for _, t in answers]
    try:
        # reference returns (tags, metadata); metadata passes through
        expected = alg.parse_span(list(surfaces), list(typestrings), "")[0]
    except Exception as exc:  # reference raises on some degenerate inputs
        with pytest.raises(type(exc)):
            align_spans(para, list(surfaces), list(typestrings))
        return
    got = align_spans(para, list(surfaces), list(typestrings))
    assert got == expected, (para, answers)


@settings(max_examples=200, deadline=None)
@given(raw=st.lists(st.sampled_from(
    list("abc |.()-\n123") + ["True", "False", "1. ", "2) ", "answer:"]),
    max_size=40).map("".join))
def test_parse_and_clean_match_reference(reference, raw):
    from promptner_spark.oracle.clean import clean_answers
    from promptner_spark.oracle.parsing import parse_exemplar_answers

    ref_am = reference.utils.AnswerMapping
    try:
        exp_ans, exp_types = ref_am.exemplar_format_list(
            raw, identify_types=True, verbose=False)
    except IndexError:
        # the reference crashes on some malformed outputs (the bare
        # IndexError swallowed at run.py:43-44); our parser returns an
        # empty/partial result instead of raising — intentionally not
        # copied, so no comparison on these inputs
        return
    got_ans, got_types = parse_exemplar_answers(
        raw, true_only=True, identify_types=True)
    assert list(got_ans) == list(exp_ans)
    assert list(got_types) == list(exp_types)

    alg = reference.Algorithm(identify_types=True)
    try:
        exp_clean = alg.clean_output(list(exp_ans), list(exp_types))
    except IndexError:
        return
    got_clean = clean_answers(list(got_ans), list(got_types))
    assert tuple(map(list, got_clean)) == tuple(map(list, exp_clean))
