"""In-repo parity cases for PromptNER's parse → clean → align chain
(``operators/parse.py::predict_tags``): a paragraph plus the model's
raw answer text in, one IOB2 tag per whitespace token out.

Each expected value is worked out by hand from the reference quirk the
case names (citations into the reference's ``algorithms.py`` and
``utils.py``, as in the oracle module docstrings), not recorded from a
run. Unlike the golden-replay and differential-fuzz tests, these need
no reference checkout."""

from __future__ import annotations

import pytest

from promptner_spark.operators.model import RetryingBackend
from promptner_spark.operators.parse import predict_tags

O = "O"

CASES = [
    # --- basic shape -------------------------------------------------
    ("single_words",
     "Obama visited Paris .",
     "1. Obama | True | a person (person)\n"
     "2. Paris | True | a city (location)",
     ["B-person", O, "B-location", O]),
    ("false_status_dropped",  # true_only (utils.py:107-153)
     "Obama visited Paris .",
     "1. Obama | True | a person (person)\n"
     "2. Paris | False | a city, but not asked for (location)",
     ["B-person", O, O, O]),
    ("untyped_answer_dropped",  # no "(type)": continue (algorithms.py:86-89)
     "Obama visited Paris .",
     "1. Obama | True | a person\n2. Paris | True | a city (location)",
     [O, O, "B-location", O]),
    ("type_between_first_parens",  # types[find("(")+1 : find(")")]
     "Obama visited Paris .",
     "1. Paris | True | in (sic) France (location)",
     [O, O, "B-sic", O]),
    ("type_case_kept",  # entities are lowercased, explanations are not
     "Obama visited Paris .",
     "1. PARIS | True | a city (Location)",
     [O, O, "B-Location", O]),
    ("two_field_line_is_entity_explanation",  # utils.py:131-136
     "Obama visited Paris .",
     "1. Paris | a city (location)",
     [O, O, "B-location", O]),
    ("more_than_three_fields_misaligns",  # explanation discarded
     # (utils.py:139-141): one surface, no typestring, and the index
     # error that follows turns the whole row to O (run.py:43-44)
     "Obama visited Paris .",
     "1. Paris | True | a city (location) | extra",
     [O, O, O, O]),
    ("inline_type_in_entity_stripped",  # clean strips "(...)"
     # (algorithms.py:37-63)
     "Obama visited Paris .",
     "1. Paris (location) | True | a city (location)",
     [O, O, "B-location", O]),
    ("paren_numbering_kept_then_cleaned",  # "1)" keeps ")" (utils.py:72-75);
     # the punctuation strip in clean removes it again
     "Obama visited Paris .",
     "1) Paris | True | a city (location)",
     [O, O, "B-location", O]),
    ("answer_header_line_dropped",  # exact "answer:" line (utils.py:69)
     "Obama visited Paris .",
     "Answer:\n1. Paris | True | a city (location)",
     [O, O, "B-location", O]),
    ("no_newline_fallback",  # split on "<n>." markers (utils.py:107-153)
     "Obama visited Paris .",
     "1. Obama | True | a person (person) "
     "2. Paris | True | a city (location)",
     ["B-person", O, "B-location", O]),
    ("no_newline_segment_with_answer_dropped",  # "answer" anywhere
     # (utils.py:117)
     "Obama visited Paris .",
     "1. Obama | True | a person (person) "
     "2. Paris | True | the answer is a city (location)",
     ["B-person", O, O, O]),
    ("typed_mode_keeps_stopwords",  # filtered lists discarded
     # (algorithms.py:44-63)
     "The Who played .",
     "1. The | True | part of a band name (band)",
     ["B-band", O, O, O]),
    ("backend_failure_all_o",  # failure sentinel → all-O, same length
     "Obama visited Paris .",
     RetryingBackend.FAIL_PREFIX + "timeout",
     [O, O, O, O]),

    # --- absent mentions ---------------------------------------------
    ("absent_mention_skipped",  # algorithms.py:93-96
     "Obama visited Paris .",
     "1. Berlin | True | a city (location)\n"
     "2. Paris | True | a city (location)",
     [O, O, "B-location", O]),
    ("single_word_must_be_whole_token",  # in para, not a token
     # (algorithms.py:98-99)
     "Parisian food is good",
     "1. Paris | True | a city (location)",
     [O, O, O, O]),
    ("multi_word_order_matters",
     "I love New York .",
     "1. York New | True | a city (location)",
     [O, O, O, O, O]),

    # --- multi-word spans --------------------------------------------
    ("multi_word_span",  # B- then I- (algorithms.py:121-129)
     "I love New York City .",
     "1. New York City | True | a city (location)",
     [O, O, "B-location", "I-location", "I-location", O]),
    ("multi_word_overwrites",  # only single words respect tags
     # (algorithms.py:106)
     "apple pie tastes good",
     "1. apple | True | a company (org)\n"
     "2. apple pie | True | a dessert (dish)",
     ["B-dish", "I-dish", O, O]),
    ("single_word_never_overwrites",
     "apple pie tastes good",
     "1. apple pie | True | a dessert (dish)\n"
     "2. apple | True | a company (org)",
     ["B-dish", "I-dish", O, O]),
    ("single_word_first_type_wins",
     "apple pie tastes good",
     "1. apple | True | a company (org)\n"
     "2. apple | True | a fruit (food)",
     ["B-org", O, O, O]),

    # --- 's and : tokens (algorithms.py:80,90-92,113-115) --------------
    ("possessive_in_span",
     "China 's economy grew",
     "1. China's economy | True | an economy (misc)",
     ["B-misc", "I-misc", "I-misc", O]),
    ("possessive_single_word_skipped",  # "china's" is no token
     "China 's economy grew",
     "1. China's | True | a country (location)",
     [O, O, O, O]),
    ("colon_in_span",
     "Team : Real Madrid won",
     "1. Team: Real Madrid | True | a club (org)",
     ["B-org", "I-org", "I-org", "I-org", O]),

    # --- n-th occurrence (algorithms.py:100-105,117-119) ---------------
    ("nth_occurrence_single",
     "Paris and Paris again",
     "1. Paris | True | a city (location)\n"
     "2. Paris | True | a city (location)",
     ["B-location", O, "B-location", O]),
    ("nth_occurrence_once_takes_first",
     "Paris and Paris again",
     "1. Paris | True | a city (location)",
     ["B-location", O, O, O]),
    ("nth_substring_count_mismatch",  # para.count counts "parisian" too,
     # the token lookup finds no 2nd "paris": ValueError → all O
     "Paris and Parisian food",
     "1. Paris | True | a city (location)\n"
     "2. Paris | True | a city (location)",
     [O, O, O, O]),
    ("nth_multi_word_fewer_than_n",  # found[n-1] IndexError → all O
     "I love New York .",
     "1. New York | True | a city (location)\n"
     "2. New York | True | a city (location)",
     [O, O, O, O, O]),

    # --- the -1 alignment rule (utils.py:33-34, algorithms.py:119-129) -
    ("minus_one_wraps_to_last_token",  # 2 matches > n=1 → -1: B- on the
     # last token, then the I- loop runs from token 0 to -1 + width
     "new york and new york",
     "1. New York | True | a city (location)",
     ["I-location", O, O, O, "B-location"]),
    ("minus_one_then_second_occurrence",  # n=2 is not exceeded: start 3
     "new york and new york",
     "1. New York | True | a city (location)\n"
     "2. New York | True | a city (location)",
     ["I-location", O, O, "B-location", "I-location"]),

    # --- FewNERD dashed types (algorithms.py:107-110,121-128) ----------
    ("dashed_type_single_verbatim",
     "Obama visited Paris .",
     "1. Paris | True | a city (location-GPE)",
     [O, O, "location-GPE", O]),
    ("dashed_type_span_verbatim",
     "I love New York City .",
     "1. New York City | True | a city (location-GPE)",
     [O, O, "location-GPE", "location-GPE", "location-GPE", O]),
]


@pytest.mark.parametrize("para,raw,expected",
                         [c[1:] for c in CASES], ids=[c[0] for c in CASES])
def test_predict_tags(para, raw, expected):
    assert len(expected) == len(para.split(" "))
    assert predict_tags(para, raw) == expected
