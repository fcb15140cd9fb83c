"""Golden replay: feed the reference repo's checked-in raw LLM outputs
(`results/*.csv`, column ``meta``) through our answer parser + span
aligner and require byte-identical IOB2 tags versus the reference's
recorded ``pred`` column (written by reference `run.py:31-37,235-236`).

This validates the parity-critical oracle core (A1/A2 + SP1/SP2) with
zero model calls — the strongest correctness evidence available in-tree.
"""

import ast
import csv
import glob
import os

import pytest

from promptner_spark.oracle import align_spans, parse_exemplar_answers

from .conftest import REFERENCE_DIR, needs_reference

RESULTS = sorted(glob.glob(os.path.join(REFERENCE_DIR, "results", "*.csv")))

pytestmark = needs_reference


def _rows(path):
    with open(path, newline="") as fh:
        for row in csv.DictReader(fh):
            yield row


def _replay_one(row):
    surfaces, typestrings = parse_exemplar_answers(row["meta"])
    try:
        return align_spans(row["text"], surfaces, typestrings)
    except (IndexError, ValueError):
        # reference run.py:43-44 drops rows that raise IndexError; any
        # row present in the CSV parsed successfully there, so a raise
        # here is a genuine mismatch — surface it as such.
        raise


# ids as a list: an empty glob must reach pytest's own empty-parameter
# skip, not an id callable handed NOTSET
@pytest.mark.parametrize(
    "path", RESULTS, ids=[os.path.basename(p) for p in RESULTS])
def test_replay_matches_reference_pred(path):
    total = 0
    mismatches = []
    for row in _rows(path):
        expected = ast.literal_eval(row["pred"])
        got = _replay_one(row)
        total += 1
        if got != expected:
            mismatches.append((row["text"][:60], expected, got))
    assert total > 0
    assert not mismatches, (
        f"{len(mismatches)}/{total} rows mismatched; first: {mismatches[0]}"
    )
