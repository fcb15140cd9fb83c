"""User-facing API parity with the reference's ``custom.get_ner_system``
(`custom.py:82-94`): a closure that annotates ONE sentence at a time.

Driver-side convenience only — it reuses the exact per-row chain the
cluster path runs inside its fused UDF (the chat/completion dispatch
of ``operators.infer._make_generate`` → parse → clean → align), so
library users migrating from the reference get identical outputs, and
scaling up means switching to
``plans.pipeline.build_pipeline`` / ``operators.infer.extract_mentions``
over a DataFrame instead of looping this closure.
"""

from __future__ import annotations

from typing import Callable

from .functions.prompts import PromptSpec
from .operators.infer import _make_generate
from .operators.model import Backend, default_backend_factory
from .operators.parse import predict_tags
from .oracle.clean import clean_answers
from .oracle.parsing import parse_exemplar_answers


def get_ner_system(
    split_phrases: bool = False,
    identify_types: bool = True,
    spec: PromptSpec | None = None,
    backend_factory: Callable[[], Backend] | None = None,
) -> Callable[[str], tuple]:
    """Returns ``get_entities(sentence) -> (entities, types, raw)`` —
    reference signature (`custom.py:85-94`; type list omitted when
    ``identify_types`` is False, matching `algorithms.py:181-184`).

    ``split_phrases`` explodes multi-word answers into single words
    (P3, `algorithms.py:158-175` — off in every reference eval)."""
    generate = _make_generate(
        (backend_factory or default_backend_factory)(), spec or PromptSpec())

    def get_entities(sentence: str):
        raw = generate([sentence])[0]
        if identify_types:
            surfaces, typestrings = parse_exemplar_answers(
                raw, true_only=True, identify_types=True)
        else:
            # identify_types=False returns a bare surfaces list
            # (`utils.py:151-153`); pad typestrings so the shared
            # clean/split path below stays uniform.
            surfaces = parse_exemplar_answers(
                raw, true_only=True, identify_types=False)
            typestrings = [""] * len(surfaces)
        if split_phrases:
            exploded, exploded_t = [], []
            for s, t in zip(surfaces, typestrings or [""] * len(surfaces)):
                for w in s.split(" "):
                    exploded.append(w)
                    exploded_t.append(t)
            surfaces, typestrings = exploded, exploded_t
        surfaces, typestrings = clean_answers(
            list(surfaces), list(typestrings))
        if identify_types:
            return surfaces, typestrings, raw
        return surfaces, raw

    return get_entities


def get_tagging_system(
    spec: PromptSpec | None = None,
    backend_factory: Callable[[], Backend] | None = None,
) -> Callable[[str], list[str]]:
    """One-sentence IOB2 tagger: the ``perform_span`` equivalent
    (`algorithms.py:67-70` + `parse_span` `algorithms.py:72-131`) —
    the fused extractor's per-row body, including its all-O answer
    to a failed backend call or an unalignable answer."""
    generate = _make_generate(
        (backend_factory or default_backend_factory)(), spec or PromptSpec())
    return lambda sentence: predict_tags(sentence, generate([sentence])[0])
