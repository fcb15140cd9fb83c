"""CoT exemplar auto-generation (operators C4-C6, SURVEY.md §2.3).

The reference builds chain-of-thought few-shot exemplars by asking the
model to explain, per token, why it is or is not an entity
(`algorithms.py:227-279` ``get_annotation``/``generate_annotations``)
and loops that over ≤3 training rows (`algorithms.py:543-552`
``autogenerate_annotations``). This is a driver-side warm-up — it runs
on a handful of sentences before the cluster job and its output is a
broadcast string constant — so no Spark plan is involved; determinism
comes from a seeded RNG for the negative-token sample
(`np.random.choice` at `algorithms.py:258-260`).
"""

from __future__ import annotations

import random
import string
from typing import Callable

from ..functions.prompts import PromptSpec
from ..oracle.stopwords import ENGLISH_STOPWORD_SET
from .model import Backend, default_backend_factory, generate_any

ENTITY_TOKEN_TASK = (
    "In the sentence '[sent]'. The phrase '[token]' is an entity of type "
    "[type]. In one line explain why. \nAnswer: The phrase '[token]' is an "
    "entity of type [type] because"
)
NONENTITY_TOKEN_TASK = (
    "In the sentence '[sent]'. The phrase '[token]' is not an entity. In "
    "one line explain why. \nAnswer: The phrase '[token]' is not an entity "
    "because"
)


def annotation_prompt(sentence: str, token: str, ner_label: str,
                      defn: str) -> str:
    """C4 (`algorithms.py:227-241`): per-token explain-why prompt."""
    if ner_label == "O":
        task = NONENTITY_TOKEN_TASK.replace("[sent]", sentence) \
            .replace("[token]", token)
    else:
        task = ENTITY_TOKEN_TASK.replace("[sent]", sentence) \
            .replace("[token]", token).replace("[type]", ner_label)
    return defn + "\n" + task


def generate_annotations(sentence: str, tokens: list[str],
                         ner_labels: list[str],
                         backend: Backend,
                         defn: str,
                         max_falses: int = 3,
                         seed: int = 0) -> str:
    """C5 (`algorithms.py:243-279`): one CoT exemplar answer block.

    Mirrors the reference: every entity token gets an explanation; O
    tokens that are punctuation-only, stopwords, or numeric are skipped
    (P2, `algorithms.py:251-252`); at most ``max_falses`` negatives are
    sampled (seeded here — the reference used an unseeded np RNG);
    lines render ``n. token | True/False | explanation(label)``."""
    rng = random.Random(seed)
    false_indices: list[int] = []
    prompts: list[tuple[int, str]] = []
    for i, token in enumerate(tokens):
        if ner_labels[i] != "O":
            prompts.append((i, annotation_prompt(
                sentence, token, ner_labels[i], defn)))
        else:
            bare = token.strip().strip(string.punctuation).strip()
            if (bare == "" or token.strip() in ENGLISH_STOPWORD_SET
                    or token.isnumeric()):
                continue
            false_indices.append(i)
            prompts.append((i, annotation_prompt(sentence, token, "O", defn)))
    if len(false_indices) > max_falses:
        false_indices = sorted(rng.sample(false_indices, max_falses))

    # ONE batched model call for all tokens (the reference issues one
    # HTTP request per token, `algorithms.py:237,241`), through the
    # same chat/completion dispatch as the reference's ``__call__``
    outputs = generate_any(backend, [p for _, p in prompts])
    annot_of = {i: out for (i, _), out in zip(prompts, outputs)}

    lines = ["Answer: "]
    no = 1
    for i, token in enumerate(tokens):
        if i not in annot_of:
            continue
        is_entity = ner_labels[i] != "O"
        if is_entity:
            label = ner_labels[i][2:] if ner_labels[i][:2] in ("B-", "I-") \
                else ner_labels[i]
            lines.append(f"{no}. {token} | True | {annot_of[i]}({label})")
            no += 1
        elif i in false_indices:
            lines.append(f"{no}. {token} | False | {annot_of[i]}")
            no += 1
    return "\n".join(lines)


def autogenerate_exemplars(
    rows: list[tuple[str, list[str], list[str]]],
    backend_factory: Callable[[], Backend] | None = None,
    defn: str | None = None,
    max_examples: int = 3,
    seed: int = 0,
) -> tuple[str, ...]:
    """C6 (`algorithms.py:543-552`): exemplar block per training row
    (≤ max_examples); result plugs into ``PromptSpec(exemplars=...)``
    and broadcasts with the spec."""
    backend = (backend_factory or default_backend_factory)()
    defn = defn if defn is not None else PromptSpec().defn
    out = []
    for k, (text, tokens, labels) in enumerate(rows[:max_examples]):
        out.append(text + "\n" + generate_annotations(
            text, tokens, labels, backend, defn, seed=seed + k))
    return tuple(out)
