"""Second-pass type verification + dispute resolution (operator SP3,
prompts C7/C8 — SURVEY.md §2.6).

The reference's ``MultiAlgorithm.parse_span`` issues one extra LLM
query per mention asking for its type, and — with
``resolve_disputes`` — a third "dispute" query when the two opinions
differ (`algorithms.py:290-369`). Spark-first:

    mention table (text carried out of the fused extractor) →
    ONE ``mapInPandas`` pass: C7 prompt → batched inference → paren
    type extraction (A4) → per-batch dispute subset → C8 prompt →
    batched inference → 3-way resolution — all inside the same task.

Zero joins and zero extra shuffles: the sentence
text rides on the mention row (one Arrow column) instead of being
re-fetched via a mentions ⋈ sentences shuffle join (VERDICT r1 defect
#4), and the dispute query reuses the already-constructed backend on
the (small) disagreeing subset of each batch — mirroring the
reference's per-sentence control flow at batch granularity. A
mention table without ``text`` is rejected: the extractor carries it
(``extract_mentions(..., carry=("text",))``), so there is no
mentions ⋈ sentences join path.

Resolution semantics (reference parity):

- ``resolve_disputes=False`` (`algorithms.py:300-308`, query mode):
  the verifier's answer wins; an unparseable answer (-1) falls back
  to the first-pass type.
- ``resolve_disputes=True`` (`algorithms.py:309-326`): any
  disagreement — including an unparseable verify answer — triggers
  the C8 dispute prompt; its parenthesized answer wins, an
  unparseable dispute answer falls back to the FIRST opinion.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..functions.prompts import VerifySpec
from .model import Backend, default_backend_factory, generate_any


def _paren_type(answer: str) -> str:
    """A4: the substring between the first '(' and the first ')'
    (`algorithms.py:380-385`); '' when absent (the reference's -1)."""
    i, j = answer.find("("), answer.find(")")
    if i >= 0 and j > i:
        return answer[i + 1:j]
    return ""


def verify_types(
    mentions: DataFrame,
    *,
    backend_factory: Callable[[], Backend] | None = None,
    resolve_disputes: bool = False,
    spec: VerifySpec | None = None,
) -> DataFrame:
    """mentions → + ``type_verified`` and ``type_final`` columns, in a
    single fused mapInPandas pass with no joins. ``mentions`` must
    carry the sentence ``text`` (extract_mentions
    ``carry=("text",)``); without it this raises ``ValueError``."""
    if "text" not in mentions.columns:
        raise ValueError(
            "mentions has no 'text' column — carry it out of "
            "extract_mentions(..., carry=(\"text\",))")
    backend_factory = backend_factory or default_backend_factory
    spec = spec or VerifySpec()
    out_schema = T.StructType(
        list(mentions.schema.fields)
        + [T.StructField("type_verified", T.StringType(), True),
           T.StructField("type_final", T.StringType(), True)])

    def infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = backend_factory()
        for pdf in batches:
            verified, final = _verify_batch(
                backend, pdf["text"].tolist(), pdf["surface"].tolist(),
                pdf["type"].tolist(), resolve_disputes, spec)
            yield pdf.assign(type_verified=verified, type_final=final)

    return mentions.mapInPandas(infer, schema=out_schema)


def _verify_batch(backend: Backend, texts: list[str], surfaces: list[str],
                  first_types: list[str], resolve_disputes: bool,
                  spec: VerifySpec = VerifySpec(),
                  ) -> tuple[list[str], list[str]]:
    """The per-batch core: C7 query for every row, then (in
    dispute mode) one batched C8 query over the disagreeing subset.
    Returns (type_verified, type_final) lists."""
    raws = generate_any(
        backend,
        [spec.type_prompt(t, s) for t, s in zip(texts, surfaces)])
    verified = [_paren_type(r) for r in raws]
    if not resolve_disputes:
        final = [v if v else t for v, t in zip(verified, first_types)]
        return verified, final
    final = list(first_types)
    disputed = [i for i, (t, v) in enumerate(zip(first_types, verified))
                if v != (t or "")]
    if disputed:
        draws = generate_any(backend, [
            spec.dispute_prompt(texts[i], surfaces[i],
                                first_types[i] or "", verified[i])
            for i in disputed
        ])
        for i, raw in zip(disputed, draws):
            d = _paren_type(raw)
            if d:
                final[i] = d
    return verified, final

