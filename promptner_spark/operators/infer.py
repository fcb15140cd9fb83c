"""The inference stage (M1-M4): "join the corpus with a model".

Spark mapping of the reference's sequential per-sentence loop
(`run.py:16-44`): an Arrow-batched ``mapInPandas`` where

- the backend is constructed ONCE per task (iterator UDF — same reason
  the reference builds one OpenAIGPT per run, `run.py:216-228`);
- one Arrow batch (session.ARROW_BATCH_ROWS rows) is one model call —
  the reference's 1-sentence-per-request becomes hundreds per request;
- rows are repartitioned by url-hash first so work is uniform and
  output is independent of input file layout (north_rule: explicit
  repartitioning on url-hash);
- within each partition rows are sorted by (url, sent_id) before
  batching so batch composition — and therefore any batch-sensitive
  real model — is stable across cluster sizes (SURVEY.md §4.2
  "deterministic batching").

At 100 TB this stage is embarrassingly parallel: no shuffle after the
initial repartition, and the Arrow batch size bounds executor memory.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .. import schema
from ..functions.prompts import (
    PromptSpec, chat_message_prefix, chat_user_turn,
)
from .model import Backend, default_backend_factory, is_chat_backend


def _make_generate(backend: Backend, spec: PromptSpec):
    """C3 consumer — the reference's ``__call__`` dispatch
    (`models.py:47-52` routed through `algorithms.py:186-225`):
    completion backends get the rendered ``prefix + text + suffix``
    string; chat backends get the constant message prefix (system
    turn + exemplar user/assistant pairs, built ONCE per task) plus
    the per-row user turn. Returns ``texts -> raw answers``."""
    prefix, suffix = spec.prefix(), PromptSpec.SUFFIX
    if is_chat_backend(backend):
        chat_prefix = chat_message_prefix(spec)
        return lambda texts: backend.generate_chat(
            [chat_prefix + [chat_user_turn(t)] for t in texts])
    return lambda texts: backend.generate(
        [prefix + t + suffix for t in texts])


def extract_mentions(
    sentences: DataFrame,
    spec: PromptSpec | None = None,
    backend_factory: Callable[[], Backend] | None = None,
    partitions: int | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Fused inference → parse → span-align → mention-explode stage:
    ONE Arrow crossing instead of three (infer + tag + mention UDFs).

    Per-row pure (same oracle chain as operators/parse.py), so output
    is independent of partitioning — but the whole hot path runs in a
    single ``mapInPandas`` pass: prompts in, mention rows out. At
    100 TB this halves Arrow ser/de volume and removes two pipelined
    Python stages per task. Output: schema.MENTIONS (+ ``carry``).

    ``carry`` names extra input columns copied onto every emitted
    mention row. The extractor has the sentence in hand anyway, so
    carrying e.g. ``text`` (for the downstream verify prompt) or
    ``warc_ts`` (for streaming event-time) costs one Arrow column —
    versus the re-join it replaces, which at web scale is a full
    mentions ⋈ sentences shuffle (VERDICT r1 defect #4)."""
    from ..oracle.spans import tags_to_mentions
    from .parse import predict_tags

    spec = spec or PromptSpec()
    backend_factory = backend_factory or default_backend_factory
    carry = tuple(carry)

    # The prompt column is NOT materialized JVM-side: the prefix/suffix are constants, so rendering them
    # per-row would multiply the shuffle and Arrow IPC volume by the
    # template size for no benefit. Only (url, sent_id, text) and the
    # carried columns cross the exchange and the Arrow boundary; the
    # template travels once, in the task closure.
    extra = [c for c in carry if c not in ("url", "sent_id", "text")]
    df = sentences.select("url", "sent_id", "text", *extra)
    if partitions is None:
        partitions = sentences.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(partitions, F.hash(F.col("url")))

    in_types = {f.name: f.dataType for f in sentences.schema.fields}
    out_schema = T.StructType(
        list(schema.MENTIONS.fields)
        + [T.StructField(c, in_types[c], True)
           for c in carry if c != "text"]
        + ([T.StructField("text", T.StringType(), True)]
           if "text" in carry else [])
    )
    out_cols = [f.name for f in out_schema.fields]
    n_base = len(schema.MENTIONS.fields)

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = backend_factory()
        generate = _make_generate(backend, spec)
        for pdf in batches:
            pdf = pdf.sort_values(["url", "sent_id"], kind="mergesort")
            raws = generate(pdf["text"].tolist())
            carried = [pdf[c] for c in out_cols[n_base:]]
            rows: list[tuple] = []
            for url, sent_id, text, raw, *extra_vals in zip(
                    pdf["url"], pdf["sent_id"], pdf["text"], raws, *carried):
                tags = predict_tags(text, raw)
                # mention_id: the ordinal by begin offset within the
                # sentence — deterministic, and the reference's
                # answer-order semantics for first-wins dedup (E4)
                for mid, m in enumerate(
                        tags_to_mentions(text.lower().split(" "), tags)):
                    rows.append((url, int(sent_id), mid, m["surface"],
                                 m["begin"], m["end"], m["type"], None,
                                 *extra_vals))
            yield pd.DataFrame(rows, columns=out_cols)

    return df.mapInPandas(fused, schema=out_schema)
