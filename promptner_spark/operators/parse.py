"""Answer parsing + span alignment + mention materialization
(operators A1-A4, P1, SP1-SP2, E4 — SURVEY.md §2.5-2.6).

:func:`predict_tags` runs the vendored oracle chain for one row:
``parse_exemplar_answers`` (`utils.py:107-153` semantics) →
``clean_answers`` typed mode (`algorithms.py:37-63`) → ``align_spans``
(`algorithms.py:72-131`). The fused extractor
(operators/infer.py::extract_mentions) calls it per row inside its
``mapInPandas`` pass. Per-row PURE — output cannot depend on
partitioning or batch composition, which is what makes the pipeline
deterministic across cluster sizes (north_rule) and lets the golden
replay tests assert byte-identical tags.

Mentions are then exploded from the tag sequence into the keyed
mention table (oracle/spans.py::tags_to_mentions, fixing the
reference's surface-keyed dict collision, `data.py:38`);
``_mentions_udf`` is the same explode as a pandas UDF over gold tags
(plans/evaluate_gold.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..oracle.align import align_spans
from ..oracle.clean import clean_answers
from ..oracle.parsing import parse_exemplar_answers
from ..oracle.spans import tags_to_mentions
from .model import RetryingBackend

_FAIL = RetryingBackend.FAIL_PREFIX


def predict_tags(text: str, raw_output: str) -> list[str]:
    """The full parse→clean→align chain for one row (driver-callable
    for tests; the fused extractor's per-row body). Failure sentinels
    → all-O tags."""
    tokens = text.split(" ")
    if raw_output.startswith(_FAIL):
        return ["O"] * len(tokens)
    surfaces, typestrings = parse_exemplar_answers(
        raw_output, true_only=True, identify_types=True)
    surfaces, typestrings = clean_answers(list(surfaces), list(typestrings))
    try:
        return align_spans(text, surfaces, typestrings)
    except (IndexError, ValueError):
        # reference swallows per-row failures (`run.py:43-44`); we map
        # them to all-O so the row is visible downstream, not dropped
        return ["O"] * len(tokens)


_MENTION_ARR = T.ArrayType(T.StructType([
    T.StructField("begin", T.IntegerType()),
    T.StructField("end", T.IntegerType()),
    T.StructField("surface", T.StringType()),
    T.StructField("type", T.StringType()),
]))


@F.pandas_udf(_MENTION_ARR)
def _mentions_udf(text: pd.Series, tags: pd.Series) -> pd.Series:
    return pd.Series([
        tags_to_mentions(t.lower().split(" "), list(tg))
        for t, tg in zip(text, tags)
    ])


def split_phrases(mentions: DataFrame) -> DataFrame:
    """P3 (`algorithms.py:158-175`): explode multi-word mention
    surfaces into single-word mentions (off in every reference eval,
    `run.py:76,94,112,130,154,177`). begin/end recompute per word;
    mention_id renumbers by (begin, word ordinal) to stay
    deterministic."""
    words = F.posexplode(F.split(F.col("surface"), " "))
    exploded = mentions.select(
        "url", "sent_id", "begin", "type", "raw_output",
        words.alias("w_idx", "word"),
    ).where(F.length("word") > 0)
    out = exploded.select(
        "url", "sent_id",
        (F.col("begin") + F.col("w_idx")).alias("begin"),
        F.col("word").alias("surface"),
        "type", "raw_output",
    ).withColumn("end", F.col("begin") + 1)
    w = Window.partitionBy("url", "sent_id").orderBy("begin")
    return out.withColumn(
        "mention_id", (F.row_number().over(w) - 1).cast("int")
    ).select("url", "sent_id", "mention_id", "surface",
             "begin", "end", "type", "raw_output")
