"""Interactive one-off helpers — parity with the reference's ``Quick``
class (`main.py:9-73`): poke a single paragraph or a single gold row
without building a pipeline. Driver-side sugar over the same per-row
chain the cluster path runs; anything bigger than a couple of rows
belongs in plans/pipeline.py or plans/evaluate_gold.py.
"""

from __future__ import annotations

from typing import Callable

from .custom import get_tagging_system
from .functions.prompts import PromptSpec
from .operators.model import Backend


class Quick:
    @staticmethod
    def example_span(para: str, spec: PromptSpec | None = None,
                     backend_factory: Callable[[], Backend] | None = None,
                     ) -> list[str]:
        """One paragraph → IOB2 span tags (`main.py:11-17`
        ``example_span``: set_para → set_config → perform_span)."""
        return get_tagging_system(spec=spec,
                                  backend_factory=backend_factory)(para)

    @staticmethod
    def dataset(i: int, gold_df, spec: PromptSpec | None = None,
                backend_factory: Callable[[], Backend] | None = None,
                verbose: bool = True) -> str:
        """Annotate row ``i`` of a gold DataFrame/table (`main.py:19-32`
        ``dataset``: fetch row → generate_annotations). Accepts a Spark
        DataFrame with (text, true_tokens|text-split, exact_types) or
        any row-indexable pandas-like."""
        from .operators.annotate import generate_annotations
        from .operators.model import default_backend_factory

        if hasattr(gold_df, "limit"):   # Spark DataFrame: tiny driver fetch
            row = gold_df.limit(i + 1).tail(1)[0].asDict()
        else:
            row = dict(gold_df.loc[i])
        para = row["text"]
        tokens = row.get("true_tokens") or para.split(" ")
        if verbose:
            print(f"Paragraph: {para}")
        backend = (backend_factory or default_backend_factory)()
        annotation = generate_annotations(
            para, list(tokens), list(row["exact_types"]), backend,
            defn=(spec or PromptSpec()).defn)
        if verbose:
            print(annotation)
        return annotation

    @staticmethod
    def analyze(exact_types: list[str], pred_tags: list[str],
                verbose: bool = True) -> float:
        """Single-sentence span F1 (`main.py:35-41` ``analyze``), via
        the same strict run-merge the engine's E2 operator uses."""
        from .oracle.spans import tags_to_mentions

        toks = [""] * len(exact_types)
        gold = {(m["begin"], m["end"], m["type"])
                for m in tags_to_mentions(toks, list(exact_types))}
        pred = {(m["begin"], m["end"], m["type"])
                for m in tags_to_mentions(toks, list(pred_tags))}
        tp = len(gold & pred)
        denom = len(gold) + len(pred)
        f1 = 2.0 * tp / denom if denom else 1.0
        if verbose:
            print(f"F1: {f1}")
        return f1

    @staticmethod
    def genia(i: int, path: str, **kwargs) -> str:
        """`main.py:44-46`: row ``i`` of a Genia-style IOB2 file at
        ``path``, loaded through the S1 IOB2 reader (needs an active
        SparkSession)."""
        from pyspark.sql import SparkSession

        from .sources.iob2_io import read_iob2

        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        gold = read_iob2(spark, path)
        return Quick.dataset(i, gold, **kwargs)
