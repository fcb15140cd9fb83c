"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of the seed: one ``random.Random``
per table, no Spark, no clock. Documents follow the layout the library
reads (``documents.parquet``: doc_id, text, lang, source, n_chars) and
the same shape as the synthetic corpus the registry was written
against: 10-100 tokens drawn uniformly from a 30-word vocabulary that
contains every gazetteer surface, with an English-heavy language mix.

Each builder returns the properties it measured on what it wrote, so a
run records what its input was, not what it was meant to be.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
MIN_TOKENS, MAX_TOKENS = 10, 100

_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                     ("lang", pa.string()), ("source", pa.string()),
                     ("n_chars", pa.int64())])


def _doc_text(rng: random.Random) -> str:
    n = rng.randint(MIN_TOKENS, MAX_TOKENS)
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def _write(path: str, ids: list[int], texts: list[str],
           langs: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "doc_id": ids, "text": texts, "lang": langs,
        "source": [f"src{i % 5}" for i in ids],
        "n_chars": [len(t) for t in texts],
    }, schema=_SCHEMA)
    pq.write_table(table, os.path.join(path, "documents.parquet"))


def _surfaces() -> tuple[set[str], list[list[str]]]:
    from promptner_spark.operators.gazetteer import GAZETTEER
    single = {s for s in GAZETTEER if " " not in s}
    multi = [s.split(" ") for s in GAZETTEER if " " in s]
    return single, multi


def _doc_surfaces(text: str, single: set[str],
                  multi: list[list[str]]) -> set[str]:
    toks = text.split(" ")
    found = {t for t in toks if t in single}
    for parts in multi:
        w = len(parts)
        if any(toks[i:i + w] == parts for i in range(len(toks) - w + 1)):
            found.add(" ".join(parts))
    return found


def corpus_props(texts: list[str], langs: list[str],
                 vocab_scale: int = 1) -> dict:
    """Measured properties of a generated corpus. ``mentions_per_doc``
    counts the distinct gazetteer surfaces per document, which is what
    the deterministic backend proposes; ``distinct_surfaces`` is the
    corpus surface vocabulary, times ``vocab_scale`` when the pipeline
    suffixes every replica's surfaces."""
    single, multi = _surfaces()
    per_doc = [_doc_surfaces(t, single, multi) for t in texts]
    vocab: set[str] = set().union(*per_doc) if per_doc else set()
    n = len(texts)
    seen: set[str] = set()
    exact = 0
    for t in texts:
        exact += t in seen
        seen.add(t)
    return {
        "docs": n,
        "exact_dup_share": round(exact / n, 4),
        "lang_mix": {g: round(langs.count(g) / n, 4) for g in LANGS},
        "mentions_per_doc": round(sum(map(len, per_doc)) / n, 3),
        "distinct_surfaces": len(vocab) * vocab_scale,
        "tokens_per_doc": round(sum(len(t.split(" ")) for t in texts) / n, 2),
    }


def base_corpus(seed: int, n: int, path: str, vocab_scale: int = 1,
                first_id: int = 0, stream: str = "base") -> dict:
    """``n`` fresh documents with doc ids ``first_id`` onwards, drawn
    from the random stream named ``stream``."""
    rng = random.Random(f"{stream}-{seed}")
    texts = [_doc_text(rng) for _ in range(n)]
    langs = rng.choices(LANGS, LANG_WEIGHTS, k=n)
    _write(path, list(range(first_id, first_id + n)), texts, langs)
    return corpus_props(texts, langs, vocab_scale)


def prep_corpus(seed: int, n: int, path: str,
                exact_share: float = 0.10,
                near_share: float = 0.10) -> dict:
    """The prep-funnel corpus: ``exact_share`` verbatim copies of
    earlier documents, ``near_share`` copies with one token replaced,
    and the rest recombined from the first half of one parent and the
    second half of another parent of the same language."""
    rng = random.Random(f"prep-{seed}")
    n_parents = max(n // 10, 50)
    parents = [_doc_text(rng) for _ in range(n_parents)]
    parent_lang = rng.choices(LANGS, LANG_WEIGHTS, k=n_parents)
    by_lang: dict[str, list[int]] = {}
    for i, g in enumerate(parent_lang):
        by_lang.setdefault(g, []).append(i)
    texts: list[str] = []
    langs: list[str] = []
    kinds = {"exact": 0, "near": 0, "recombined": 0}
    for i in range(n):
        r = rng.random()
        if texts and r < exact_share:
            j = rng.randrange(len(texts))
            text, lang, kind = texts[j], langs[j], "exact"
        elif texts and r < exact_share + near_share:
            j = rng.randrange(len(texts))
            toks = texts[j].split(" ")
            k = rng.randrange(len(toks))
            toks[k] = rng.choice([w for w in VOCAB if w != toks[k]])
            text, lang, kind = " ".join(toks), langs[j], "near"
        else:
            lang = rng.choices(LANGS, LANG_WEIGHTS)[0]
            pool = by_lang.get(lang) or list(range(n_parents))
            a = parents[rng.choice(pool)].split(" ")
            b = parents[rng.choice(pool)].split(" ")
            text = " ".join(a[:len(a) // 2] + b[len(b) // 2:])
            kind = "recombined"
        texts.append(text)
        langs.append(lang)
        kinds[kind] += 1
    _write(path, list(range(n)), texts, langs)
    props = corpus_props(texts, langs)
    props["near_dup_share"] = round(kinds["near"] / n, 4)
    props["generated_as"] = kinds
    return props
