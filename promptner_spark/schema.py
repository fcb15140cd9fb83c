"""Engine schemas (SURVEY.md §1.3).

The reference keeps schema "fixed by convention, never declared"
(pandas object columns, `data.py:87`); here every inter-stage table has
an explicit StructType so Catalyst can prune columns and the checkpoint
/ resume contract is stable across stages.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- corpus
# BASELINE.json:input_hint — Iceberg table of Common-Crawl-style pages.
PAGES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

# ------------------------------------------------- reference sentence table
# Mirrors `data.py:87` + the TweetNER 5th column (`data.py:109`).
SENTENCES = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("entities", T.ArrayType(T.StringType()), True),
    T.StructField("types", T.MapType(T.StringType(), T.StringType()), True),
    T.StructField("exact_types", T.ArrayType(T.StringType()), True),
    T.StructField("true_tokens", T.ArrayType(T.StringType()), True),
])

# ------------------------------------------------------------- mention table
# Keys on (url, sent_id, begin, end) — fixes the reference's
# surface-keyed dict collision (`data.py:38`, SURVEY.md §1.1).
MENTIONS = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("sent_id", T.IntegerType(), False),
    T.StructField("mention_id", T.IntegerType(), False),
    T.StructField("surface", T.StringType(), False),
    T.StructField("begin", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
    T.StructField("type", T.StringType(), True),
    T.StructField("raw_output", T.StringType(), True),
])

# -------------------------------------------------------------- graph tables
ALIASES = T.StructType([
    T.StructField("alias_norm", T.StringType(), False),
    T.StructField("entity_id", T.LongType(), False),
    T.StructField("canonical_name", T.StringType(), False),
    T.StructField("prior", T.DoubleType(), True),
])

NODES = T.StructType([
    T.StructField("entity_id", T.LongType(), False),
    T.StructField("canonical_name", T.StringType(), False),
    T.StructField("type", T.StringType(), True),
    T.StructField("n_mentions", T.LongType(), True),
])

TRIPLES = T.StructType([
    T.StructField("subj", T.StringType(), False),
    T.StructField("pred", T.StringType(), False),
    T.StructField("obj", T.StringType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("sent_id", T.IntegerType(), False),
])

# ------------------------------------------------------- lineage manifest
# One row per (stage, partition); powers resume-from-checkpoint
# (north_rule) via anti-join on completed partitions.
MANIFEST = T.StructType([
    T.StructField("stage", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("input_rows", T.LongType(), False),
    T.StructField("output_rows", T.LongType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("wall_ms", T.LongType(), False),
])
