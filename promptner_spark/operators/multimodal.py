"""Multimodal (opaque-binary) column operators **[NORTH-adjacent]**.

A large-scale training-data pipeline carries image/audio/video payloads
as opaque ``BINARY`` columns with typed metadata, processed by
Arrow-batched pandas UDFs (`mapInPandas`). This module provides that
plumbing end-to-end — schema, deterministic synthesis, metadata
extraction, frame sampling, feature extraction — with the *codec* step
isolated behind an import-try so a real decoder (PIL / torchaudio /
pyav) drops in without touching the Spark plan. This container ships
no media libraries, so the codec falls back to a deterministic fake
(documented per function); everything around it — batch shapes,
schemas, partitioning, explode semantics — is real and tested.

Scale notes:
- metadata extraction is pure JVM expressions (octet_length / substring
  / md5) — stays inside whole-stage codegen, no Python;
- frame sampling explodes bounded chunks (ceil(n_bytes/frame_bytes)) —
  fanout is size-proportional, never quadratic;
- feature extraction is an iterator pandas UDF: decoder state is built
  once per task, frames stream through Arrow batches.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

FRAME_BYTES = 256          # synthetic "frame" granularity
N_FEATURE_BINS = 16        # byte-histogram feature width

MEDIA_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("media_type", T.StringType(), False),
    T.StructField("blob", T.BinaryType(), False),
    T.StructField("meta_width", T.IntegerType(), True),
    T.StructField("meta_duration_s", T.DoubleType(), True),
])

_TYPES = ("image", "audio", "video")


def synthesize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table from documents.parquet: the blob is
    the UTF-8 encoding of the document text (stands in for real bytes;
    the pipeline treats it as opaque), media_type cycles by doc_id,
    metadata derives from doc_id. Mirrors the pages synthesis pattern
    (sources/pages.py) so the DuckDB oracle can rebuild it exactly."""
    from ..scans import cached_parquet
    docs = cached_parquet(spark, f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit("media://"), F.col("doc_id").cast("string")).alias("url"),
        F.element_at(
            F.array(*[F.lit(t) for t in _TYPES]),
            (F.col("doc_id") % 3 + 1).cast("int")).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("blob"),
        (F.col("doc_id") % 1920 + 1).cast("int").alias("meta_width"),
        (F.col("doc_id") % 300 / 10.0).alias("meta_duration_s"),
    )


DUCKDB_MEDIA_CTE = (
    "media AS (SELECT concat('media://', CAST(doc_id AS VARCHAR)) AS url, "
    "(['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type, "
    "text AS blob_text, "
    "CAST(doc_id % 1920 + 1 AS INTEGER) AS meta_width, "
    "doc_id % 300 / 10.0 AS meta_duration_s FROM documents)"
)


def media_metadata(media: DataFrame) -> DataFrame:
    """Typed metadata from the opaque blob — pure JVM expressions, no
    Python: byte length, magic prefix (first 4 bytes, hex), content
    digest. At 100 TB this is the cheap triage pass that runs before
    any decode."""
    return media.select(
        "url", "media_type", "meta_width", "meta_duration_s",
        F.octet_length("blob").alias("n_bytes"),
        F.hex(F.substring(F.col("blob"), 1, 4)).alias("magic_hex"),
        F.md5("blob").alias("content_md5"),
    )


def sample_frames(media: DataFrame, frame_bytes: int = FRAME_BYTES) -> DataFrame:
    """Frame/window sampling: the blob splits into fixed-size chunks
    (stand-in for video frame extraction / audio windowing), exploded
    to one row per frame with a per-frame digest. Pure expressions —
    ``substring`` on binary is zero-copy in Tungsten."""
    n_frames = F.ceil(F.octet_length("blob") / F.lit(frame_bytes)).cast("int")
    media = media.where(F.octet_length("blob") > 0)
    return media.select(
        "url", "media_type",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), n_frames - 1),
            lambda i: F.substring(F.col("blob"),
                                  (i * frame_bytes + 1).cast("int"),
                                  frame_bytes),
        )).alias("frame_id", "frame"),
    ).select(
        "url", "media_type", "frame_id",
        F.octet_length("frame").alias("frame_bytes"),
        F.md5("frame").alias("frame_md5"),
    )


def _decode_real(blob: bytes, media_type: str):
    """The real-codec hook. Swap in PIL/torchaudio/pyav here; the
    sandbox has none of them, so callers fall back to the deterministic
    fake below. Kept as a separate function so the import-try is the
    ONLY difference between sandbox and production."""
    if media_type == "image":
        from PIL import Image  # noqa: F401 — not available in sandbox
        raise NotImplementedError("real image decode: wire PIL here")
    raise NotImplementedError(f"real decode for {media_type}")


def _byte_histogram(blob: bytes, bins: int = N_FEATURE_BINS) -> list[float]:
    """Deterministic fake feature vector: normalized histogram of byte
    values folded into ``bins`` buckets. Stands in for an embedding so
    downstream similarity/dedup operators exercise real shapes."""
    counts = [0] * bins
    for b in blob:
        counts[b * bins // 256] += 1
    n = max(len(blob), 1)
    return [c / n for c in counts]


def extract_features(media: DataFrame,
                     bins: int = N_FEATURE_BINS) -> DataFrame:
    """Decode → feature-extract as an iterator pandas UDF over
    ``mapInPandas``: per-task decoder init, Arrow-batched blobs in,
    fixed-width ``array<float>`` feature vectors out. Falls back to the
    deterministic byte-histogram when no codec library is importable."""
    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), False),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:  # real codec, once per task
            import PIL  # noqa: F401
            decode = _decode_real
        except ImportError:
            decode = None
        for pdf in batches:
            feats = []
            for blob, mt in zip(pdf["blob"], pdf["media_type"]):
                raw = bytes(blob)
                if decode is not None:
                    try:
                        feats.append(decode(raw, mt))
                        continue
                    except NotImplementedError:
                        pass
                feats.append(_byte_histogram(raw, bins))
            yield pd.DataFrame({
                "url": pdf["url"].values,
                "media_type": pdf["media_type"].values,
                "features": feats,
            })

    return media.select("url", "media_type", "blob").mapInPandas(run, schema)
