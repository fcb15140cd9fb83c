"""Memoized parquet scan construction.

``spark.read.parquet(path)`` costs ~100 ms of driver work PER CALL
(file listing + footer schema inference + analysis round trips — r6
measurement), and the registry queries rebuild their scans on every
invocation, so a bench run pays it hundreds of times for the same
immutable files. The memo returns the SAME analyzed DataFrame object
for the same (application, path): a DataFrame is an immutable lazy
plan, so this reuses plan METADATA only — every action still reads
and computes from the parquet files (no results, rows or blocks are
cached anywhere).

Keyed by applicationId so a stopped/restarted session never sees a
stale plan, and stamped with the path's ``mtime_ns`` and size (for a
directory: the newest mtime and the total size of the files under
it), so a file rewritten in place gets a fresh scan instead of a plan
over the old file listing. A path that cannot be stat'ed locally (a
remote URI) is read fresh on every call.

This is the library's only DataFrame memo. A bare scan has no shuffle
stage, so handing out the same object again cannot replay results that
AQE materialized for an earlier action; a memoized query frame would
(see the cache-hygiene note in plans/queries.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_SCAN_CACHE: dict[tuple[str, str], tuple[tuple[int, int], DataFrame]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    """(newest mtime_ns, total bytes) of a file or directory tree."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isdir(path):
        return st.st_mtime_ns, st.st_size
    newest, total = st.st_mtime_ns, 0
    for root, _, files in os.walk(path):
        for name in files:
            f = os.stat(os.path.join(root, name))
            newest, total = max(newest, f.st_mtime_ns), total + f.st_size
    return newest, total


def cached_parquet(spark: SparkSession, path: str) -> DataFrame:
    stamp = _stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, path)
    hit = _SCAN_CACHE.get(key)
    if hit is None or hit[0] != stamp:
        hit = (stamp, spark.read.parquet(path))
        _SCAN_CACHE[key] = hit
    return hit[1]


__all__ = ["cached_parquet"]
