"""Incremental KG maintenance: keep the aggregated triple table
current as crawl drops arrive, without re-aggregating history.

Pattern: ``foreachBatch`` — each micro-batch runs the UNCHANGED batch
pipeline tail (fused extraction → linking → canonicalization → triple
emission → counts) on just the new pages, then MERGEs the batch counts
into the cumulative store by key-wise addition. This is the standard
production shape for "streaming into a warehouse table": the stateful
part is the store itself, not executor state, so nothing here grows
executor memory and a crashed query resumes from the sink + source
checkpoint.

Counts merge additively because both metrics are per-(url, sent_id)
facts: ``n_sents`` sums, and ``n_docs`` sums AS LONG AS a url never
spans micro-batches — pages stream whole, so every sentence (and
therefore every (triple, url) contribution) of a url lands in one
batch. That invariant is asserted in the test by replaying the same
corpus in 1 drop vs 2 drops and comparing byte-for-byte.

Store layout (r4 — versioned buckets + pointer file; replaces the r3
whole-table rmtree/rename swap, which had a crash window with NO
store present and rewrote every row every micro-batch):

    <store>/CURRENT              atomic pointer (JSON): bucket→dir map,
                                 n_buckets, last applied batch_id
    <store>/data/b<k>_v<n>/      one bucket's rows at one version
                                 (plain parquet, immutable once named)

- **Crash-safe**: a merge writes NEW bucket dirs, then promotes them
  with ONE ``os.replace`` of the pointer file. A crash anywhere
  before that leaves the previous pointer + its dirs fully intact
  (orphaned staging/new dirs are swept on the next merge); there is
  never a moment without a readable store.
- **Idempotent** (at-least-once foreachBatch): the pointer records
  the last applied ``batch_id``; a replayed batch (restart between
  merge and the streaming checkpoint commit) is skipped instead of
  double-counted. Single-writer discipline, same as the streaming
  checkpoint itself.
- **Bucket-wise**: rows are bucketed on ``pmod(xxhash64(subj), B)``
  — the same subject-hash bucketing plans/pipeline.py uses for the
  triples stage — and a merge rewrites ONLY the buckets the batch
  touches: untouched buckets keep their exact files (byte-identical,
  asserted in tests). At 10⁴+ buckets a small crawl drop rewrites a
  few files, not the corpus-wide edge table.

With an Iceberg catalog the merge becomes a MERGE INTO on the triples
table (plans/checkpoint.py::write_stage_iceberg gate) and Iceberg's
snapshot commit subsumes the pointer file.

Snapshots (r4): every merge additionally records its pointer as
``<store>/snapshots/v<n>.json`` — Iceberg's snapshot/metadata model
on the parquet stand-in. Because bucket dirs are immutable and a
merge re-versions ONLY touched buckets, consecutive snapshots share
the untouched buckets' files (structural sharing — retention costs
O(touched), not O(store)). That gives, exactly as on an Iceberg
table:

- **time travel**: ``read_store(spark, store, version=n)``;
- **incremental reads**: ``snapshot_diff`` prunes to buckets whose
  version CHANGED between two snapshots, so a downstream consumer of
  a 10⁴-bucket edge table reads a few files per crawl drop, never
  the corpus-wide table;
- **retention**: ``expire_snapshots(store, keep_last=k)`` deletes old
  snapshot files and sweeps bucket dirs no retained snapshot
  references (Iceberg's expire_snapshots).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

COUNT_COLS = ("n_sents", "n_docs")
KEY_COLS = ("subj", "pred", "obj")
N_BUCKETS = 16
_POINTER = "CURRENT"


def batch_triple_counts(pages_batch: DataFrame) -> DataFrame:
    """The batch pipeline tail on one micro-batch of pages: the
    flagship stage graph (plans/pipeline.py) with the in-memory
    boundary. The counts are checkpointed, then every block the build
    persisted (mentions, linking's two) is freed, drop after drop."""
    from ..plans.pipeline import _InMemory, _chain

    res = _chain(pages_batch.sparkSession, lambda: pages_batch,
                 _InMemory(pages_batch.sparkSession))
    counts = res.triple_counts.localCheckpoint(eager=True)
    res.unpersist()
    return counts


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("subj"), F.lit(n_buckets)).cast("int")


def _pointer_path(store_dir: str) -> str:
    return os.path.join(store_dir, _POINTER)


def _load_pointer(store_dir: str) -> dict | None:
    try:
        with open(_pointer_path(store_dir)) as fh:
            return json.load(fh)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def _write_pointer(store_dir: str, ptr: dict) -> None:
    """Atomic publish: the os.replace of this one file IS the commit."""
    tmp = _pointer_path(store_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(ptr, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _pointer_path(store_dir))


def _acquire_writer_lock(store_dir: str):
    """Exclusive non-blocking flock on <store>/LOCK for the span of
    one merge: the pointer protocol assumes single-writer, and before
    r5 a double-started maintenance query would silently interleave
    (last-writer-wins pointer, possibly dropping the other writer's
    buckets). With the lock, the second writer fails LOUDLY instead.
    Returns the held file object (caller closes to release), or None
    where flock doesn't exist (non-POSIX) — there the CAS version
    check at publish time is the remaining guard."""
    try:
        import fcntl
    except ImportError:   # non-POSIX: fall back to the publish CAS
        return None
    fh = open(os.path.join(store_dir, "LOCK"), "w")
    try:
        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        fh.close()
        raise RuntimeError(
            f"another merge_counts holds the writer lock on "
            f"{store_dir}: the versioned-bucket store is "
            "single-writer (one maintenance query per store); a "
            "second concurrent merge would race the pointer commit")
    return fh


def _snapshots_dir(store_dir: str) -> str:
    return os.path.join(store_dir, "snapshots")


def _snapshot_path(store_dir: str, version: int) -> str:
    return os.path.join(_snapshots_dir(store_dir), f"v{version}.json")


def _load_snapshot(store_dir: str, version: int) -> dict | None:
    try:
        with open(_snapshot_path(store_dir, version)) as fh:
            return json.load(fh)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def _retained_snapshots(store_dir: str) -> list[int]:
    """Versions with a snapshot file on disk, ascending."""
    try:
        names = os.listdir(_snapshots_dir(store_dir))
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.startswith("v") and n.endswith(".json"):
            try:
                out.append(int(n[1:-5]))
            except ValueError:
                pass
    return sorted(out)


def _sweep_orphans(store_dir: str, ptr: dict | None) -> None:
    """Remove staging leftovers + data dirs neither the pointer nor
    any RETAINED COMMITTED snapshot references — debris from a crash
    between dir-promotion and pointer publish, or buckets released by
    expire_snapshots. A snapshot file NEWER than the committed pointer
    is itself crash debris (written just before a commit that never
    happened) and is deleted, so it cannot pin orphan dirs or block
    the re-merge's dir promotion. Best-effort; referenced dirs are
    never touched."""
    committed_v = (ptr or {}).get("version", 0)
    live = set((ptr or {}).get("buckets", {}).values())
    for v in _retained_snapshots(store_dir):
        if v > committed_v:   # uncommitted leftover
            try:
                os.remove(_snapshot_path(store_dir, v))
            except FileNotFoundError:
                pass
            continue
        snap = _load_snapshot(store_dir, v)
        if snap:
            live.update(snap.get("buckets", {}).values())
    data = os.path.join(store_dir, "data")
    if os.path.isdir(data):
        for name in os.listdir(data):
            rel = f"data/{name}"
            if rel not in live:
                shutil.rmtree(os.path.join(data, name), ignore_errors=True)
    for name in os.listdir(store_dir):
        if name.startswith(".staging_"):
            shutil.rmtree(os.path.join(store_dir, name), ignore_errors=True)


def read_store(spark: SparkSession, store_dir: str,
               version: int | None = None) -> DataFrame | None:
    """Cumulative counts (subj, pred, obj, n_sents, n_docs) as of the
    CURRENT commit, or — time travel — as of snapshot ``version``.
    None when that version was never published; ValueError when it
    existed but has been expired (the Iceberg contract: expired
    snapshots are gone, not silently remapped)."""
    if version is None:
        ptr = _load_pointer(store_dir)
    else:
        ptr = _load_snapshot(store_dir, version)
        if ptr is None:
            cur = _load_pointer(store_dir)
            if cur is not None and version <= cur.get("version", 0):
                raise ValueError(
                    f"snapshot v{version} has been expired "
                    f"(retained: {_retained_snapshots(store_dir)})")
            return None
    if not ptr or not ptr["buckets"]:
        return None
    paths = [os.path.join(store_dir, rel) for rel in ptr["buckets"].values()]
    return spark.read.parquet(*paths)


def snapshot_diff(spark: SparkSession, store_dir: str,
                  v_old: int, v_new: int) -> DataFrame:
    """Incremental read between two retained snapshots: per-triple
    count deltas (subj, pred, obj, d_sents, d_docs), rows only where
    something changed.

    Bucket-pruned: because a merge re-versions only touched buckets,
    any triple whose counts changed lives in a bucket whose dir name
    DIFFERS between the snapshots — only those buckets are read, on
    both sides. A downstream consumer of a 10⁴-bucket store therefore
    pays O(crawl drop), not O(edge table), per sync — the parquet
    stand-in for Iceberg's incremental snapshot scan."""
    old = _load_snapshot(store_dir, v_old)
    new = _load_snapshot(store_dir, v_new)
    for v, p in ((v_old, old), (v_new, new)):
        if p is None:
            raise ValueError(
                f"snapshot v{v} not retained "
                f"(retained: {_retained_snapshots(store_dir)})")
    ob, nb = old["buckets"], new["buckets"]
    changed = [k for k in set(ob) | set(nb) if ob.get(k) != nb.get(k)]

    def side(ptr_buckets: dict, alias: str) -> DataFrame | None:
        paths = [os.path.join(store_dir, ptr_buckets[k])
                 for k in changed if k in ptr_buckets]
        if not paths:
            return None
        df = spark.read.parquet(*paths)
        return df.select(
            *KEY_COLS, *[F.col(c).alias(f"{alias}_{c}") for c in COUNT_COLS])

    o, n = side(ob, "o"), side(nb, "n")
    if o is None and n is None:
        empty = spark.createDataFrame(
            [], "subj string, pred string, obj string, "
                "d_sents long, d_docs long")
        return empty
    if o is None:
        joined = n
        for c in COUNT_COLS:
            joined = joined.withColumn(f"o_{c}", F.lit(None).cast("long"))
    elif n is None:
        joined = o
        for c in COUNT_COLS:
            joined = joined.withColumn(f"n_{c}", F.lit(None).cast("long"))
    else:
        joined = o.join(n, list(KEY_COLS), "full_outer")
    deltas = {c: "d_" + c.split("_", 1)[1] for c in COUNT_COLS}
    out = joined.select(
        *KEY_COLS,
        *[(F.coalesce(F.col(f"n_{c}"), F.lit(0))
           - F.coalesce(F.col(f"o_{c}"), F.lit(0))).alias(d)
          for c, d in deltas.items()],
    )
    cond = None
    for d in deltas.values():
        nz = F.col(d) != 0
        cond = nz if cond is None else (cond | nz)
    return out.where(cond)


def expire_snapshots(store_dir: str, keep_last: int = 1) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshot files (the
    snapshot CURRENT points at is always kept), then sweep bucket
    dirs no retained snapshot references. Returns expired versions —
    Iceberg's expire_snapshots on the stand-in layout."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    ptr = _load_pointer(store_dir)
    current_v = (ptr or {}).get("version")
    retained = _retained_snapshots(store_dir)
    keep = set(retained[-keep_last:])
    if current_v is not None:
        keep.add(current_v)
    expired = [v for v in retained if v not in keep]
    for v in expired:
        try:
            os.remove(_snapshot_path(store_dir, v))
        except FileNotFoundError:
            pass
    _sweep_orphans(store_dir, ptr)
    return expired


def merge_counts(store_dir: str, batch_counts: DataFrame,
                 batch_id: int | None = None,
                 n_buckets: int = N_BUCKETS,
                 lineage: str | None = None) -> bool:
    """Key-wise additive merge of one batch into the versioned bucket
    store. Returns False (no-op) when ``batch_id`` was already
    applied — the at-least-once replay guard. Only buckets the batch
    touches are rewritten; the commit is one pointer-file replace.

    ``lineage`` binds the store to ONE streaming-checkpoint lineage:
    batch ids are only monotone within a single checkpoint, so a
    stream restarted against this store with a FRESH checkpoint
    (batch ids restart at 0) would otherwise have every batch
    silently skipped by the high-water mark — silent data loss, not
    an error (r4 ADVICE). With a lineage recorded, a mismatching
    caller raises instead. The first merge that supplies a lineage
    adopts it (upgrade path for pre-r5 stores).

    Single-writer is ENFORCED, not just documented: an flock held for
    the merge's span makes a concurrently started second merge raise
    (see _acquire_writer_lock), and the publish re-checks the
    committed version under the pointer replace (CAS) as the
    defense-in-depth for filesystems without advisory locks."""
    os.makedirs(store_dir, exist_ok=True)
    lock = _acquire_writer_lock(store_dir)
    try:
        return _merge_counts_locked(
            store_dir, batch_counts, batch_id, n_buckets, lineage)
    finally:
        if lock is not None:
            lock.close()


def _merge_counts_locked(store_dir: str, batch_counts: DataFrame,
                         batch_id: int | None, n_buckets: int,
                         lineage: str | None) -> bool:
    spark = batch_counts.sparkSession
    ptr = _load_pointer(store_dir)
    if (ptr is not None and lineage is not None
            and ptr.get("lineage") not in (None, lineage)):
        raise RuntimeError(
            f"store {store_dir} is bound to checkpoint lineage "
            f"{ptr['lineage']!r} but this merge came from "
            f"{lineage!r}: a restarted stream with a fresh "
            "checkpointLocation restarts batch ids at 0, so its "
            "batches would be silently skipped by the replay guard. "
            "Resume from the original checkpoint, or start a new "
            "store directory for the new stream.")
    if (batch_id is not None and ptr is not None
            and ptr.get("last_batch_id") is not None
            and batch_id <= ptr["last_batch_id"]):
        return False
    _sweep_orphans(store_dir, ptr)
    if ptr is not None:
        n_buckets = ptr["n_buckets"]   # layout is fixed at creation
    version = (ptr["version"] + 1) if ptr else 1

    batch = batch_counts.select(
        *KEY_COLS,
        *[F.col(c).cast("long").alias(c) for c in COUNT_COLS],
    ).withColumn("bucket", _bucket_col(n_buckets))
    touched = sorted(r["bucket"]
                     for r in batch.select("bucket").distinct().collect())
    if not touched:
        if ptr is not None and batch_id is not None:
            # no data change: bump last_batch_id in place, no new
            # version, no new snapshot (the live snapshot keeps its
            # original batch_id — only `buckets` matters to readers)
            ptr["last_batch_id"] = batch_id
            if lineage is not None:
                ptr["lineage"] = lineage
            _write_pointer(store_dir, ptr)
        elif ptr is None:
            empty_ptr = {"version": version, "n_buckets": n_buckets,
                         "buckets": {}, "last_batch_id": batch_id,
                         "lineage": lineage}
            os.makedirs(_snapshots_dir(store_dir), exist_ok=True)
            with open(_snapshot_path(store_dir, version), "w") as fh:
                json.dump(empty_ptr, fh)
            _write_pointer(store_dir, empty_ptr)
        return True

    buckets = dict((ptr or {}).get("buckets", {}))
    old_paths = [os.path.join(store_dir, buckets[str(k)])
                 for k in touched if str(k) in buckets]
    merged = batch
    if old_paths:
        old = spark.read.parquet(*old_paths).withColumn(
            "bucket", _bucket_col(n_buckets))
        merged = old.unionByName(batch)
    merged = merged.groupBy("bucket", *KEY_COLS).agg(
        *[F.sum(c).cast("long").alias(c) for c in COUNT_COLS])

    # one write job for ALL touched buckets, hive-partitioned by
    # bucket, then each partition dir is promoted to its immutable
    # versioned name; the bucket value is recomputed from subj on read
    staging = os.path.join(store_dir, f".staging_v{version}")
    merged.write.mode("overwrite").partitionBy("bucket").parquet(staging)
    os.makedirs(os.path.join(store_dir, "data"), exist_ok=True)
    for k in touched:
        src = os.path.join(staging, f"bucket={k}")
        rel = f"data/b{k}_v{version}"
        if os.path.isdir(src):   # all-zero bucket could vanish; keep map
            os.replace(src, os.path.join(store_dir, rel))
            buckets[str(k)] = rel
    shutil.rmtree(staging, ignore_errors=True)

    new_ptr = {
        "version": version,
        "n_buckets": n_buckets,
        "buckets": buckets,
        "last_batch_id": batch_id if batch_id is not None
        else (ptr or {}).get("last_batch_id"),
        "lineage": lineage if lineage is not None
        else (ptr or {}).get("lineage"),
    }
    # snapshot file BEFORE the commit: inert until CURRENT references
    # this version (a crash here leaves a harmless extra file the next
    # merge's version bump skips past; the data dirs it references are
    # exactly the committed pointer's + this batch's, both live)
    os.makedirs(_snapshots_dir(store_dir), exist_ok=True)
    with open(_snapshot_path(store_dir, version), "w") as fh:
        json.dump(new_ptr, fh)
    # CAS: the committed version must still be the one this merge was
    # based on. Under the flock this cannot fire; on a filesystem
    # without advisory locks it turns a silent last-writer-wins race
    # into a loud abort (the losing merge's staged dirs are swept as
    # orphans by the next merge).
    cur = _load_pointer(store_dir)
    if ((cur or {}).get("version", 0)) != (version - 1):
        raise RuntimeError(
            f"concurrent writer detected on {store_dir}: pointer "
            f"advanced to v{(cur or {}).get('version')} while this "
            f"merge (based on v{version - 1}) was staging; aborting "
            "without publishing")
    _write_pointer(store_dir, new_ptr)          # ← the atomic commit
    # versions of the touched buckets referenced by NO retained
    # snapshot are now unreferenced (with snapshots retained this
    # sweeps nothing until expire_snapshots runs)
    _sweep_orphans(store_dir, new_ptr)
    return True


def _checkpoint_lineage(checkpoint_dir: str) -> str:
    """Identity of the streaming-checkpoint lineage batch ids are
    monotone within: the persisted streaming QUERY id (stable across
    restarts from the same checkpoint, fresh for a new
    checkpointLocation — exactly the boundary at which batch ids
    restart). Falls back to the checkpoint path when the metadata
    file is not there yet (first micro-batch races are harmless: the
    path changes whenever the query id would)."""
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as fh:
            qid = json.load(fh).get("id")
        if qid:
            return f"qid:{qid}"
    except (OSError, json.JSONDecodeError, ValueError):
        pass
    import hashlib

    return "path:" + hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()).hexdigest()


def incremental_triple_counts(
    pages_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start the maintenance query: pages stream → per-batch pipeline
    tail → additive merge into ``store_dir``. Returns the streaming
    query handle (caller awaits/stops). The merge records each
    batch_id in the store pointer, so a batch replayed after a crash
    between merge and checkpoint commit is skipped, not re-added —
    and the store is BOUND to this checkpoint's query lineage, so
    pointing a fresh-checkpoint stream at an existing store fails
    loudly instead of silently skipping every restarted batch id."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_counts(store_dir, batch_triple_counts(batch_df),
                     batch_id=batch_id,
                     lineage=_checkpoint_lineage(checkpoint_dir))

    writer = pages_stream.writeStream.foreachBatch(step) \
        .option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ------------------------------------------------- Iceberg upgrade path
def _iceberg_merge_sql(table: str, source_view: str) -> str:
    """The key-wise additive MERGE INTO the parquet merge emulates —
    one statement, one Iceberg snapshot commit."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in KEY_COLS)
    sets = ", ".join(f"t.{c} = t.{c} + s.{c}" for c in COUNT_COLS)
    cols = ", ".join((*KEY_COLS, *COUNT_COLS))
    vals = ", ".join(f"s.{c}" for c in (*KEY_COLS, *COUNT_COLS))
    return (f"MERGE INTO {table} t USING {source_view} s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})")


def merge_counts_iceberg(batch_counts: DataFrame, table: str,
                         batch_id: int | None = None,
                         n_buckets: int = N_BUCKETS,
                         catalog: str = "spark_catalog") -> bool:
    """The catalog-gated upgrade of :func:`merge_counts`: on a real
    Iceberg catalog the versioned-bucket/pointer machinery above is
    subsumed by the table format itself — the MERGE INTO commit is the
    atomic snapshot publish, ``bucket(n, subj)`` partition transforms
    replace the hand-rolled bucket dirs, and Iceberg snapshots provide
    the time travel / incremental read / expiry that
    read_store(version=)/snapshot_diff/expire_snapshots emulate.

    Idempotency is SINGLE-COMMIT (r5, closing the r4 two-commit
    window): the batch id rides in the MERGE's OWN snapshot summary —
    ``spark.wap.id`` is set for the duration of the statement, which
    Iceberg stamps into the committed snapshot's summary as
    ``wap.id`` (the write-audit-publish mechanism; with
    ``write.wap.enabled`` unset the snapshot publishes normally and
    the id is pure metadata). The replay guard reads the high-water
    mark back from the ``<table>.snapshots`` metadata table, so a
    crash anywhere leaves batch-id and data either both committed or
    neither. The ``promptner.last_batch_id`` TBLPROPERTIES write is
    kept as a best-effort FALLBACK marker (readable without scanning
    snapshot summaries, e.g. by external monitors) — it is no longer
    what the guard trusts first, so its second-commit timing is
    harmless.

    Raises RuntimeError without an Iceberg catalog (same gate as
    plans/checkpoint.py::write_stage_iceberg); pytest pins the gate,
    the MERGE statement shape, and the wap-id summary recipe; the
    live path needs a cluster."""
    from ..plans.checkpoint import iceberg_available

    spark = batch_counts.sparkSession
    if not iceberg_available(spark, catalog):
        raise RuntimeError(
            f"no Iceberg catalog at spark.sql.catalog.{catalog}; "
            "use merge_counts (parquet stand-in) instead")
    if batch_id is not None and spark.catalog.tableExists(table):
        last = _iceberg_last_batch_id(spark, table)
        if last is not None and batch_id <= last:
            return False
    view = "__promptner_batch_counts"
    batch_counts.select(
        *KEY_COLS, *[F.col(c).cast("long").alias(c) for c in COUNT_COLS]
    ).createOrReplaceTempView(view)
    wap_conf = "spark.wap.id"
    if batch_id is not None:
        spark.conf.set(wap_conf, _wap_id(batch_id))
    try:
        if not spark.catalog.tableExists(table):
            cols = ", ".join((*KEY_COLS, *COUNT_COLS))
            spark.sql(
                f"CREATE TABLE {table} USING iceberg "
                f"PARTITIONED BY (bucket({n_buckets}, subj)) "
                f"AS SELECT {cols} FROM {view}")
        else:
            spark.sql(_iceberg_merge_sql(table, view))
    finally:
        if batch_id is not None:
            spark.conf.unset(wap_conf)
    if batch_id is not None:
        # fallback marker only — the guard above trusts the snapshot
        # summary, which committed atomically with the data
        spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES "
                  f"('promptner.last_batch_id' = '{batch_id}')")
    return True


_WAP_PREFIX = "promptner-batch-"


def _wap_id(batch_id: int) -> str:
    return f"{_WAP_PREFIX}{batch_id}"


_SNAPSHOT_WAP_SQL = "SELECT summary['wap.id'] AS wap FROM {table}.snapshots"


def _max_wap_batch_id(waps) -> int | None:
    """Max batch id among snapshot-summary wap.id values this module
    wrote; foreign/absent wap ids are ignored."""
    ids = []
    for wap in waps:
        if wap and wap.startswith(_WAP_PREFIX):
            try:
                ids.append(int(wap[len(_WAP_PREFIX):]))
            except ValueError:
                pass
    return max(ids) if ids else None


def _iceberg_last_batch_id(spark: SparkSession, table: str) -> int | None:
    """High-water batch id from the table's OWN snapshot summaries
    (``wap.id`` entries this module wrote), falling back to the
    ``promptner.last_batch_id`` table property for stores written by
    pre-r5 code. Max over all retained snapshots rather than just the
    current one: a compaction or other writer may have committed
    snapshots after the last merge."""
    rows = spark.sql(_SNAPSHOT_WAP_SQL.format(table=table)).collect()
    last = _max_wap_batch_id(r["wap"] for r in rows)
    if last is not None:
        return last
    props = {r["key"]: r["value"] for r in
             spark.sql(f"SHOW TBLPROPERTIES {table}").collect()}
    prop = props.get("promptner.last_batch_id")
    return int(prop) if prop is not None else None
