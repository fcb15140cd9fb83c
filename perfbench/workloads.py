"""The benchmark workloads.

Each workload is a closed loop with one client: the next operation
starts when the previous one has returned. A workload generates its
input from the seed (``prepare``), runs its untimed warm-up
(``warmup``), runs timed operations (``measure``) and checks every
output. Its traced variant (``traced``) composes the same operation
layer by layer, calling each layer's public function and forcing an
eager ``localCheckpoint`` at the boundary, and also times one
operation on a quarter-size input to split an operation's wall into a
part that grows with the input and a fixed part (``row_share``).

An operation that raises or returns a wrong result is counted as
failed; the run goes on.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
import traceback

import pandas as pd

from . import gen
from .ledger import (CodegenCounter, HeapPeak, host_steal_s,
                     jit_compile_s, timed_backend_factory, tree_cpu_s)


# ---- result digests -------------------------------------------------

def frame_digest(pdf: pd.DataFrame) -> str:
    """Order-independent digest of a collected result: columns sorted
    by name, values as strings, rows sorted."""
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(str(v) for v in row)
                  for row in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha1("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


def spark_digest(df) -> str:
    """Order-independent digest computed in Spark: the row count and
    the exact sum of a 64-bit hash over every column. Being an
    aggregate over all columns, it also forces every column."""
    from pyspark.sql import functions as F
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


# ---- tracing --------------------------------------------------------

class Tracer:
    """Times layer calls from outside. ``layer(name, build, sink)``
    calls ``build()`` (the layer's public function, which returns a
    DataFrame; the time spent there is driver plan building, unless
    the function is ``eager`` and runs its jobs itself), then
    ``sink(df)`` to materialize the boundary, all under job group
    ``name`` so the event log attributes its tasks."""

    def __init__(self, spark):
        self.spark = spark
        self.walls: dict[str, float] = {}
        self.plan_build_s = 0.0
        self.codegen = CodegenCounter(spark)

    def layer(self, name: str, build, sink=None, eager: bool = False):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        out = sink(df) if sink is not None else df
        t2 = time.perf_counter()
        sc.setJobGroup("untagged", "untagged")
        if not eager:
            self.plan_build_s += t1 - t0
        self.walls[name] = self.walls.get(name, 0.0) + (t2 - t0)
        return out


def checkpoint(df):
    return df.localCheckpoint(eager=True)


def checkpoint_keep_partitioning(df):
    """The flagship's mention boundary: AQE off for the checkpoint so
    the url-hash layout survives (plans/pipeline.py does the same)."""
    conf = df.sparkSession.conf
    was = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        conf.set("spark.sql.adaptive.enabled", was)


# ---- the closed loop ------------------------------------------------

class Op:
    """One timed operation's record."""

    def __init__(self, name: str):
        self.name = name
        self.wall_s = 0.0
        self.ok = False
        self.error: str | None = None
        self.digest: str | None = None
        self.cpu_s = 0.0
        self.steal_s = 0.0
        self.jit_s = 0.0

    def as_dict(self) -> dict:
        return {"name": self.name, "wall_s": round(self.wall_s, 4),
                "cpu_s": round(self.cpu_s, 3),
                "steal_s": round(self.steal_s, 2),
                "jit_s": round(self.jit_s, 2), "ok": self.ok,
                "error": self.error, "digest": self.digest}


class Workload:
    """One operation run in a closed loop over a seeded input.

    Subclasses define ``_generate(seed, n, path)`` (writes ``n`` input
    docs and returns their measured properties), ``_once(spark, path)``
    (one operation; returns the output digest), ``expected()`` (the
    digest every operation must return) and ``traced``."""

    name = ""
    OP = "iter"        # operation name prefix in the run record
    DOCS = 0           # input docs per operation
    WARM_OPS = 4       # untimed operations before the timed ones
    MIN_OPS = 2

    def prepare(self, seed: int, work: str, pins: dict) -> dict:
        self.seed, self.work, self.pins = seed, work, pins
        self.dir = os.path.join(work, self.name)
        props = self._generate(seed, self.DOCS, self.dir)
        props["docs_per_op"] = self.docs_per_op()
        return props

    def docs_per_op(self) -> int:
        return self.DOCS

    def warmup(self, spark) -> None:
        """Untimed operations on the real input. The first pays codegen
        compile and starts the Python workers (20-24 s on a 4-core
        host); after it the JVM's JIT keeps compiling, and operation
        walls fall until about the sixth operation (kg_build 6.6, 5.8,
        5.2, 4.5 s; prep_funnel 8.0, 7.2, 6.8, 6.3, 5.5 s). Four
        warm-ups take the steepest part of that slope out of the timed
        operations, which is where runs differed most."""
        for _ in range(self.WARM_OPS):
            self.warm_digest = self._once(spark, self.dir)

    def stage(self, i: int) -> None:
        """Untimed preparation of operation ``i`` (none by default)."""

    def op(self, spark, i: int) -> str:
        """Timed operation ``i``; returns its output digest."""
        return self._once(spark, self.dir)

    def check(self, i: int, digest: str) -> str | None:
        """Why operation ``i``'s output is wrong, or None."""
        want = self.expected()
        return None if digest == want else f"digest {digest} != expected {want}"

    def finish(self, spark, ops: list[Op]) -> None:
        """Checks that span the whole loop (none by default)."""

    def measure(self, spark, seconds: float) -> list[Op]:
        """Operations until ``seconds`` have passed and at least
        ``MIN_OPS`` have run; each output is checked after its wall
        is taken."""
        ops: list[Op] = []
        t0 = time.perf_counter()
        while len(ops) < self.MIN_OPS or time.perf_counter() - t0 < seconds:
            i = len(ops)
            op = Op(f"{self.OP}{i}")
            try:
                self.stage(i)
                cpu, steal = tree_cpu_s(os.getpid()), host_steal_s()
                jit = jit_compile_s(spark)
                t = time.perf_counter()
                try:
                    op.digest = self.op(spark, i)
                finally:
                    op.wall_s = time.perf_counter() - t
                    op.cpu_s = tree_cpu_s(os.getpid()) - cpu
                    op.steal_s = host_steal_s() - steal
                    op.jit_s = jit_compile_s(spark) - jit
                op.error = self.check(i, op.digest)
            except Exception as exc:  # a failed operation is data
                op.error = f"{type(exc).__name__}: {exc}"[:500]
                traceback.print_exc()
            op.ok = op.error is None
            ops.append(op)
        self.finish(spark, ops)
        return ops

    def _untraced_pair(self, spark) -> tuple[str, float]:
        """Two untraced operations after the traced one: their digest
        (both must agree) and mean wall, the reference for the tracing
        overhead."""
        digests, walls = set(), []
        for _ in range(2):
            t0 = time.perf_counter()
            digests.add(self._once(spark, self.dir))
            walls.append(time.perf_counter() - t0)
        return ("/".join(sorted(digests)), sum(walls) / 2)

    def _row_share(self, spark, full_s: float) -> float:
        """Share of a full operation's wall ``full_s`` that grows with
        the input: a line through ``full_s`` and the faster of two hot
        operations on a quarter of the input."""
        quarter = os.path.join(self.work, self.name + "_quarter")
        self._generate(self.seed, self.DOCS // 4, quarter)
        walls = []
        for _ in range(2):
            t0 = time.perf_counter()
            self._once(spark, quarter)
            walls.append(time.perf_counter() - t0)
        return (full_s - min(walls)) / 0.75 / full_s

    def _traced_result(self, spark, tr: "Tracer", traced_s: float,
                       compiled: tuple[int, float], heap_mb: float,
                       digest: str, counts: dict) -> dict:
        """Two untraced operations and the row-share split after the
        traced one, and the traced run's record."""
        untraced, untraced_s = self._untraced_pair(spark)
        counts["trace.row_share"] = self._row_share(spark, untraced_s)
        counts["driver.heap_peak_mb"] = heap_mb
        want = self.expected()
        ok = digest == untraced == want
        return {
            "walls": tr.walls, "counts": counts,
            "traced_s": traced_s, "untraced_s": untraced_s,
            "plan_build_s": tr.plan_build_s,
            "codegen_classes": compiled[0], "codegen_compile_s": compiled[1],
            "ok": ok,
            "why": None if ok else (f"digests traced {digest}, untraced "
                                    f"{untraced}, expected {want}"),
        }


# ---- kg_build -------------------------------------------------------

class KgBuild(Workload):
    """The flagship KG build over a replicated, vocabulary-scaled
    corpus: ``build_pipeline(gen_dir, replicate=R, vocab_scale=R)``,
    its triples consumed by an aggregate digest over every column."""

    name = "kg_build"
    DOCS = 1200        # base docs, each replicated REPLICATE times
    REPLICATE = 16

    def _generate(self, seed: int, n: int, path: str) -> dict:
        props = gen.base_corpus(seed, n, path, vocab_scale=self.REPLICATE)
        props["replicate"] = self.REPLICATE
        return props

    def docs_per_op(self) -> int:
        return self.DOCS * self.REPLICATE

    def _once(self, spark, path: str) -> str:
        from promptner_spark.plans.pipeline import build_pipeline
        res = build_pipeline(spark, path, replicate=self.REPLICATE,
                             vocab_scale=self.REPLICATE)
        try:
            return spark_digest(res.triples)
        finally:
            res.unpersist()

    def expected(self) -> str:
        """Pinned per seed in pins.json; an unpinned seed is held to the
        warm-up's output."""
        return self.pins.get(self.name, {}).get(str(self.seed),
                                                self.warm_digest)

    def traced(self, spark) -> dict:
        """The build composed layer by layer exactly as
        ``build_pipeline`` wires it, with a checkpoint at every
        boundary."""
        from pyspark.sql import functions as F
        from promptner_spark.operators import linking, triples as T
        from promptner_spark.operators.infer import extract_mentions
        from promptner_spark.sources.pages import pages_with_extracted_text
        from promptner_spark.sources.sentences import split_sentences

        R = self.REPLICATE
        tr = Tracer(spark)
        heap = HeapPeak(spark)
        factory, accs = timed_backend_factory(spark, R)
        t0 = time.perf_counter()
        pages = tr.layer("pages", lambda: pages_with_extracted_text(
            spark, self.dir, replicate=R, perturb_vocab=True), checkpoint)
        sentences = tr.layer("sentences", lambda: split_sentences(pages),
                             checkpoint)
        n_parts = spark.sparkContext.defaultParallelism
        mentions = tr.layer("infer", lambda: extract_mentions(
            sentences, backend_factory=factory).repartition(n_parts, "url"),
            checkpoint_keep_partitioning)
        aliases = linking.alias_df(spark, vocab_scale=R)
        linked = tr.layer("linking", lambda: linking.link_mentions(
            mentions, aliases, fuzzy=True))
        resolution = linked._promptner_resolution
        linked = tr.layer("linking", lambda: linked, checkpoint)
        name_dict = resolution.select("eid", "entity_name").distinct()
        digest = tr.layer("triples", lambda: T.emit_triples(
            T.canonicalize(linked), name_dict=name_dict), spark_digest)
        traced_s = time.perf_counter() - t0
        heap_mb = heap.peak_mb()
        compiled = tr.codegen.delta()

        vocab = resolution.count()
        exact = resolution.where(F.col("prior").isNotNull()).count()
        fuzzy = resolution.where(F.col("prior").isNull()
                                 & F.col("entity_id").isNotNull()).count()
        n_sentences = sentences.count()
        counts = {
            "pages.rows_out": pages.count(),
            "sentences.rows_out": n_sentences,
            "infer.rows_in": n_sentences,
            "infer.rows_out": mentions.count(),
            "infer.backend_s": accs["backend_s"].value,
            "infer.backend_calls": accs["backend_calls"].value,
            "infer.backend_errors": accs["backend_errors"].value,
            "linking.vocab_rows": vocab,
            "linking.exact_frac": exact / vocab,
            "linking.fuzzy_frac": fuzzy / vocab,
            "linking.nil_frac": (vocab - exact - fuzzy) / vocab,
            "triples.rows_out": int(digest.split(":")[0]),
        }
        out = self._traced_result(spark, tr, traced_s, compiled, heap_mb,
                                  digest, counts)
        # The upkeep layers share the build's extraction, linking and
        # triples layers; they are traced here, on the same input seed,
        # after the build's own record is complete.
        upkeep = KgUpkeep()
        upkeep.prepare(self.seed, self.work, self.pins)
        upkeep.warmup(spark)
        up, wrong = upkeep.trace_drops(spark)
        why = upkeep.store_check(spark)
        wrong += [why] if why else []
        out["counts"].update(up["counts"])
        out["drops_traced"] = up["drops_traced"]
        out["upkeep_traced_s"] = up["traced_s"]
        if wrong:
            out["ok"] = False
            out["why"] = "; ".join(filter(None, [out["why"], *wrong]))
        return out


# ---- prep_funnel ----------------------------------------------------

class PrepFunnel(Workload):
    """``q_prep`` over a generated corpus with exact and one-token near
    duplicates: the training-data prep funnel, pure JVM."""

    name = "prep_funnel"
    DOCS = 4000

    def _generate(self, seed: int, n: int, path: str) -> dict:
        return gen.prep_corpus(seed, n, path)

    def prepare(self, seed: int, work: str, pins: dict) -> dict:
        props = super().prepare(seed, work, pins)
        self.want = self.expected()
        return props

    def _once(self, spark, path: str) -> str:
        from promptner_spark.plans.queries import q_prep
        return frame_digest(q_prep(spark, path).toPandas())

    def oracle_digest(self) -> str:
        """The DuckDB replay of the whole funnel on the same corpus."""
        import duckdb
        from promptner_spark.plans.queries import ORACLE_SQL
        con = duckdb.connect()
        try:
            con.sql("CREATE VIEW documents AS SELECT * FROM "
                    f"'{self.dir}/documents.parquet'")
            return frame_digest(con.sql(ORACLE_SQL["q_prep"]).df())
        finally:
            con.close()

    def expected(self) -> str:
        """The oracle digest: pinned per seed in pins.json, else replayed
        in DuckDB (about 10 s on 4 cores, before the session starts)."""
        if getattr(self, "want", None) is None:
            self.want = (self.pins.get(self.name, {}).get(str(self.seed))
                         or self.oracle_digest())
        return self.want

    def traced(self, spark) -> dict:
        """The funnel composed stage by stage exactly as
        ``prepare_training_data`` does (with ``q_prep``'s inputs and
        parameters), a checkpoint after every stage."""
        from pyspark.sql import functions as F
        from promptner_spark.operators.curate import curate_flags
        from promptner_spark.operators.decontaminate import decontaminate
        from promptner_spark.operators.dedup import _spread
        from promptner_spark.operators.lines import strip_common_lines
        from promptner_spark.operators.pii import scrub_text
        from promptner_spark.operators.sample import mixture_sample
        from promptner_spark.operators.shard import shard_pack
        from promptner_spark.plans import queries as Q

        d = self.dir
        tr = Tracer(spark)
        heap = HeapPeak(spark)
        t0 = time.perf_counter()
        docs = _spread(Q._docs(spark, d).select(
            "doc_id", "lang", Q._dirty_text().alias("text")).select(
            "doc_id", "lang", Q._multiline_expr().alias("text")),
            splits_hint=Q._splits(d))
        cleaned = tr.layer("lines", lambda: strip_common_lines(
            docs, min_docs=Q._LINE_MIN_DOCS, carry_cols=("lang",)),
            checkpoint)
        scrubbed = tr.layer("pii", lambda: cleaned.select(
            "doc_id", "lang", scrub_text(F.col("text")).alias("text")),
            checkpoint)
        flags = tr.layer("curate", lambda: curate_flags(
            scrubbed, 0.6, Q._MIN_J, Q._MINHASH_N, Q._BAND_SIZE,
            Q._SHINGLE_K, splits_hint=Q._splits(d)))
        kept = tr.layer("curate", lambda: flags.where(F.col("is_kept"))
                        .select("doc_id", "lang", "text"), checkpoint)
        clean = tr.layer("decontaminate", lambda: decontaminate(
            kept, Q._synth_bench(spark, d), n=Q._DECON_N,
            bench_splits_hint=Q._splits(d)), checkpoint)
        sampled = tr.layer("sample", lambda: mixture_sample(
            clean, Q._PREP_RATES, group_col="lang", seed=Q._PREP_SEED),
            checkpoint)
        manifest = tr.layer("shard", lambda: shard_pack(
            sampled, budget=Q._PREP_BUDGET, seed=Q._PREP_SEED,
            bucket_bits=Q._PREP_BITS).groupBy("shard_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens")),
            lambda df: df.toPandas())
        traced_s = time.perf_counter() - t0
        heap_mb = heap.peak_mb()
        compiled = tr.codegen.delta()
        for c in getattr(flags, "_promptner_caches", ()):
            c.unpersist()

        counts = {
            "lines.rows_out": cleaned.count(),
            "pii.rows_out": scrubbed.count(),
            "curate.rows_out": kept.count(),
            "decontaminate.rows_out": clean.count(),
            "sample.rows_out": sampled.count(),
            "shard.rows_out": int(manifest["n_docs"].sum()),
        }
        return self._traced_result(spark, tr, traced_s, compiled, heap_mb,
                                   frame_digest(manifest), counts)


# ---- kg_upkeep ------------------------------------------------------

_KEYS = ("subj", "pred", "obj")


class KgUpkeep(Workload):
    """Crawl drops into a fresh versioned triple store. One operation
    takes one drop of generated pages through ``batch_triple_counts``
    → ``merge_counts(store, ..., batch_id=k)`` → ``snapshot_diff`` of
    the version that merge committed, collected. Drop ``k`` has its
    own seeded documents with its own doc ids, so no url spans two
    drops."""

    name = "kg_upkeep"
    OP = "drop"
    DOCS = 100         # pages per drop
    WARM_OPS = 2
    N_TRACED = 3       # traced drops

    def prepare(self, seed: int, work: str, pins: dict) -> dict:
        self.seed, self.work, self.pins = seed, work, pins
        self.dir = os.path.join(work, self.name)
        self.store = os.path.join(self.dir, "store")
        self.batches: dict[int, object] = {}   # drop -> its batch counts
        self.next_drop = 0
        props = self._stage_drop(self.DOCS)
        props["docs_per_op"] = self.DOCS
        return props

    def _drop_dir(self, k: int) -> str:
        return os.path.join(self.dir, f"drop{k}")

    def _stage_drop(self, n: int) -> dict:
        """Write the next drop's ``n`` documents (drop ``k`` holds doc
        ids from ``k * DOCS``)."""
        k = self.next_drop
        return gen.base_corpus(self.seed, n, self._drop_dir(k),
                               first_id=k * self.DOCS, stream=f"drop{k}")

    def _drop(self, spark, tr: "Tracer | None" = None) -> str:
        """Merge the staged drop and read what it changed; returns the
        read's digest."""
        from promptner_spark.sources.pages import pages_with_extracted_text
        from promptner_spark.streaming.incremental import (
            batch_triple_counts, merge_counts, read_store, snapshot_diff)
        layer = tr.layer if tr is not None else _untraced_layer
        k = self.next_drop
        counts = layer("extract", lambda: batch_triple_counts(
            pages_with_extracted_text(spark, self._drop_dir(k))), eager=True)
        layer("merge", lambda: merge_counts(self.store, counts, batch_id=k),
              eager=True)
        self.batches[k] = counts
        self.next_drop += 1
        read = (lambda: snapshot_diff(spark, self.store, k, k + 1)) if k \
            else (lambda: read_store(spark, self.store, version=1))
        return layer("read", read, lambda df: frame_digest(df.toPandas()))

    def _batch_digest(self, k: int) -> str:
        """Drop ``k``'s batch counts as the read after its merge must
        return them: each count is new, so the delta is the count."""
        pdf = self.batches[k].select(*_KEYS, "n_sents", "n_docs").toPandas()
        if k:
            pdf = pdf.rename(columns={"n_sents": "d_sents",
                                      "n_docs": "d_docs"})
        return frame_digest(pdf)

    def warmup(self, spark) -> None:
        """``WARM_OPS`` untimed drops; the first reads its version
        whole, as it has no earlier one to diff against."""
        for _ in range(self.WARM_OPS):
            if self.next_drop:
                self._stage_drop(self.DOCS)
            digest = self._drop(spark)
        self.warm_digest = digest

    def stage(self, i: int) -> None:
        self._stage_drop(self.DOCS)

    def op(self, spark, i: int) -> str:
        return self._drop(spark)

    def check(self, i: int, digest: str) -> str | None:
        k = self.next_drop - 1
        want = self._batch_digest(k)
        return None if digest == want else (
            f"snapshot_diff after drop {k}: {digest} != its batch "
            f"counts {want}")

    def store_check(self, spark) -> str | None:
        """The store after every merged drop must equal one
        ``batch_triple_counts`` over the union of those drops."""
        from functools import reduce
        from promptner_spark.sources.pages import pages_with_extracted_text
        from promptner_spark.streaming.incremental import (
            batch_triple_counts, read_store)
        drops = sorted(self.batches)
        union = reduce(lambda a, b: a.unionByName(b), [
            pages_with_extracted_text(spark, self._drop_dir(k))
            for k in drops])
        cols = (*_KEYS, "n_sents", "n_docs")
        want = frame_digest(batch_triple_counts(union).select(*cols)
                            .toPandas())
        got = frame_digest(read_store(spark, self.store).select(*cols)
                           .toPandas())
        return None if got == want else (
            f"store after drops {drops[0]}-{drops[-1]}: {got} != one "
            f"batch over their union {want}")

    def finish(self, spark, ops: list[Op]) -> None:
        why = self.store_check(spark)
        if why is not None:
            ops[-1].ok = False
            ops[-1].error = why

    def trace_drops(self, spark) -> tuple[dict, list[str]]:
        """``N_TRACED`` drops, each timed layer by layer from outside
        (the three public calls, under job groups ``extract``, ``merge``
        and ``read``; the first two fill their results eagerly), each
        read checked, and the store check. Returns the record of the
        traced drops and what was wrong."""
        tr = Tracer(spark)
        first = self.next_drop
        for j in range(self.N_TRACED):
            self.next_drop = first + j
            self._stage_drop(self.DOCS)
        self.next_drop = first
        digests = []
        t0 = time.perf_counter()
        for _ in range(self.N_TRACED):
            digests.append(self._drop(spark, tr))
        traced_s = time.perf_counter() - t0
        compiled = tr.codegen.delta()
        wrong: list[str] = []
        for j, d in enumerate(digests):
            want = self._batch_digest(first + j)
            if d != want:
                wrong.append(f"traced drop {first + j}: {d} != {want}")

        D = self.N_TRACED
        versions = range(first + 1, first + D + 1)
        written = [p for v in versions for p in
                   glob.glob(os.path.join(self.store, "data", f"b*_v{v}"))]
        ptr = _load_json(os.path.join(self.store, "CURRENT"))
        counts = {
            "upkeep.extract_s": tr.walls["extract"] / D,
            "upkeep.merge_s": tr.walls["merge"] / D,
            "upkeep.read_s": tr.walls["read"] / D,
            "upkeep.buckets_rewritten": len(written) / D,
            "upkeep.bytes_written": sum(map(_du, written)) / D,
            "upkeep.store_bytes": sum(
                _du(os.path.join(self.store, rel))
                for rel in ptr["buckets"].values()),
        }
        return {"tracer": tr, "traced_s": traced_s, "compiled": compiled,
                "counts": counts, "drops_traced": D}, wrong

    def traced(self, spark) -> dict:
        """The traced drops, then two untraced drops (the overhead
        reference), two quarter-size drops (the row-share split) and
        the store check over every drop."""
        heap = HeapPeak(spark)
        up, wrong = self.trace_drops(spark)
        heap_mb = heap.peak_mb()
        walls = []
        for _ in range(2):
            self._stage_drop(self.DOCS)
            t = time.perf_counter()
            d = self._drop(spark)
            walls.append(time.perf_counter() - t)
            why = self.check(0, d)
            if why:
                wrong.append(why)
        untraced_s = sum(walls) / 2
        quarter = []
        for _ in range(2):
            self._stage_drop(self.DOCS // 4)
            t = time.perf_counter()
            self._drop(spark)
            quarter.append(time.perf_counter() - t)
        why = self.store_check(spark)
        if why:
            wrong.append(why)
        tr = up["tracer"]
        counts = {**up["counts"],
                  "trace.row_share": (untraced_s - min(quarter)) / 0.75
                  / untraced_s,
                  "driver.heap_peak_mb": heap_mb}
        return {
            "walls": tr.walls, "counts": counts,
            "drops_traced": up["drops_traced"],
            "traced_s": up["traced_s"],
            "untraced_s": untraced_s * up["drops_traced"],
            "plan_build_s": tr.plan_build_s,
            "codegen_classes": up["compiled"][0],
            "codegen_compile_s": up["compiled"][1],
            "ok": not wrong, "why": "; ".join(wrong) or None,
        }


def _untraced_layer(name: str, build, sink=None, eager: bool = False):
    df = build()
    return sink(df) if sink is not None else df


def _du(path: str) -> int:
    """Bytes in the files under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _load_json(path: str) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


WORKLOADS = {w.name: w for w in (KgBuild, PrepFunnel, KgUpkeep)}
