"""Bench harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Scaling evidence for the north_rule's N→4N criterion (no real cluster
in this sandbox, per driver instruction): the flagship KG pipeline
(pages → fused mention extraction → vocabulary-level linking →
canonicalization → triples) runs on the SAME deterministic input at
local[4] and local[16] (4× the cores). The input is the sf documents
corpus replicated ×$SPARK_GRAFT_BENCH_REPLICATE (default 192,
deterministic doc_id/url remapping — see sources/pages.py) so the
measurement is compute-dominated, not fixed-overhead-dominated.

Measurement discipline (each knob empirically forced, r2 profiling —
full numbers in BENCH/BASELINE.md):

- The 4→16 pair: neither level oversubscribes the 32-core box
  (local[16] = 16 JVM task threads + 16 Python UDF workers).
- An untimed warm-up run of the SAME heavy plan shape before
  timing: the first execution of the replicated plan in a fresh JVM
  is 3-10× slower than steady state (heap growth + C2 JIT tiering of
  the generated whole-stage code — measured 2141 vs ~230 core-s for
  an identical stage). A replicate=1 warm-up does NOT warm the
  replicated plan's generated classes (different explode literal ⇒
  different codegen); best-of-3 absorbs the residual ~30% second-run
  tail.
- ``-Xms`` pinned to the full heap so page-fault/commit cost of heap
  growth lands in warm-up, not in a timed run.
- Shuffle dirs on /dev/shm when available: on one box the shared
  disk is a fixed-bandwidth resource that does not scale with cores;
  tmpfs is the faithful stand-in for per-node NVMe that does.
- best-of-3 timed runs per level: the shared virtualized host shows
  ±2× multi-second noise (steal <0.2% and flat memory bandwidth were
  verified — the noise is JVM-internal, not the neighbors').

A pure-JVM calibration probe runs at the same pair under the same
discipline as the host ceiling reference.

r5: the HEADLINE suite is self-diagnosing too — a ~2 s fixed-work
pure-JVM probe is interleaved every PROBE_EVERY queries (samples
stamped into the artifact as ``jvm_probe``); when the probe spread
exceeds 25%, queries timed inside a dirty probe window OR showing
run dispersion are re-run once and the merged best is kept, with the
retried set recorded. The benched flagship is the PRODUCTION
xxhash64 band family; the portable md5 family (the
correctness-harness entry) is timed separately as
``flagship_portable_sec``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SCALE_LO = int(os.environ.get("SPARK_GRAFT_SCALE_LO", "4"))
SCALE_HI = int(os.environ.get("SPARK_GRAFT_SCALE_HI", "16"))
REPLICATE = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "192"))


def _fast_local_dir() -> str | None:
    """tmpfs shuffle dir when the box has one (see module docstring)."""
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/spark-graft-local"
        os.makedirs(d, exist_ok=True)
        return d
    return None

# Headline operator queries (SURVEY.md §2 families) timed at local[CPUS].
HEADLINE = [
    "q_pipeline_triples",   # flagship end-to-end KG construction
    "q_triples",            # G3 co-occurrence triple emission
    "q_span_f1",            # E2 span-F1 evaluation aggregation
    "q_mentions",           # M4+A2+SP1 inference/parse/align
    "q_link_salted",        # J3 salted skew join linking
    "q_verified_mentions",  # SP3 fused no-join verification pass
    "q_minhash_pairs",      # MinHash near-dup candidate pairs
    "q_dedup_exact",        # exact dedup over documents
    "q_simhash",            # SimHash fingerprints
    "q_simhash_pairs",      # pigeonhole-banded simhash near-dups
    "q_knn",                # brute-force cosine top-k ANN baseline
    "q_embdup_lsh",         # hyperplane-bucketed embedding near-dup
    "q_textstats",          # text quality/langid/token analytics
    "q_repetition",         # Gopher-style repetition signals (r5)
    "q_langid",             # char-trigram language ID (r5)
    "q_curate",             # end-to-end curation funnel (r5)
    "q_decontaminate",      # benchmark 13-gram decontamination (r5)
    "q_quota_sample",       # two-phase exact per-group quota (r5)
    "q_mixture_sample",     # map-only mixture-rate sampling (r5)
    "q_shard_pack",         # two-phase token-budget shard packing (r5)
    "q_pii_scrub",          # map-only PII redaction (r5)
    "q_line_dedup",         # cross-doc boilerplate line dedup (r5)
    "q_prep",               # end-to-end prep funnel (r5)
    "q_pricing",            # TPC-H-ish Q1 aggregation
    "q_top_orders",         # TPC-H-ish Q3-like join+topk
    "q_predicates",         # lexical predicate-triple extraction
    "q_pagerank",           # iterative PageRank over the entity graph
    "q_pmi",                # PMI edge weighting
    "q_outlinks",           # href parse + edge explode, shuffle-free (r5)
    "q_link_pagerank",      # distributed PageRank over the page graph (r5)
]

# The benched flagship runs the PRODUCTION xxhash64 LSH band family;
# the registry entry (portable md5 family, DuckDB-replayable) stays
# the correctness-harness implementation and is ALSO timed, recorded
# separately as flagship_portable_sec (r4 verdict Next #2).
def _bench_impl(name):
    from promptner_spark.plans.queries import QUERIES, q_pipeline_triples_fast
    if name == "q_pipeline_triples":
        return q_pipeline_triples_fast
    return QUERIES.get(name)


# ---- in-session host-noise probe (r4 verdict Next #1) --------------
# The scaling campaign already carries a pure-JVM ceiling probe, but
# the 20-query headline suite had no way to SAY "this session was
# host-contended" — the r4 driver artifact showed 1.5-4x regressions
# that four builder invocations of the same code never reproduced,
# and the only forensic was the scaling runs' own spread. So: a ~2 s
# fixed-work pure-JVM job (md5 chain + 1000-group agg, no Python, no
# disk) runs BEFORE and AFTER the suite on the same session; its
# samples are stamped into the artifact, and when the spread exceeds
# PROBE_SPREAD_LIMIT the queries whose own 3 runs show contention
# dispersion are re-run once (bounded) and the merged best is kept.
PROBE_SPREAD_LIMIT = 0.25
RETRY_DISPERSION = 1.8
MAX_RETRIES = 12
PROBE_EVERY = 4   # queries per probe window


def _probe_once(spark) -> float:
    from pyspark.sql import functions as F

    df = spark.range(0, 24_000_000, 1, CPUS * 2).select(
        (F.col("id") % 1000).alias("k"),
        F.md5(F.md5(F.md5(F.md5(F.col("id").cast("string")))))
        .alias("v"))
    t0 = time.time()
    (df.groupBy("k").agg(F.count(F.lit(1)).alias("n"),
                         F.max("v").alias("m"))
       .write.format("noop").mode("overwrite").save())
    return round(time.time() - t0, 3)


def _probe_samples(spark, n: int = 2) -> list[float]:
    return [_probe_once(spark) for _ in range(n)]


def _spread(samples: list[float]) -> float:
    return round(max(samples) / min(samples) - 1.0, 3) if samples else 0.0


def _materialize(df) -> None:
    """Force full evaluation of every column (noop sink, no collect)."""
    df.write.format("noop").mode("overwrite").save()


_SCALE_SCRIPT = r"""
import sys, time, os
sys.path.insert(0, {repo!r})
from promptner_spark.session import build_session, driver_mem
from promptner_spark.plans.pipeline import build_pipeline
extra = {{"spark.driver.extraJavaOptions":
         "-Xms" + driver_mem()}}
local_dir = {local_dir!r}
if local_dir:
    extra["spark.local.dir"] = local_dir
spark = build_session(cores={cores}, app_name="bench-scale{cores}",
                      extra_conf=extra)
def run():
    # vocab_scale=replicate: replica texts are token-perturbed and the
    # gazetteer/alias/entity space grows with the corpus, so the
    # vocabulary-level KG stages (linking resolution, canonicalize,
    # triple counting) carry replica-proportional data and distribute
    # — as they would on a real Zipf corpus — instead of reading as
    # ~8s of parallelism-independent fixed latency (r2 finding #4).
    res = build_pipeline(spark, {sf_dir!r}, replicate={replicate},
                         vocab_scale={replicate})
    res.triples.write.format("noop").mode("overwrite").save()
    res.unpersist()
run()   # warm the HEAVY plan shape (see module docstring)
times = []
for _ in range(3):
    t0 = time.time()
    run()
    times.append(time.time() - t0)
print("BENCH_TIMES", " ".join(f"{{t:.3f}}".format(t=t) for t in times))
spark.stop()
"""


_CALIB_SCRIPT = r"""
import sys, time, os
sys.path.insert(0, {repo!r})
from promptner_spark.session import build_session, driver_mem
from pyspark.sql import functions as F
extra = {{"spark.driver.extraJavaOptions":
         "-Xms" + driver_mem()}}
local_dir = {local_dir!r}
if local_dir:
    extra["spark.local.dir"] = local_dir
spark = build_session(cores={cores}, app_name="calib{cores}",
                      extra_conf=extra)
df = spark.range(0, 30_000_000, 1, {cores}*2)
def run():
    # compute-dominated probe: chained md5 per row, 1k-group shuffle
    (df.select((F.col("id") % 1000).alias("k"),
               F.md5(F.md5(F.md5(F.md5(F.col("id").cast("string")))))
               .alias("v"))
       .groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.max("v").alias("m"))
       .write.format("noop").mode("overwrite").save())
run()   # same warm-up discipline as the pipeline probe
best = float("inf")
for _ in range(3):
    t0 = time.time()
    run()
    best = min(best, time.time() - t0)
print("BENCH_SECONDS", best)
spark.stop()
"""


def _subprocess_seconds(script: str) -> float:
    import subprocess

    out = subprocess.run([sys.executable, "-c", script],
                         capture_output=True, text=True, check=True)
    line = [ln for ln in out.stdout.splitlines()
            if ln.startswith("BENCH_SECONDS")][-1]
    return float(line.split()[1])


def _subprocess_times(script: str) -> list[float]:
    """All timed-run wall times from a BENCH_TIMES line (best AND
    median are reported — the r2 advisor flagged best-only quoting)."""
    import subprocess

    out = subprocess.run([sys.executable, "-c", script],
                         capture_output=True, text=True, check=True)
    line = [ln for ln in out.stdout.splitlines()
            if ln.startswith("BENCH_TIMES")][-1]
    return [float(x) for x in line.split()[1:]]


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


_PY_CALIB_SCRIPT = r"""
import sys, time, os
sys.path.insert(0, {repo!r})
from promptner_spark.session import build_session, driver_mem
from pyspark.sql import functions as F
import pandas as pd
extra = {{"spark.driver.extraJavaOptions":
         "-Xms" + driver_mem()}}
local_dir = {local_dir!r}
if local_dir:
    extra["spark.local.dir"] = local_dir
spark = build_session(cores={cores}, app_name="pycalib{cores}",
                      extra_conf=extra)
df = spark.range(0, 24_000_000, 1, {cores}).select(
    F.concat(F.lit("u"), (F.col("id") % 97).cast("string")).alias("url"),
    F.md5(F.col("id").cast("string")).alias("text"))
def work(batches):
    for pdf in batches:
        out = []
        for u, t in zip(pdf["url"], pdf["text"]):
            toks = (t + " " + t).split(" ")
            out.append((u, sum(len(x) for x in toks)))
        yield pd.DataFrame(out, columns=["url", "n"])
def run():
    (df.mapInPandas(work, "url string, n long")
       .write.format("noop").mode("overwrite").save())
run()
best = float("inf")
for _ in range(3):
    t0 = time.time()
    run()
    best = min(best, time.time() - t0)
print("BENCH_SECONDS", best)
spark.stop()
"""


def _py_calibration(lo: int, hi: int) -> float:
    """Python-worker scaling ceiling: a NAIVE row-at-a-time pandas-UDF
    stage (Arrow both ways, string row work, zero fusion) at both
    levels. On this shared-memory box Arrow IPC + N python workers cap
    well below the pure-JVM probe — the reference point for the
    pipeline's extraction phase, which beats this probe because the
    fused design amortizes the IPC (one crossing, 4096-row batches)."""
    repo = os.path.dirname(os.path.abspath(__file__))
    local_dir = _fast_local_dir()
    t_lo = _subprocess_seconds(_PY_CALIB_SCRIPT.format(
        repo=repo, cores=lo, local_dir=local_dir))
    t_hi = _subprocess_seconds(_PY_CALIB_SCRIPT.format(
        repo=repo, cores=hi, local_dir=local_dir))
    return (t_lo / t_hi) / (hi / lo)


def _hw_calibration(lo: int, hi: int) -> float:
    """Host scaling ceiling: the same PURE-JVM Spark job (hash+shuffle+
    agg, zero Python) at both parallelism levels. Whatever efficiency
    THIS shows is the best any Spark workload can do on this box; the
    pipeline's efficiency should be read relative to it."""
    repo = os.path.dirname(os.path.abspath(__file__))
    local_dir = _fast_local_dir()
    t_lo = _subprocess_seconds(_CALIB_SCRIPT.format(
        repo=repo, cores=lo, local_dir=local_dir))
    t_hi = _subprocess_seconds(_CALIB_SCRIPT.format(
        repo=repo, cores=hi, local_dir=local_dir))
    return (t_lo / t_hi) / (hi / lo)


def _pipeline_times(cores: int, sf_dir: str, replicate: int) -> list[float]:
    """Each level runs in its OWN python subprocess: PySpark reuses one
    JVM per process, so measuring both levels in-process would hand the
    second session a pre-aged heap (and the first session's
    driver-memory). Fresh process = fresh JVM = fair comparison.
    Within the process: one same-shape heavy warm-up, then 3 timed
    runs, ALL reported (see module docstring for why)."""
    script = _SCALE_SCRIPT.format(
        repo=os.path.dirname(os.path.abspath(__file__)),
        cores=cores, sf_dir=sf_dir, replicate=replicate,
        local_dir=_fast_local_dir())
    return _subprocess_times(script)


def main() -> None:
    from promptner_spark.session import build_session, driver_mem

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else 0.1

    import duckdb
    n_docs_base = duckdb.sql(
        f"select count(*) from '{SF_DIR}/documents.parquet'").fetchone()[0]
    if os.environ.get("SPARK_GRAFT_SKIP_SCALE"):
        # headline-only debug mode for bench-harness iteration: the
        # driver always runs the full protocol (this env is never set
        # there); zeros make an accidentally-skipped artifact obvious
        times_lo = times_hi = [0.0]
        t_lo = t_hi = med_lo = med_hi = 1.0
        thr_lo = thr_hi = 0.0
        efficiency = efficiency_median = 0.0
        hw_ceiling = py_ceiling = 0.0
    else:
        times_lo = _pipeline_times(SCALE_LO, SF_DIR, REPLICATE)
        times_hi = _pipeline_times(SCALE_HI, SF_DIR, REPLICATE)
        t_lo, t_hi = min(times_lo), min(times_hi)
        med_lo, med_hi = _median(times_lo), _median(times_hi)
        thr_lo = n_docs_base * REPLICATE / t_lo
        thr_hi = n_docs_base * REPLICATE / t_hi
        efficiency = (thr_hi / thr_lo) / (SCALE_HI / SCALE_LO)
        efficiency_median = (med_lo / med_hi) / (SCALE_HI / SCALE_LO)
        hw_ceiling = _hw_calibration(SCALE_LO, SCALE_HI)
        py_ceiling = _py_calibration(SCALE_LO, SCALE_HI)

    extra = {"spark.driver.extraJavaOptions":
             "-Xms" + driver_mem()}
    if _fast_local_dir():
        extra["spark.local.dir"] = _fast_local_dir()
    spark = build_session(cores=CPUS, app_name="bench", extra_conf=extra)
    try:
        from promptner_spark.plans.pipeline import build_pipeline
        from promptner_spark.plans.queries import QUERIES

        # untimed warm-up: JVM/codegen/Python-worker start, so per-query
        # numbers measure the queries, not session cold-start. The
        # second (verify-shaped) warm-up matters separately: a fused +
        # verify plan runs TWO pipelined mapInPandas stages, doubling
        # the python worker pool — without it the first verify-shaped
        # query pays ~32 cold worker forks + pandas imports at once
        # (measured: 20 s first run vs <1 s warm).
        warm = build_pipeline(spark, SF_DIR)
        _materialize(warm.triples)
        warm.unpersist()
        warm_v = build_pipeline(spark, SF_DIR, with_verify=True)
        _materialize(warm_v.mentions)
        warm_v.unpersist()
        _probe_once(spark)               # JIT the probe plan untimed

        def time_query(name: str, n_runs: int = 3) -> list[float]:
            fn = _bench_impl(name)
            runs = []
            for _ in range(n_runs):
                t0 = time.time()
                _materialize(fn(spark, SF_DIR))
                runs.append(round(time.time() - t0, 3))
            return runs

        # Probes are INTERLEAVED (every PROBE_EVERY queries), not just
        # bracketing: a contention episode that spans one query's whole
        # best-of-3 leaves all three runs uniformly slow — dispersion
        # can't see it, but the window's probes can (measured on the
        # first smoke of this protocol: a flagship timed 22 s in a
        # dirty window vs 6 s clean, with run dispersion only 1.3).
        names = [n for n in HEADLINE if _bench_impl(n) is not None]
        queries_runs: dict[str, list[float]] = {}
        probes: list[float] = [_probe_once(spark)]
        window_of: dict[str, int] = {}
        for i, name in enumerate(names):
            # best-of-3, ALL runs recorded: a one-shot number folds
            # first-execution JIT/codegen of that query's generated
            # classes into the measurement (observed 3-4x one-shot
            # swings on this host; the two-python-stage verify query
            # needs a second repeat to reach steady state even after
            # the verify-shaped warm-up)
            window_of[name] = len(probes) - 1
            queries_runs[name] = time_query(name)
            if (i + 1) % PROBE_EVERY == 0 or i == len(names) - 1:
                probes.append(_probe_once(spark))

        # self-diagnosis: a query is suspect when its probe WINDOW was
        # contended (either bracketing probe >25% above the session's
        # cleanest probe) or its own runs show contention dispersion;
        # suspects get ONE extra best-of-3, merged (bounded — and
        # recorded, so the artifact says what happened instead of
        # leaving a mystery regression)
        clean = min(probes)
        retried: list[str] = []
        retry_skipped: list[str] = []
        probe_retry: list[float] = []

        def dirty_window(w: int) -> bool:
            lo, hi = probes[w], probes[min(w + 1, len(probes) - 1)]
            return max(lo, hi) > clean * (1 + PROBE_SPREAD_LIMIT)

        def dispersed(runs: list[float]) -> bool:
            # ignore the first run: it carries that query's codegen/
            # JIT and is routinely 2-3x the steady state, which is
            # not contention (the first smoke retried 12/20 queries
            # off that false signal); contention shows as the LATER
            # runs disagreeing with the best
            steady = runs[1:] if len(runs) > 1 else runs
            return max(steady) / min(runs) > RETRY_DISPERSION

        if _spread(probes) > PROBE_SPREAD_LIMIT:
            flagged = [n for n in names
                       if dirty_window(window_of[n])
                       or dispersed(queries_runs[n])]
            for name in flagged[:MAX_RETRIES]:
                queries_runs[name] = queries_runs[name] + time_query(name)
                retried.append(name)
            # no silent caps: flagged-but-unretried queries are
            # recorded so the artifact says coverage was bounded,
            # not that the suspects list ended at MAX_RETRIES
            retry_skipped = flagged[MAX_RETRIES:]
            if retried:
                probe_retry = _probe_samples(spark)

        queries = {n: min(runs) for n, runs in queries_runs.items()}
        total = sum(queries.values())
        # the portable (md5 band family, oracle-replayable) flagship,
        # timed but NOT in the headline total: the headline measures
        # the production xxhash64 family (r4 verdict Next #2)
        portable_runs = [0.0]
        if "q_pipeline_triples" in QUERIES:
            portable_runs = []
            for _ in range(3):
                t0 = time.time()
                _materialize(QUERIES["q_pipeline_triples"](spark, SF_DIR))
                portable_runs.append(round(time.time() - t0, 3))
        probe_block = {
            "samples": probes,
            "spread": _spread(probes),
            "retried": retried,
        }
        if retry_skipped:
            probe_block["retry_skipped"] = retry_skipped
        if probe_retry:
            probe_block["post_retry"] = probe_retry
    finally:
        spark.stop()

    # The driver keeps only a bounded TAIL of stdout and parses the
    # last JSON line — r3's line carried per-run arrays and a long
    # note, overflowing that window (BENCH_r03.json parsed: null).
    # So: ONE compact headline line on stdout (scaling summary, no
    # run arrays), full detail (queries_runs, per-level runs, the
    # methodology note) in the BENCH/ file artifact.
    scaling_summary = {
        "n_docs": n_docs_base * REPLICATE,
        "replicate": REPLICATE,
        "vocab_scaled": True,
        f"sec_local{SCALE_LO}": round(t_lo, 2),
        f"sec_local{SCALE_HI}": round(t_hi, 2),
        f"docs_per_sec_local{SCALE_LO}": round(thr_lo, 1),
        f"docs_per_sec_local{SCALE_HI}": round(thr_hi, 1),
        "scaling_efficiency": round(efficiency, 3),
        "scaling_efficiency_median": round(efficiency_median, 3),
        "hw_ceiling_efficiency": round(hw_ceiling, 3),
        "py_ceiling_efficiency": round(py_ceiling, 3),
    }
    headline = {
        "metric": "headline_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "flagship_family": "xxhash64",
        "flagship_portable_sec": round(min(portable_runs), 3),
        "jvm_probe": probe_block,
        "pipeline_scaling": scaling_summary,
    }
    detail = dict(headline)
    detail["queries_runs"] = queries_runs
    detail["flagship_portable_runs"] = portable_runs
    detail["pipeline_scaling"] = dict(scaling_summary)
    detail["pipeline_scaling"].update({
        f"runs_local{SCALE_LO}": [round(t, 2) for t in times_lo],
        f"runs_local{SCALE_HI}": [round(t, 2) for t in times_hi],
        "note": (f"{SCALE_LO}->{SCALE_HI} cores, no oversubscription "
                 "at either level; 1 same-shape heavy warm-up + "
                 "3 timed runs (all recorded) per level in a fresh "
                 "pre-sized pre-touched JVM, tmpfs shuffle dirs "
                 "(per-node-NVMe stand-in). Corpus is replicated "
                 "WITH vocabulary perturbation so the KG stages "
                 "scale like a Zipf corpus. hw_ceiling_efficiency "
                 "is the same measurement for a pure-JVM "
                 "hash+shuffle+agg probe - the box's Spark scaling "
                 "ceiling. Phase decomposition and variance "
                 "analysis: BENCH/BASELINE.md."),
    })
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH", "BENCH_detail_latest.json"))
    try:
        os.makedirs(os.path.dirname(detail_path), exist_ok=True)
        with open(detail_path, "w") as f:
            json.dump(detail, f)
    except OSError:
        pass   # detail artifact is best-effort; stdout line is the contract
    print(json.dumps(headline))


if __name__ == "__main__":
    main()
