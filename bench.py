"""Bench harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the cores this process may run on)
and print ONE JSON line.

Scaling evidence for the north_rule's N→4N criterion (one host stands
in for the cluster): the flagship KG pipeline (pages → fused mention
extraction → vocabulary-level linking → canonicalization → triples)
runs on the SAME deterministic input at local[SCALE_LO] and
local[SCALE_HI] (4× the cores). The input is the sf documents corpus
replicated ×$SPARK_GRAFT_BENCH_REPLICATE (default 192, deterministic
doc_id/url remapping — see sources/pages.py) so the measurement is
compute-dominated, not fixed-overhead-dominated.

Measurement discipline (each knob empirically forced, r2 profiling —
full numbers in BENCH/BASELINE.md):

- The pair follows the host: SCALE_HI = max(4, CPUS // 2) and
  SCALE_LO = SCALE_HI // 4, so local[SCALE_HI] = SCALE_HI JVM task
  threads + SCALE_HI Python UDF workers fits the cores (4→16 on a
  32-core box). Below 8 cores SCALE_HI floors at 4 to keep the 4×
  ratio (1→4 on a 4-core box).
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
- One rule for every timed value: each headline query, the portable
  flagship, each scaling level and each ceiling probe is the best of
  exactly N_RUNS = 3 timed runs, all recorded.

A pure-JVM probe and a naive python-UDF probe run at the same pair
under the same discipline as the host ceiling references. Each level
runs in its own Python process, so in its own JVM: ``python bench.py
--level <body> <cores>`` builds the bench session, runs one warm-up
and N_RUNS timed runs of one body, and prints a ``BENCH_TIMES`` line.

The same pure-JVM probe at 24M rows is also interleaved every
PROBE_EVERY headline queries; its samples and spread are stamped into
the artifact as ``jvm_probe`` so a contended session shows. They are
data only: no query is re-run on their account. The benched flagship
is the PRODUCTION xxhash64 band family; the portable md5 family (the
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
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS",
                          len(os.sched_getaffinity(0))))
SCALE_HI = int(os.environ.get("SPARK_GRAFT_SCALE_HI", max(4, CPUS // 2)))
SCALE_LO = int(os.environ.get("SPARK_GRAFT_SCALE_LO", SCALE_HI // 4))
REPLICATE = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "192"))
N_RUNS = 3        # timed runs per measured value; the best is reported
PROBE_EVERY = 4   # headline queries between in-session JVM probes


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


def _session(cores: int, app_name: str):
    """Every bench session: local[cores], the heap pinned with -Xms,
    tmpfs shuffle dirs when the box has them."""
    from promptner_spark.session import build_session, driver_mem

    extra = {"spark.driver.extraJavaOptions": "-Xms" + driver_mem()}
    local_dir = _fast_local_dir()
    if local_dir:
        extra["spark.local.dir"] = local_dir
    return build_session(cores=cores, app_name=app_name, extra_conf=extra)


def _materialize(df) -> None:
    """Force full evaluation of every column (noop sink, no collect)."""
    df.write.format("noop").mode("overwrite").save()


def _timed(run) -> float:
    t0 = time.time()
    run()
    return round(time.time() - t0, 3)


def _runs(run) -> list[float]:
    return [_timed(run) for _ in range(N_RUNS)]


def _spread(samples: list[float]) -> float:
    return round(max(samples) / min(samples) - 1.0, 3) if samples else 0.0


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


# ---- the three measured bodies ---------------------------------------
def _pipeline(spark, cores: int) -> None:
    """The flagship at the scaling input. vocab_scale=replicate: replica
    texts are token-perturbed and the gazetteer/alias/entity space grows
    with the corpus, so the vocabulary-level KG stages (linking
    resolution, canonicalize, triple counting) carry replica-proportional
    data and distribute — as they would on a real Zipf corpus — instead
    of reading as ~8 s of parallelism-independent fixed latency (r2
    finding #4)."""
    from promptner_spark.plans.pipeline import build_pipeline

    res = build_pipeline(spark, SF_DIR, replicate=REPLICATE,
                         vocab_scale=REPLICATE)
    _materialize(res.triples)
    res.unpersist()


def _jvm_probe(spark, cores: int, rows: int = 30_000_000) -> None:
    """Fixed-work pure-JVM job: chained md5 per row, then a 1000-group
    shuffle agg — no Python, no disk. 30M rows as the ceiling probe,
    24M as the in-session noise probe."""
    from pyspark.sql import functions as F

    df = spark.range(0, rows, 1, cores * 2).select(
        (F.col("id") % 1000).alias("k"),
        F.md5(F.md5(F.md5(F.md5(F.col("id").cast("string"))))).alias("v"))
    _materialize(df.groupBy("k").agg(F.count(F.lit(1)).alias("n"),
                                     F.max("v").alias("m")))


def _py_work(batches):
    """Row-at-a-time string work, no fusion: the naive pandas UDF."""
    import pandas as pd

    for pdf in batches:
        out = []
        for u, t in zip(pdf["url"], pdf["text"]):
            toks = (t + " " + t).split(" ")
            out.append((u, sum(len(x) for x in toks)))
        yield pd.DataFrame(out, columns=["url", "n"])


def _py_probe(spark, cores: int) -> None:
    """Naive mapInPandas stage (Arrow both ways, string row work)."""
    from pyspark.sql import functions as F

    df = spark.range(0, 24_000_000, 1, cores).select(
        F.concat(F.lit("u"), (F.col("id") % 97).cast("string")).alias("url"),
        F.md5(F.col("id").cast("string")).alias("text"))
    _materialize(df.mapInPandas(_py_work, "url string, n long"))


_BODIES = {"pipeline": _pipeline, "jvm_probe": _jvm_probe,
           "py_probe": _py_probe}


def _level(body: str, cores: int) -> None:
    """Child entry: one warm-up of the SAME plan shape, then N_RUNS
    timed runs, printed as one BENCH_TIMES line."""
    spark = _session(cores, f"bench-{body}{cores}")

    def run() -> None:
        _BODIES[body](spark, cores)

    run()
    times = _runs(run)
    print("BENCH_TIMES", " ".join(f"{t:.3f}" for t in times))
    spark.stop()


def _level_times(body: str, cores: int) -> list[float]:
    """Each level runs in its OWN python subprocess: PySpark reuses one
    JVM per process, so measuring both levels in-process would hand the
    second session a pre-aged heap (and the first session's
    driver-memory). Fresh process = fresh JVM = fair comparison. Under
    spark-submit the parent's gateway variables are dropped, or the
    child would attach to the parent's JVM instead of launching one."""
    import subprocess

    env = {k: v for k, v in os.environ.items()
           if not k.startswith("PYSPARK_GATEWAY_")}
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--level", body,
         str(cores)],
        env=env, capture_output=True, text=True, check=True)
    line = [ln for ln in out.stdout.splitlines()
            if ln.startswith("BENCH_TIMES")][-1]
    return [float(x) for x in line.split()[1:]]


def _calibration(body: str, lo: int, hi: int) -> float:
    """Host scaling ceiling of one probe body: its best-of-3 at both
    levels, as an efficiency. ``jvm_probe`` (hash+shuffle+agg, zero
    Python) is the best any Spark workload can do on this box.
    ``py_probe`` is the Python-worker ceiling: on a shared-memory box
    Arrow IPC + N python workers cap well below the pure-JVM probe —
    the reference point for the pipeline's extraction phase, which
    beats this probe because the fused design amortizes the IPC (one
    crossing, 4096-row batches)."""
    t_lo = min(_level_times(body, lo))
    t_hi = min(_level_times(body, hi))
    return (t_lo / t_hi) / (hi / lo)


def main() -> None:
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else 0.1

    import duckdb
    n_docs_base = duckdb.sql(
        f"select count(*) from '{SF_DIR}/documents.parquet'").fetchone()[0]
    if os.environ.get("SPARK_GRAFT_SKIP_SCALE"):
        # headline-only debug mode for bench-harness iteration: the
        # full protocol never sets this env; zeros make an
        # accidentally-skipped artifact obvious
        times_lo = times_hi = [0.0]
        t_lo = t_hi = med_lo = med_hi = 1.0
        thr_lo = thr_hi = 0.0
        efficiency = efficiency_median = 0.0
        hw_ceiling = py_ceiling = 0.0
    else:
        times_lo = _level_times("pipeline", SCALE_LO)
        times_hi = _level_times("pipeline", SCALE_HI)
        t_lo, t_hi = min(times_lo), min(times_hi)
        med_lo, med_hi = _median(times_lo), _median(times_hi)
        thr_lo = n_docs_base * REPLICATE / t_lo
        thr_hi = n_docs_base * REPLICATE / t_hi
        efficiency = (thr_hi / thr_lo) / (SCALE_HI / SCALE_LO)
        efficiency_median = (med_lo / med_hi) / (SCALE_HI / SCALE_LO)
        hw_ceiling = _calibration("jvm_probe", SCALE_LO, SCALE_HI)
        py_ceiling = _calibration("py_probe", SCALE_LO, SCALE_HI)

    spark = _session(CPUS, "bench")

    def probe() -> float:
        return _timed(lambda: _jvm_probe(spark, CPUS, rows=24_000_000))

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
        probe()                          # JIT the probe plan untimed

        # best-of-3, ALL runs recorded: a one-shot number folds
        # first-execution JIT/codegen of that query's generated classes
        # into the measurement (observed 3-4x one-shot swings on this
        # host). Probes are interleaved every PROBE_EVERY queries, so a
        # contention episode that spans one query's whole best-of-3
        # shows in the artifact.
        names = [n for n in HEADLINE if _bench_impl(n) is not None]
        queries_runs: dict[str, list[float]] = {}
        probes: list[float] = [probe()]
        for i, name in enumerate(names):
            fn = _bench_impl(name)
            queries_runs[name] = _runs(
                lambda: _materialize(fn(spark, SF_DIR)))
            if (i + 1) % PROBE_EVERY == 0 or i == len(names) - 1:
                probes.append(probe())

        queries = {n: min(runs) for n, runs in queries_runs.items()}
        total = sum(queries.values())
        # the portable (md5 band family, oracle-replayable) flagship,
        # timed but NOT in the headline total: the headline measures
        # the production xxhash64 family (r4 verdict Next #2)
        portable_runs = [0.0]
        if "q_pipeline_triples" in QUERIES:
            portable_runs = _runs(lambda: _materialize(
                QUERIES["q_pipeline_triples"](spark, SF_DIR)))
        probe_block = {"samples": probes, "spread": _spread(probes)}
    finally:
        spark.stop()

    # The harness keeps only a bounded TAIL of stdout and parses the
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
        "note": (f"{SCALE_LO}->{SCALE_HI} cores on a {CPUS}-core "
                 "session (SCALE_HI = max(4, CPUS // 2), SCALE_LO = "
                 "SCALE_HI // 4); 1 same-shape heavy warm-up + "
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
    if sys.argv[1:2] == ["--level"]:
        _level(sys.argv[2], int(sys.argv[3]))
    else:
        main()
