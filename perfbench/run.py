"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. Sizes the Spark session from the host
(``local[nproc]``, driver heap from ``MemTotal``), generates the
workload's input from the seed, runs it, checks every output, and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace
1`` runs the traced variant (event log on, a checkpoint at every layer
boundary) and reports the per-layer metrics. A fuller record of the
run goes to ``perfbench/results/<workload>-s<seed>-t<trace>.json``.

Everything the run writes stays under ``perfbench/work`` and
``perfbench/results``; the work directory is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# A traced run fails when its layer walls cover less of the traced
# wall than this.
MIN_COVERAGE = 0.98


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


# ---- host sizing ----------------------------------------------------

def host() -> dict:
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("MemTotal:"))
    cores = len(os.sched_getaffinity(0))
    # A quarter of the host's memory, at most 4 GiB: the inputs are
    # small, and the host is shared.
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    return {"nproc": cores, "mem_total_mb": mem_kb // 1024,
            "heap": f"{heap_mb}m", "python": platform.python_version()}


def stamp_versions(h: dict, spark) -> None:
    """Spark and Java versions, read from the live session."""
    h["spark"] = spark.version
    h["java"] = spark.sparkContext._jvm.java.lang.System.getProperty(
        "java.version")


def spark_env(h: dict, work: str) -> dict[str, str]:
    """Environment for the JVM and its Python workers: the checkout on
    the workers' path, the heap from the host, and every scratch file
    under ``work``."""
    return {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_DRIVER_MEM": h["heap"],
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM, the spark-submit launcher included: no
        # /tmp/hsperfdata files, temp files under the work directory
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                             + os.path.join(work, "tmp"),
    }


def build_spark(h: dict, work: str, app: str, extra: dict):
    """The library's session builder at ``local[nproc]``; shuffle and
    temp files under the run's work directory."""
    from promptner_spark.session import build_session
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xms{h['heap']}",
        **extra,
    }
    return build_session(cores=h["nproc"], app_name=app, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---- metrics --------------------------------------------------------

def end_to_end(ops, docs_per_op: int, setup_s: float,
               peak_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "docs_per_s": docs_per_op / statistics.median(o.wall_s for o in ops),
        "peak_rss_mb": peak_mb,
    }


def per_layer(tr: dict, ledger: dict, setup: dict, workers_mb: float,
              names) -> dict:
    """Every per-layer metric; a layer the workload does not run
    reports 0."""
    m = dict.fromkeys(names, 0.0)
    m["session.start_s"] = setup["start_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    for layer, wall in tr["walls"].items():
        if f"{layer}.wall_s" in m:
            m[f"{layer}.wall_s"] = wall
        g = ledger.get(layer)
        if g is None:
            continue
        for k in ("task_cpu_s", "shuffle_bytes", "spill_bytes",
                  "task_skew", "gc_s"):
            if f"{layer}.{k}" in m:
                m[f"{layer}.{k}"] = g[k]
    m.update(tr["counts"])
    if "infer" in ledger:
        m["infer.udf_other_s"] = (ledger["infer"]["heaviest_stage_run_s"]
                                  - m["infer.backend_s"])
    if "drops_traced" in tr:
        m["upkeep.jobs_per_drop"] = sum(
            ledger[g]["jobs"] for g in ("extract", "merge", "read")
            if g in ledger) / tr["drops_traced"]
    m["workers.peak_rss_mb"] = workers_mb
    m["driver.plan_build_s"] = tr["plan_build_s"]
    m["driver.codegen_compile_s"] = tr["codegen_compile_s"]
    m["driver.codegen_classes"] = tr["codegen_classes"]
    m["trace.overhead_s"] = tr["traced_s"] - tr["untraced_s"]
    m["trace.coverage"] = (sum(tr["walls"].values()) / tr["traced_s"]
                           if tr["traced_s"] else 0.0)
    return m


# ---- main -----------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "promptner_spark",
                                       "__init__.py")):
        fail(f"no promptner_spark package under {ROOT}; run from a "
             "checkout of the repository")
    e2e_units, layer_units = metric_units()
    sys.path.insert(0, ROOT)
    from perfbench import ledger as L
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    h = host()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(HERE, "results")
    os.makedirs(work, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    os.environ.update(spark_env(h, work))
    with open(os.path.join(HERE, "pins.json"), encoding="utf-8") as fh:
        pins = json.load(fh)

    wl = WORKLOADS[args.workload]()
    record: dict = {"workload": wl.name, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "host": h}
    spark = None
    try:
        with L.PeakRss() as rss:
            # Input generation (and, for an unpinned prep_funnel seed,
            # the oracle replay) is the benchmark's own work: untimed.
            t = time.perf_counter()
            record["input"] = wl.prepare(args.seed, work, pins)
            record["generate_s"] = time.perf_counter() - t
            extra = (L.eventlog_conf(os.path.join(work, "eventlog"))
                     if args.trace else {})
            # set-up: session start and the warm-up
            t0 = time.perf_counter()
            spark = build_spark(h, work, f"perfbench-{tag}", extra)
            t1 = time.perf_counter()
            wl.warmup(spark)
            t2 = time.perf_counter()
            stamp_versions(h, spark)
            setup = {"start_s": t1 - t0, "warmup_s": t2 - t1,
                     "setup_s": t2 - t0}
            record["setup"] = setup
            if args.trace:
                attempted = 1
                try:
                    tr = wl.traced(spark)
                    failures = [] if tr["ok"] else [
                        f"traced {wl.name}: {tr['why']}"]
                except Exception as exc:  # reported, with zeroed layers
                    traceback.print_exc()
                    tr = None
                    failures = [f"traced {wl.name}: {type(exc).__name__}: {exc}"]
            else:
                ops = wl.measure(spark, args.seconds)
                record["ops"] = [o.as_dict() for o in ops]
                record["op_p50_s"] = statistics.median(o.wall_s for o in ops)
                attempted = len(ops)
                failures = [f"{o.name}: {o.error}" for o in ops if not o.ok]
            stop_spark(spark)
            spark = None
        if args.trace:
            metrics = dict.fromkeys(layer_units, 0.0)
            if tr is not None:
                ledger = L.read_eventlog(os.path.join(work, "eventlog"))
                metrics = per_layer(tr, ledger, setup, rss.workers_peak_mb,
                                    layer_units)
                record["traced"] = tr
                record["ledger"] = ledger
                cov = metrics["trace.coverage"]
                if cov < MIN_COVERAGE:
                    failures.append(
                        f"traced {wl.name}: layer walls cover {cov:.3f} of "
                        f"the traced wall, below {MIN_COVERAGE}")
            failed = min(len(failures), attempted)
            units = layer_units
        else:
            metrics = end_to_end(ops, wl.docs_per_op(), setup["setup_s"],
                                 rss.peak_mb)
            failed = len(failures)
            units = e2e_units
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    record["failed_frac"] = failed / attempted
    record["failures"] = failures
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": metrics[k], "unit": u}
                       for k, u in units.items()}}
    record["result"] = out
    with open(os.path.join(results, f"{tag}.json"), "w",
              encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
