"""SparkSession construction tuned for the KG-construction pipeline.

Centralizes the settings that matter at 100 TB scale and maps them onto
the local[N] sandbox (SURVEY.md §4.2-4.3):

- AQE on (runtime coalescing + skew-join splitting) — the hub-entity
  skew handling mandated by BASELINE.json:north_rule.
- Arrow on, with a bounded records-per-batch so the inference pandas
  UDF sees model-sized batches (SURVEY.md §4.2 "deterministic
  batching").
- shuffle.partitions sized to cores locally; on a real cluster this is
  AQE-coalesced from a high initial value instead.
- UTC session timezone so parquet timestamps compare bit-stably against
  the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One Arrow batch == one Backend.generate() call in the inference UDF;
# no re-batching python-side (SURVEY.md §4.2). 4096 over 512 cut the
# fused extraction stage ~20% at local[16] (per-batch Arrow IPC +
# pandas construction overhead amortizes; the rows are one-sentence
# strings, so even 4096 rows is ~1 MB per batch). Real model adapters
# fan the list out into per-request calls internally (operators/
# model.py), so the Arrow batch size is an IPC-efficiency knob, not a
# request-size commitment.
ARROW_BATCH_ROWS = 4096

# Driver JVM flags (r3 stall hunt, full writeup in BENCH/BASELINE.md):
# jstack during a 47 s run of a 5 s query showed ALL executor threads
# idle and the time going to lazy heap page faults + JIT churn —
# -Xms reserves the heap but the host only backs pages on first touch,
# so early timed runs stall tens of seconds faulting in gigabytes.
# +AlwaysPreTouch moves that cost to JVM startup (measured: the same
# loop went from 5-69 s bimodal to a stable 4.4-10.9 s). The enlarged
# code cache stops sweeper/recompile churn across a many-query session
# (hundreds of distinct generated whole-stage classes).
DRIVER_JVM_FLAGS = "-XX:+AlwaysPreTouch -XX:ReservedCodeCacheSize=2g"


def driver_mem() -> str:
    """The driver heap: ``$SPARK_DRIVER_MEM`` when set, else 40% of the
    host's ``MemTotal``, capped at 24g.

    Single-JVM local mode, so this heap also runs every task. At 32
    concurrent tasks an 8g heap GC-thrashes (measured: +60% wall at
    local[32], none at local[8]), which is where the 24g cap comes
    from (a 128 GiB host). A fixed 24g on a smaller host lets the JVM
    grow past physical memory and the kernel OOM-kills it; 40% leaves
    room for the Python workers and off-heap buffers beside it."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(ln.split()[1]) for ln in f
                       if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{min(24 * 1024, kib * 2 // 5 // 1024)}m"


def build_session(
    cores: int | None = None,
    app_name: str = "promptner_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``cores=None`` respects an existing session / the driver's master;
    an explicit ``cores`` forces ``local[cores]`` (bench harness uses
    this to evidence N→4N scaling per BASELINE.json:north_rule).
    """
    builder = SparkSession.builder.appName(app_name)
    if cores is not None:
        builder = builder.master(f"local[{cores}]")
    n_shuffle = shuffle_partitions or (cores * 2 if cores else 32)
    conf = {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # AQE coalesce floor. With parallelismFirst (default) the
        # coalesce target is max(shuffleBytes/parallelism, THIS), so at
        # cluster scale the size term dominates and this floor is inert;
        # it only bites when a whole exchange is smaller than
        # cores x 1 MB, where the default 1m floor collapses the read to
        # ONE task and serializes every expression pipelined after it
        # (r6 stage audit: 0.5-1.7 s single-task tails in the dedup/
        # prep/triples queries — the post-shuffle work, not the fetch,
        # is the cost). 64k keeps such stages wide; per-partition
        # overhead at 64 KB is microseconds against the saved serial
        # work. Scale-adaptive by construction — nothing here is tuned
        # to this box's core count.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize":
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Whole-stage-codegen methods above ~8 KB of bytecode are
        # refused by the JVM JIT (-XX:DontCompileHugeMethods, default
        # limit 8000) and run as INTERPRETED bytecode forever — worse
        # than Spark's own non-codegen fallback. Spark's default
        # hugeMethodLimit (65535) only avoids the JVM's hard 64 KB
        # method cap, so stages in the 8-64 KB band ship uncompilable
        # code: measured r6 on the curate gate stage (75-trigram
        # langid scores + quality + argmax in one stage), 4.47 s vs
        # 2.35 s per 100k rows once the limit matches the JIT's.
        # Data-size-independent — the generated code is a function of
        # the PLAN, not the input, so this holds on any cluster.
        "spark.sql.codegen.hugeMethodLimit":
            os.environ.get("SPARK_GRAFT_HUGE_METHOD_LIMIT", "8000"),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
        # Single-JVM local mode: the driver heap IS the executor heap
        # (see driver_mem). On a real cluster this maps to executor
        # memory sized to partition volume, not a driver setting.
        "spark.driver.memory": driver_mem(),
        "spark.driver.extraJavaOptions": DRIVER_JVM_FLAGS,
    }
    if extra_conf:
        extra = dict(extra_conf)
        # extraJavaOptions MERGES with the defaults (callers pass -Xms
        # etc.; losing AlwaysPreTouch would reintroduce the page-fault
        # stalls documented above)
        if "spark.driver.extraJavaOptions" in extra:
            extra["spark.driver.extraJavaOptions"] = (
                DRIVER_JVM_FLAGS + " "
                + extra["spark.driver.extraJavaOptions"])
        conf.update(extra)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
