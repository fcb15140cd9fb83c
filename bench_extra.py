"""Round-6 measurement harness (guide §1) — NOT the driver bench.

Per-query isolation with the noop sink, same session shape as the
frozen bench.py (cores=$SPARK_GRAFT_CPUS, -Xms pinned, tmpfs shuffle
dirs), plus what bench.py deliberately leaves out:

- ``--explain``: dump ``.explain("formatted")`` per query to
  plans/r06/<query>_<tag>.txt (the judge-checkable plan artifacts).
- ``--stages``: enable the UI and pull per-stage wall/metrics from the
  REST API after each query, so the time is attributed to operators
  (guide §7.1) instead of guessed.
- positional args: subset of query names (default: the full HEADLINE
  list + the portable flagship).

Usage:
  python bench_extra.py                         # time all headline queries
  python bench_extra.py q_prep q_curate --stages
  python bench_extra.py --explain before        # dump *_before.txt plans
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import CPUS, HEADLINE, SF_DIR, _bench_impl, _fast_local_dir


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = [a for a in sys.argv[1:]]
    explain_tag = None
    want_stages = False
    n_runs = 3
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--explain":
            explain_tag = args[i + 1]
            i += 2
        elif a == "--stages":
            want_stages = True
            i += 1
        elif a == "--runs":
            n_runs = int(args[i + 1])
            i += 2
        else:
            names.append(a)
            i += 1
    if not names:
        names = list(HEADLINE)

    from promptner_spark.session import build_session, driver_mem

    extra = {"spark.driver.extraJavaOptions":
             "-Xms" + driver_mem()}
    if _fast_local_dir():
        extra["spark.local.dir"] = _fast_local_dir()
    if want_stages:
        extra["spark.ui.enabled"] = "true"
    spark = build_session(cores=CPUS, app_name="bench_extra",
                         extra_conf=extra)
    sc = spark.sparkContext

    # same warm-up discipline as bench.py
    from promptner_spark.plans.pipeline import build_pipeline
    warm = build_pipeline(spark, SF_DIR)
    _materialize(warm.triples)
    warm.unpersist()
    warm_v = build_pipeline(spark, SF_DIR, with_verify=True)
    _materialize(warm_v.mentions)
    warm_v.unpersist()

    def stage_snapshot():
        if not want_stages:
            return []
        import urllib.request
        base = sc.uiWebUrl
        app = sc.applicationId
        with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app}/stages?status=complete"
        ) as r:
            return json.loads(r.read())

    out = {}
    for name in names:
        fn = _bench_impl(name)
        if fn is None:
            continue
        if explain_tag:
            os.makedirs("plans/r06", exist_ok=True)
            df = fn(spark, SF_DIR)
            txt = sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(f"plans/r06/{name}_{explain_tag}.txt", "w") as f:
                f.write(txt)
            _materialize(df)   # keep cache-release protocol moving
            continue
        runs = []
        pre_ids = {s["stageId"] for s in stage_snapshot()}
        for r in range(n_runs):
            sc.setJobDescription(f"{name} run{r}")
            t0 = time.time()
            _materialize(fn(spark, SF_DIR))
            runs.append(round(time.time() - t0, 3))
        sc.setJobDescription(None)
        rec = {"runs": runs, "best": min(runs)}
        if want_stages:
            stages = [s for s in stage_snapshot()
                      if s["stageId"] not in pre_ids]
            rec["stages"] = [
                {"id": s["stageId"], "name": s["name"].split("\n")[0],
                 "desc": (s.get("description") or "")[:60],
                 "tasks": s["numCompleteTasks"],
                 "ms": s.get("executorRunTime"),
                 "submitted": s.get("submissionTime"),
                 "completed": s.get("completionTime"),
                 "shuffle_read": s.get("shuffleReadBytes"),
                 "shuffle_write": s.get("shuffleWriteBytes"),
                 "input": s.get("inputBytes")}
                for s in sorted(stages, key=lambda s: s["stageId"])]
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)

    total = sum(r["best"] for r in out.values())
    print(json.dumps({"total_best": round(total, 3),
                      "queries": {n: r["best"] for n, r in out.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
