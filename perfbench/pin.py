"""Pin the expected output digests per seed into perfbench/pins.json.

    python3 perfbench/pin.py 0 63

- ``prep_funnel``: the DuckDB oracle's replay of ``q_prep`` on the
  seed's corpus (independent of Spark).
- ``kg_build``: the Spark build's triples digest at the commit that
  runs this script. No oracle replays the vocabulary-scaled build, so
  this pin records today's output; a later change that alters it
  shows as failed operations.

Seeds outside the pinned range still run: prep_funnel replays the
oracle live, kg_build checks that every iteration and the traced build
agree with the warm-up.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run  # noqa: E402
from perfbench.workloads import KgBuild, PrepFunnel  # noqa: E402


def main() -> int:
    lo, hi = int(sys.argv[1]), int(sys.argv[2])
    path = os.path.join(HERE, "pins.json")
    with open(path, encoding="utf-8") as fh:
        pins = json.load(fh)
    work = os.path.join(HERE, "work", f"pin-{os.getpid()}")
    h = run.host()
    os.environ.update(run.spark_env(h, work))
    spark = None
    try:
        for seed in range(lo, hi + 1):
            p = PrepFunnel()
            p.prepare(seed, work, {})   # no pins: replays the oracle
            pins.setdefault(p.name, {})[str(seed)] = p.want
        spark = run.build_spark(h, work, "perfbench-pin", {})
        for seed in range(lo, hi + 1):
            k = KgBuild()
            k.prepare(seed, work, {})
            pins.setdefault(k.name, {})[str(seed)] = k._once(spark, k.dir)
            print(seed, pins[k.name][str(seed)], pins[p.name][str(seed)],
                  flush=True)
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for v in pins.values():
        v_sorted = dict(sorted(v.items(), key=lambda kv: int(kv[0])))
        v.clear()
        v.update(v_sorted)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(pins, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
