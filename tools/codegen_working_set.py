"""Codegen working set of the query registry: run every ``QUERIES``
entry twice in one session against one corpus directory and print the
classes Spark compiled for each query on each pass.

    python tools/codegen_working_set.py SF_DIR [query ...]

The first pass's total is the number of distinct classes the registry
needs in one JVM. With a compiled-class cache large enough to hold
them (``session.CODEGEN_CACHE_ENTRIES``) the second pass compiles only
what a plan builds differently on a repeat call; a second pass close to
the first means the cache is evicting.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def main() -> int:
    from promptner_spark.plans.queries import QUERIES
    from promptner_spark.session import build_session, codegen_compiled

    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    sf_dir = sys.argv[1]
    names = sys.argv[2:] or list(QUERIES)
    spark = build_session(cores=os.cpu_count() or 4)
    print("spark.sql.codegen.cache.maxEntries =",
          spark.conf.get("spark.sql.codegen.cache.maxEntries", "100"))
    per_pass: list[dict[str, tuple[int, float]]] = []
    for p in (1, 2):
        counts = {}
        for name in names:
            before = codegen_compiled(spark)
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).toPandas()
            wall = time.perf_counter() - t0
            after = codegen_compiled(spark)
            counts[name] = (after[0] - before[0], after[1] - before[1])
            print(f"pass {p} {name:24s} {counts[name][0]:5d} classes "
                  f"{counts[name][1]:7.2f} s compile {wall:7.2f} s wall",
                  flush=True)
        per_pass.append(counts)
    print(f"{'query':24s} {'pass1':>6s} {'pass2':>6s}")
    for name in names:
        print(f"{name:24s} {per_pass[0][name][0]:6d} "
              f"{per_pass[1][name][0]:6d}")
    for p, counts in enumerate(per_pass, 1):
        print(f"pass {p} total: {sum(c for c, _ in counts.values())} classes, "
              f"{sum(s for _, s in counts.values()):.1f} s compile")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
