"""bench.py's module-level defaults, checked without a Spark session:
the core count and the scaling pair come from the host, and importing
the harness starts nothing."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter with every SPARK_GRAFT_* variable unset;
# any process start during the import raises.
_IMPORT_PROBE = r"""
import json, os, subprocess, sys
def refuse(*a, **k):
    raise AssertionError("importing bench started a process")
subprocess.Popen = refuse
os.fork = refuse
os.posix_spawn = refuse
sys.path.insert(0, sys.argv[1])
import bench
print(json.dumps({"cpus": bench.CPUS, "lo": bench.SCALE_LO,
                  "hi": bench.SCALE_HI,
                  "affinity": len(os.sched_getaffinity(0)),
                  "pyspark": "pyspark" in sys.modules}))
"""


def test_bench_import_starts_nothing_and_defaults_follow_host():
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    out = subprocess.run([sys.executable, "-c", _IMPORT_PROBE, REPO],
                         env=env, capture_output=True, text=True, check=True)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert not got["pyspark"]            # no JVM can have been launched
    assert got["cpus"] == got["affinity"]
    assert got["hi"] == max(4, got["cpus"] // 2)
    assert got["lo"] == got["hi"] // 4


def test_every_headline_query_resolves():
    sys.path.insert(0, REPO)
    import bench

    missing = [n for n in bench.HEADLINE if bench._bench_impl(n) is None]
    assert missing == []
