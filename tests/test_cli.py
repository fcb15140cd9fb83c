"""`python -m promptner_spark` CLI (promptner_spark/__main__.py): the
spark-submit-shaped operational entry. In-process invocation (main())
so the session fixture is reused; the argv surface is exactly what a
cluster operator types."""

from __future__ import annotations

import gzip

from tests.test_warc_source import _http, _record


def test_cli_parquet_run_and_resume(spark, sf_dir, tmp_path):
    from promptner_spark.__main__ import main

    ckpt = str(tmp_path / "ckpt")
    argv = ["--sf-dir", sf_dir, "--checkpoint", ckpt,
            "--shuffle-partitions", "4"]
    s1 = main(argv)
    assert s1["stages"]["triple_counts"] > 0
    assert s1["stages"]["mentions"] > 0

    # r5: the summary comes from the lineage manifests (one tiny job
    # over kilobyte _manifest tables), NOT .count() re-scans of every
    # just-written stage — and the manifest sums must equal the real
    # row counts
    import inspect

    import promptner_spark.__main__ as cli

    assert ".count()" not in inspect.getsource(cli.main)
    assert "stage_row_counts" in inspect.getsource(cli.main)
    import os
    for stage, n in s1["stages"].items():
        actual = spark.read.parquet(
            os.path.join(ckpt, stage, "data")).count()
        assert n == actual, (stage, n, actual)

    # resume: same command re-reads completed stages (counts identical)
    # after poisoning the source path — proof nothing recomputes
    s2 = main(["--sf-dir", str(tmp_path / "nonexistent"),
               "--checkpoint", ckpt, "--shuffle-partitions", "4"])
    assert s2["stages"] == s1["stages"]

    # per-stage walls from the _SUCCESS_STAGE markers: every stage,
    # non-negative, and a resume reports the walls of the run that
    # wrote the stages
    for s in (s1, s2):
        walls = s["stage_wall_ms"]
        assert set(s["stages"]) <= set(walls)
        assert {"aliases", "resolution", "linked"} <= set(walls)
        assert all(isinstance(v, int) and v >= 0 for v in walls.values())
    assert s2["stage_wall_ms"] == s1["stage_wall_ms"]

    # codegen compiled during each run, from the JVM's counters
    for s in (s1, s2):
        cg = s["codegen"]
        assert set(cg) == {"classes", "compile_ms"}
        assert all(isinstance(v, int) and v >= 0 for v in cg.values())


def test_cli_warc_ingest(spark, tmp_path):
    from promptner_spark.__main__ import main

    body = b"<html><body><p>spark feeds a hash join and a window</p></body></html>"
    warc = (_record("warcinfo", None, "2024-01-01T00:00:00Z", b"x")
            + _record("response", "https://ex.com/1",
                      "2024-01-01T00:00:01Z", _http(body)))
    p = tmp_path / "crawl-00000.warc.gz"
    p.write_bytes(gzip.compress(warc))

    s = main(["--warc", str(tmp_path / "*.warc.gz"),
              "--checkpoint", str(tmp_path / "ckpt"),
              "--shuffle-partitions", "4", "--buckets", "4"])
    assert s["stages"]["pages"] == 1
    # "spark", "hash join", "window" co-occur in the one sentence
    assert s["stages"]["triple_counts"] == 3
