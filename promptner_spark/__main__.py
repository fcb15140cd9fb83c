"""Cluster entry point: ``python -m promptner_spark`` (or the same
file via ``spark-submit --py-files /tmp/promptner_spark.zip``) runs
the resumable KG-construction pipeline end-to-end and prints ONE JSON
summary line — the north_rule's operational shape (``spark-submit
--py-files`` at corpus scale, resumable from checkpoint).

    # synthetic parquet corpus
    python -m promptner_spark --sf-dir /root/testdata/sf0.01 \
        --checkpoint /tmp/kg_ckpt

    # a Common-Crawl-style crawl directory (WARC ingest)
    python -m promptner_spark --warc '/data/crawl/*.warc.gz' \
        --checkpoint /tmp/kg_ckpt --buckets 256

Every stage (pages → sentences → mentions → aliases → resolution →
linked → nodes → triples → triple_counts) is a checkpointed parquet table with per-partition
lineage manifests (plans/checkpoint.py); re-running the same command
after a crash re-executes only incomplete stages. On a cluster, omit
--cores so the session respects the submitted master, and size
--partitions/--buckets to the executor count.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(prog="python -m promptner_spark")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--sf-dir", help="corpus dir with documents.parquet")
    src.add_argument("--warc", help="WARC path/glob (crawl ingest)")
    ap.add_argument("--checkpoint", required=True,
                    help="checkpoint root (stages resume from here)")
    ap.add_argument("--cores", type=int, default=None,
                    help="force local[N]; omit on a cluster")
    ap.add_argument("--partitions", type=int, default=None,
                    help="UDF-stage parallelism hint")
    ap.add_argument("--buckets", type=int, default=16,
                    help="url/subject hash buckets for the graph tables")
    ap.add_argument("--no-fuzzy", action="store_true",
                    help="disable MinHash-LSH fuzzy linking")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args(argv)

    from .plans.pipeline import run_pipeline
    from .session import build_session, codegen_compiled

    spark = build_session(cores=args.cores, app_name="promptner_kg",
                          shuffle_partitions=args.shuffle_partitions)
    compiled0 = codegen_compiled(spark)
    pages_source = None
    if args.warc:
        from .sources.warc import pages_from_warc
        warc_path = args.warc

        def pages_source():
            return pages_from_warc(spark, warc_path)

    res = run_pipeline(
        spark, args.sf_dir or "", args.checkpoint,
        partitions=args.partitions, fuzzy_link=not args.no_fuzzy,
        n_buckets=args.buckets, pages_source=pages_source)
    del res   # every stage is checkpointed; the summary reads manifests
    # row counts from the per-partition lineage manifests (one tiny
    # job over kilobyte tables) — not count re-scans of the
    # just-written stages, which on a real corpus would be six extra
    # full parquet reads (r4 verdict)
    from .plans.checkpoint import stage_row_counts, stage_walls_ms
    summary = {
        "checkpoint": args.checkpoint,
        "stages": stage_row_counts(
            spark, args.checkpoint,
            ["pages", "sentences", "mentions", "nodes",
             "triples", "triple_counts"]),
        # per-stage write walls from the completion markers (no job)
        "stage_wall_ms": stage_walls_ms(
            args.checkpoint,
            ["pages", "sentences", "mentions", "aliases", "resolution",
             "linked", "nodes", "triples", "triple_counts"]),
    }
    # classes Spark compiled for this run and the time it took (the
    # JVM's counters, so a session reused across runs reports only
    # this run's share)
    classes, secs = (b - a for a, b in zip(compiled0, codegen_compiled(spark)))
    summary["codegen"] = {"classes": classes,
                          "compile_ms": round(secs * 1e3)}
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    sys.exit(0 if main() else 1)
