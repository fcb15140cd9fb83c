"""Benchmark for promptner_spark: see perfbench/run.py."""
