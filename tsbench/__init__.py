"""Benchmark of the tsdb_spark engine; see run.py and harness.py."""
