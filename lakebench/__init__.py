"""Benchmark of the icedb_spark engine; see run.py."""
