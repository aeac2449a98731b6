"""Benchmark harness for sierradb_spark (see README.md)."""
