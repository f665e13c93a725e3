"""Benchmark for the cloudvectordb_spark engine; see README.md."""
