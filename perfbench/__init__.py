"""Benchmark for binaryvectordb_spark; see README.md."""
