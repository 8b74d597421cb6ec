"""Benchmark of the extraction engine; see README.md."""
