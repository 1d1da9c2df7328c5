"""Benchmark harness for the dedup engine; see README.md."""
