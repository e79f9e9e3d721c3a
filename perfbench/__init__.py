"""Benchmark of the CDC ingest engine: see README.md."""
