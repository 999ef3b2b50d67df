"""Benchmark of the transcript feature engine; see README.md."""
