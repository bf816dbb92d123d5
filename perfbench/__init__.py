"""Benchmark of the declared query engine; see run.py."""
