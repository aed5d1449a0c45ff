"""Benchmark of the PTA user path and the query catalog; see run.py."""
