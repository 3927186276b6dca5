"""Benchmark of the billing pipeline and the query catalog; see run.py."""
