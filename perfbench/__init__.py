"""Benchmark of the signing engine: see README.md; entry point run.py."""
