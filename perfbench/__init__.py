"""Benchmark for symspellpy_spark; see run.py."""
