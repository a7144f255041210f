"""Benchmark of the honas_spark sketch library (see run.py)."""
