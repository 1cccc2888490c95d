"""Benchmark of the samza_spark engine: see run.py."""
