"""Benchmark for the Spark time-series engine: see run.py and README.md."""
