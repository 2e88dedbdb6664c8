"""Benchmark for the CDC replication engine; run ``python3 perfbench/run.py``."""
