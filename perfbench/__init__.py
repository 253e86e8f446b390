"""Benchmark for the CDC ingest engine; entry point is ``perfbench/run.py``."""
