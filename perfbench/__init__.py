"""Benchmark of the ER engine; entry point: perfbench/run.py."""
