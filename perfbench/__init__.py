"""Extraction benchmark: end-to-end and per-layer metrics for the workloads
declared in BENCHMARK.json. Entry point: ``python3 perfbench/run.py``."""
