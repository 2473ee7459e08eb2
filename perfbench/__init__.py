"""Benchmark for the job engine: seeded workloads timed through the
engine's public calls. Entry point: ``python3 perfbench/run.py``."""
