"""Benchmark of the engine's workloads: see ``perfbench/run.py``."""
