"""Benchmark of the engine's public surface; entry point ``run.py``."""
