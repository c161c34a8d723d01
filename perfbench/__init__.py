"""Benchmark of the engine: see run.py for how to run it."""
