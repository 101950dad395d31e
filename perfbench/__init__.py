"""Benchmark of the engine: ``python3 perfbench/run.py --help``."""
