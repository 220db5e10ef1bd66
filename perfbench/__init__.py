"""Benchmark of the DGIM traffic pipeline; run ``python3 perfbench/run.py``."""
