"""Benchmark for the callysto_spark engine; run it with ``python3 perfbench/run.py``."""
