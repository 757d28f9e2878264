"""Benchmark for the IR engine: see run.py and BENCHMARK.json."""
