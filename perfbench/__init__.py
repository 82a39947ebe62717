"""Benchmark for the engine: see BENCHMARK.json and run.py."""
