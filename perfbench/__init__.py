"""Benchmark harness for the jobs users run; see BENCHMARK.json and run.py."""
