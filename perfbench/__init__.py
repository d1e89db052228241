"""Benchmark for solarpos-spark; see perfbench/README.md and BENCHMARK.json."""
