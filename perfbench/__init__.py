"""Benchmark of the exporter: see perfbench/README.md."""
