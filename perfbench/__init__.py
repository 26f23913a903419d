"""Benchmark of the speech pipeline; see perfbench/README.md."""
