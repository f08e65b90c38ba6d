"""Benchmark for the CDC lakehouse engine; see README.md."""
