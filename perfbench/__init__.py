"""Benchmark of the Customer-360 lakehouse engine; see README.md."""
