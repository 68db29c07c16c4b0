"""Benchmark of the package: see README.md in this directory."""
