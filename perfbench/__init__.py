"""Benchmark of the webtext dedup engine (see README.md)."""
